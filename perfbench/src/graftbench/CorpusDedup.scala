package graftbench

import java.nio.file.Path

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ext.{Curation, Dedup}
import graft.functions.TextFunctions
import graft.sources.FileSink

/** The training-data tier: generated corpus → `TextFunctions.cleanText` and
  * a `qualityPerMille` filter → `Dedup.exact` → `Dedup.nearDedup` (minJaccard
  * 0.8) → `Curation.splitByHash` → `FileSink.parquet`. Nearly all of its work
  * is CPU and shuffle in `functions`/`ext`, with one bulk write and no
  * `Sync` or streaming work.
  *
  * Planted ground truth: originals (kept), exact copies (identical after
  * cleaning, some differ only in markup and spacing), near copies (one word
  * replaced) and short junk documents the quality filter must drop.
  */
object CorpusDedup {
  val Docs = 4000
  val Words = 64
  val Vocab = 8000
  val ExactShare = 0.05
  val NearShare = 0.20
  val JunkShare = 0.03
  val MinQuality = 400
  val MinJaccard = 0.8

  val Original = 0
  val ExactCopy = 1
  val NearCopy = 2
  val Junk = 3
  private val Splits = Set("train", "val", "test")

  /** (id, text) documents and each id's kind. Originals take ids below
    * every copy's, so "keep the smallest id" keeps the original.
    */
  private def corpus(seed: Long): (Array[(Long, String)], Array[Int]) = {
    val rnd = new scala.util.Random(seed)
    val vocab = Iterator.continually(
        Array.fill(3 + rnd.nextInt(7))(('a' + rnd.nextInt(26)).toChar).mkString)
      .distinct.take(Vocab).toArray
    val nExact = (Docs * ExactShare).toInt
    val nNear = (Docs * NearShare).toInt
    val nJunk = (Docs * JunkShare).toInt
    val nOrig = Docs - nExact - nNear - nJunk
    val origWords = Array.fill(nOrig)(Array.fill(Words)(vocab(rnd.nextInt(Vocab))))
    val origIds = rnd.shuffle((0 until nOrig).toVector)
    val text = Array.ofDim[String](Docs)
    val kind = Array.ofDim[Int](Docs)
    for (i <- 0 until nOrig) {
      text(origIds(i)) = origWords(i).mkString(" ") + "."
      kind(origIds(i)) = Original
    }
    for (j <- 0 until nExact) {
      val id = nOrig + j
      val src = text(rnd.nextInt(nOrig))
      text(id) = if (rnd.nextBoolean()) src else "<p>" + src.replace(" ", "  \n") + "</p>"
      kind(id) = ExactCopy
    }
    for (j <- 0 until nNear) {
      val id = nOrig + nExact + j
      val w = origWords(rnd.nextInt(nOrig)).clone()
      val pos = rnd.nextInt(Words)
      var repl = vocab(rnd.nextInt(Vocab))
      while (repl == w(pos)) repl = vocab(rnd.nextInt(Vocab))
      w(pos) = repl
      text(id) = w.mkString(" ") + "."
      kind(id) = NearCopy
    }
    for (j <- 0 until nJunk) {
      val id = nOrig + nExact + nNear + j
      text(id) = Array.fill(5 + rnd.nextInt(10))(vocab(rnd.nextInt(Vocab))).mkString(" ")
      kind(id) = Junk
    }
    (rnd.shuffle(text.indices.toVector).map(i => (i.toLong, text(i))).toArray, kind)
  }

  private def cleaned(docs: DataFrame): DataFrame =
    docs.withColumn("text", TextFunctions.cleanText(col("text")))
      .filter(TextFunctions.qualityPerMille(col("text")) >= MinQuality)

  private def nearDedup(df: DataFrame): DataFrame =
    Dedup.nearDedup(df, "id", "text", minJaccard = MinJaccard)

  /** Failed documents of one output and the planted copies it removed: every
    * original kept once, every exact copy and junk document removed, every
    * row a known id with a valid split.
    */
  private def check(spark: SparkSession, out: Path, kind: Array[Int]): (Long, Long) = {
    val rows = spark.read.parquet(out.toString).select("id", "split").collect()
    val seen = new Array[Int](kind.length)
    var failed = 0L
    rows.foreach { r =>
      val id = r.getLong(0)
      if (id < 0 || id >= kind.length) failed += 1
      else {
        seen(id.toInt) += 1
        if (kind(id.toInt) == ExactCopy || kind(id.toInt) == Junk) failed += 1
      }
      if (!Splits.contains(r.getString(1))) failed += 1
    }
    var removed = 0L
    kind.indices.foreach { i =>
      if (seen(i) > 1) failed += seen(i) - 1
      if (kind(i) == Original && seen(i) == 0) failed += 1
      if ((kind(i) == ExactCopy || kind(i) == NearCopy) && seen(i) == 0) removed += 1
    }
    (failed, removed)
  }

  def run(spark0: SparkSession, ctx: Ctx): Outcome = {
    var spark = spark0
    val clock = ctx.clock
    val startupS = (clock.nowMs - ctx.launchMs) / 1000
    val g0 = clock.nowMs
    val (docs, kind) = corpus(ctx.seed)
    val input = ctx.work.resolve("corpus")
    val schema = StructType(Seq(StructField("id", LongType), StructField("text", StringType)))
    spark.createDataFrame(java.util.Arrays.asList(docs.map { case (i, t) => Row(i, t) }: _*), schema)
      .repartition(ctx.cores).write.parquet(input.toString)
    val genS = (clock.nowMs - g0) / 1000
    val planted = kind.count(k => k == ExactCopy || k == NearCopy)

    val tracer = if (ctx.trace) Some(new Tracer(spark.sparkContext, clock)) else None
    var attempted = 0L
    var failed = 0L
    val recalls = Seq.newBuilder[Double]
    val counts = scala.collection.mutable.Map.empty[String, Double]

    def materialize(df: DataFrame): DataFrame = { val p = df.persist(); p.count(); p }

    /** One dedup job over the stored corpus into a fresh output directory. */
    def rep(name: String, traced: Boolean): Double = {
      val out = ctx.work.resolve(s"out-$name")
      val j0 = clock.nowMs
      val jobS = tracer.filter(_ => traced) match {
        case None =>
          val kept = nearDedup(Dedup.exact(cleaned(spark.read.parquet(input.toString)), Seq("text"), "id"))
          FileSink.parquet(Curation.splitByHash(kept, "id"), out.toString)
          (clock.nowMs - j0) / 1000
        case Some(t) =>
          // lazy layer outputs are materialized at each span boundary
          val held = t.span("corpus.job", name) {
            val c = t.span("functions.clean_quality", name) {
              materialize(cleaned(spark.read.parquet(input.toString)))
            }
            val e = t.span("ext.exact", name) { materialize(Dedup.exact(c, Seq("text"), "id")) }
            val n = t.span("ext.near_dedup", name) { materialize(nearDedup(e)) }
            val s = t.span("ext.split", name) { materialize(Curation.splitByHash(n, "id")) }
            t.span("sources.write", name) { FileSink.parquet(s, out.toString) }
            Seq(c, e, n, s)
          }
          val jobS = (clock.nowMs - j0) / 1000
          val Seq(c, e, _, _) = held
          counts("functions.rows_out") = c.count().toDouble
          counts("ext.exact_removed") = (c.count() - e.count()).toDouble
          if (!counts.contains("ext.candidate_pairs")) t.span("ext.pair_counts", name) {
            // nearDedup's defaults, through the public pair-level calls
            val cand = Dedup.minhashCandidatePairs(e, "id", "text").persist()
            val conf = Dedup.rescoreJaccard(e, cand, "id", "text", minJaccard = MinJaccard).persist()
            counts("ext.candidate_pairs") = cand.count().toDouble
            counts("ext.confirmed_pairs") = conf.count().toDouble
            counts("ext.components") =
              Dedup.connectedComponents(conf).select("comp").distinct().count().toDouble
            cand.unpersist(); conf.unpersist()
          }
          held.foreach(_.unpersist())
          jobS
      }
      val (bad, removed) = check(spark, out, kind)
      attempted += docs.length
      failed += bad
      recalls += removed.toDouble / planted
      Dirs.delete(out)
      jobS
    }

    val w0 = clock.nowMs
    // the warm-up run pays class loading, codegen and the bulk of the JIT
    rep("warmup", traced = false)
    val warmS = (clock.nowMs - w0) / 1000
    val jobs = Seq.newBuilder[Double]
    val tracedJobs = Seq.newBuilder[Double]
    val latency = new Samples
    Loop.measure(clock, ctx.seconds, 3) { i =>
      val traced = ctx.trace && i % 2 == 1
      val j = rep(s"rep-$i", traced)
      println(f"corpus_dedup rep $i%d${if (traced) " traced" else ""}%s: job $j%.3f s")
      if (traced) tracedJobs += j else { jobs += j; latency.add(j * 1000) }
    }
    val jobS = Stats.median(jobs.result())
    val lat = latency.sorted
    val table = Seq(
      ("setup.startup_s", startupS, "s"), ("setup.generate_s", genS, "s"),
      ("setup.warmup_s", warmS, "s"), ("jobs", jobs.result().size.toDouble, "count"),
      ("docs", docs.length.toDouble, "count"), ("planted_copies", planted.toDouble, "count"),
      ("latency_samples", lat.length.toDouble, "count"))

    val (layers, spans) = tracer match {
      case None => (ListMap.empty[String, Double], Nil)
      case Some(t) =>
        t.quiesce()
        val all = t.all
        def med(name: String)(f: Span => Double) = Tracer.medianBy(all, name)(f)
        val overhead = Stats.median(tracedJobs.result()) - jobS
        spark = Sessions.restart(spark, 1, ctx.work)
        val single = rep("single", traced = false)
        val layerSpans = Seq("functions.clean_quality", "ext.exact", "ext.near_dedup",
          "ext.split", "sources.write")
        val cand = counts.getOrElse("ext.candidate_pairs", 0.0)
        val m = ListMap(
          "functions.clean_quality_s" -> med("functions.clean_quality")(_.seconds),
          "functions.rows_out" -> counts.getOrElse("functions.rows_out", 0.0),
          "ext.exact_s" -> med("ext.exact")(_.seconds),
          "ext.exact_removed" -> counts.getOrElse("ext.exact_removed", 0.0),
          "ext.near_dedup_s" -> med("ext.near_dedup")(_.seconds),
          "ext.near_spark_jobs" -> med("ext.near_dedup")(t.subtree(_, "spark_jobs")),
          "ext.candidate_pairs" -> cand,
          "ext.confirmed_pairs" -> counts.getOrElse("ext.confirmed_pairs", 0.0),
          "ext.pair_precision" ->
            (if (cand > 0) counts.getOrElse("ext.confirmed_pairs", 0.0) / cand else 0.0),
          "ext.components" -> counts.getOrElse("ext.components", 0.0),
          "ext.split_s" -> med("ext.split")(_.seconds),
          "sources.write_s" -> med("sources.write")(_.seconds),
          "sources.bytes_written" -> med("sources.write")(_.counter("output_bytes")),
          "core.spark_jobs" -> med("corpus.job")(t.subtree(_, "spark_jobs")),
          "trace.overhead_s" -> overhead,
          "engine.parallel_speedup" -> single / jobS) ++
          layerSpans.flatMap(n => Tracer.EngineCounters.map(c => s"$n.$c" -> med(n)(_.counter(c))))
        (m, t.toJson)
    }

    Outcome(attempted, failed,
      ListMap(
        "setup_s" -> (startupS + genS + warmS),
        "job_s" -> jobS,
        "latency_p50_ms" -> Stats.percentile(lat, 500),
        "latency_p99_ms" -> Stats.tail(lat),
        "dup_recall" -> Stats.median(recalls.result())),
      layers, table, spans)
  }
}
