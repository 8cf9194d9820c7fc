package graftbench

import java.nio.file.{Files, Path}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Config
import graft.operators.Sync

/** The reference's keyed sync job as one YAML task through `Config.run`: a
  * single-file CSV delta → `lineparser` source → `addField` casts →
  * `upsertParquet` into a day-partitioned parquet table. Nearly all of its
  * work is in `core`/`sources`/`operators` (LineParser,
  * `Sync.upsertPartitioned`, `FileSink.overwritePartitions`); it reads and
  * rewrites the partitions it touches and runs no streaming or `ext` code.
  *
  * Generator preconditions of the current code: the delta is ONE file
  * (LineParser numbers lines across a whole directory, so a second file's
  * header would parse as data), and every update keeps its key's partition
  * (`upsertPartitioned` only removes old versions from touched partitions).
  */
object EtlSync {
  val Days = 365
  val HotDays = 30
  val RowsPerDay = 1500
  val Updates = 12000
  val Inserts = 8000
  val BaseMs = 1700000000000L
  val Statuses: Array[String] = Array("new", "paid", "shipped", "partial, refunded", "closed")
  val Columns: Seq[String] =
    Seq("order_id", "day", "customer_id", "status", "amount", "qty", "updated_ms")

  private def yaml(csv: Path, target: Path): String =
    s"""name: etl_sync
       |source:
       |  type: lineparser
       |  path: "$csv"
       |  headLine: 1
       |  dataStart: 2
       |transforms:
       |  - op: addField
       |    fields:
       |      order_id: "cast(order_id as bigint)"
       |      day: "cast(day as int)"
       |      customer_id: "cast(customer_id as bigint)"
       |      amount: "cast(amount as double)"
       |      qty: "cast(qty as int)"
       |      updated_ms: "cast(updated_ms as bigint)"
       |sink:
       |  type: upsertParquet
       |  path: "$target"
       |  keys: [order_id]
       |  partitionCol: day
       |""".stripMargin

  /** Base table: `Days × RowsPerDay` orders, key `order_id`, order `i` in day
    * `i % Days`, one file per day partition.
    */
  private def writeBase(spark: SparkSession, path: Path, seed: Long): Unit = {
    def h(salt: Long, mod: Long) = pmod(xxhash64(col("id"), lit(seed * 31 + salt)), lit(mod))
    spark.range(0, Days.toLong * RowsPerDay).select(
        col("id").as("order_id"),
        h(1, 200000L).as("customer_id"),
        element_at(array(Statuses.toSeq.map(lit): _*), (h(2, Statuses.length) + 1).cast("int"))
          .as("status"),
        (h(3, 100000L) / 100.0).as("amount"),
        (h(4, 20L) + 1).cast("int").as("qty"),
        (lit(BaseMs) + col("id")).as("updated_ms"),
        (col("id") % Days).cast("int").as("day"))
      .repartition(col("day"))
      .write.partitionBy("day").parquet(path.toString)
  }

  /** Delta rows, shuffled: `Updates` distinct existing keys of the latest
    * `HotDays` days with new values in their own partition, and `Inserts`
    * new keys in those days. The last field marks updates.
    */
  private def delta(seed: Long): Array[Row] = {
    val rnd = new scala.util.Random(seed)
    val hot = Array.range(0, HotDays * RowsPerDay)
    for (i <- 0 until Updates) {
      val j = i + rnd.nextInt(hot.length - i)
      val t = hot(i); hot(i) = hot(j); hot(j) = t
    }
    def values(id: Long, day: Int, upd: Boolean) = Row(id, day, rnd.nextInt(200000).toLong,
      Statuses(rnd.nextInt(Statuses.length)), (rnd.nextInt(100000) / 100.0),
      rnd.nextInt(20) + 1, BaseMs + 10000000L + rnd.nextInt(1000000), upd)
    val ups = (0 until Updates).map { i =>
      val day = Days - HotDays + hot(i) % HotDays
      values(day + Days.toLong * (hot(i) / HotDays), day, upd = true)
    }
    val ins = (0 until Inserts).map { i =>
      values(Days.toLong * RowsPerDay + i, Days - HotDays + rnd.nextInt(HotDays), upd = false)
    }
    rnd.shuffle(ups ++ ins).toArray
  }

  private def writeCsv(path: Path, rows: Array[Row]): Unit = {
    def field(v: Any): String = v match {
      case s: String if s.contains(",") => "\"" + s + "\""
      case d: Double => "%.2f".formatLocal(java.util.Locale.ROOT, d)
      case x => x.toString
    }
    val w = Files.newBufferedWriter(path)
    try {
      w.write(Columns.mkString(",")); w.newLine()
      rows.foreach { r =>
        w.write((0 until Columns.size).map(i => field(r.get(i))).mkString(",")); w.newLine()
      }
    } finally w.close()
  }

  private def hot(spark: SparkSession, table: Path): DataFrame =
    spark.read.option("basePath", table.toString)
      .parquet((Days - HotDays until Days).map(d => table.resolve(s"day=$d").toString): _*)
      .select(Columns.map(col): _*)

  private def listing(dir: Path): Set[(String, Long)] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(f => (f.getFileName.toString, Files.size(f))).toSet
    finally s.close()
  }

  /** Failed rows of one synced target, and the updated keys whose old
    * version is gone. The latest `HotDays` partitions must hold exactly
    * `expected` — the base rows without a delta key plus every delta row, so
    * no duplicate keys, no stale versions, every delta key with the delta's
    * values; the other partitions must keep the base's files untouched.
    */
  private def check(spark: SparkSession, base: Path, target: Path,
                    expected: Map[Long, Seq[Any]], updated: Set[Long]): (Long, Long) = {
    val untouched = (0 until Days - HotDays).count(d =>
      listing(base.resolve(s"day=$d")) != listing(target.resolve(s"day=$d")))
    val seen = scala.collection.mutable.Map.empty[Long, Int]
    var bad = 0L
    val wrong = scala.collection.mutable.Set.empty[Long]
    hot(spark, target).collect().foreach { r =>
      val k = r.getLong(0)
      seen(k) = seen.getOrElse(k, 0) + 1
      if (seen(k) > 1 || !expected.get(k).contains(r.toSeq)) { bad += 1; wrong += k }
    }
    val missing = expected.keys.filterNot(seen.contains)
    bad += missing.size
    wrong ++= missing
    (untouched.toLong * RowsPerDay + bad, updated.count(k => !wrong(k)).toLong)
  }

  def run(spark0: SparkSession, ctx: Ctx): Outcome = {
    var spark = spark0
    val clock = ctx.clock
    val startupS = (clock.nowMs - ctx.launchMs) / 1000
    val g0 = clock.nowMs
    val base = ctx.work.resolve("base")
    writeBase(spark, base, ctx.seed)
    val rows = delta(ctx.seed)
    val csv = ctx.dir("delta").resolve("delta.csv")
    writeCsv(csv, rows)
    val updated = rows.filter(_.getBoolean(7)).map(_.getLong(0)).toSet
    val expected = hot(spark, base).collect().map(r => r.getLong(0) -> r.toSeq).toMap --
      rows.map(_.getLong(0)) ++ rows.map(r => r.getLong(0) -> r.toSeq.take(Columns.size))
    val genS = (clock.nowMs - g0) / 1000

    val tracer = if (ctx.trace) Some(new Tracer(spark.sparkContext, clock)) else None
    var attempted = 0L
    var failed = 0L
    val recalls = Seq.newBuilder[Double]
    val filesWritten = Seq.newBuilder[Double]

    /** One sync: fresh target copy (setup), the job (timed), the check. */
    def rep(name: String, traced: Boolean): (Double, Double) = {
      val target = ctx.work.resolve(s"target-$name")
      val c0 = clock.nowMs
      Dirs.copyTree(base, target)
      val j0 = clock.nowMs
      tracer.filter(_ => traced) match {
        case None => Config.run(spark, yaml(csv, target))
        case Some(t) => t.span("etl.job", name) {
          val df = t.span("core.config_build", name) {
            Config.build(spark, Config.parse(yaml(csv, target)))
          }
          // lazy source output is materialized at the span boundary (traced only)
          val mat = t.span("sources.lineparser", name) { val p = df.persist(); p.count(); p }
          t.span("operators.upsert", name) {
            Sync.upsertPartitioned(spark, target.toString, mat, Seq("order_id"), "day")
          }
          mat.unpersist()
        }
      }
      val jobS = (clock.nowMs - j0) / 1000
      val (bad, removed) = check(spark, base, target, expected, updated)
      attempted += rows.length
      failed += bad
      recalls += removed.toDouble / Updates
      if (traced) filesWritten += (Days - HotDays until Days)
        .map(d => Dirs.dataFiles(target.resolve(s"day=$d"))._1).sum.toDouble
      Dirs.delete(target)
      ((j0 - c0) / 1000, jobS)
    }

    // the warm-up sync pays class loading, codegen and the bulk of the JIT
    val w0 = clock.nowMs
    rep("warmup", traced = false)
    val warmS = (clock.nowMs - w0) / 1000
    val copies = Seq.newBuilder[Double]
    val jobs = Seq.newBuilder[Double]
    val tracedJobs = Seq.newBuilder[Double]
    val latency = new Samples
    // jobs are short and the partition listing is sensitive to CPU
    // contention: four repetitions keep one disturbed job off the median
    Loop.measure(clock, ctx.seconds, 4) { i =>
      val traced = ctx.trace && i % 2 == 1
      val (c, j) = rep(s"rep-$i", traced)
      println(f"etl_sync rep $i%d${if (traced) " traced" else ""}%s: job $j%.3f s, target copy $c%.3f s")
      copies += c
      if (traced) tracedJobs += j else { jobs += j; latency.add(j * 1000) }
    }
    val jobS = Stats.median(jobs.result())
    val setupS = startupS + genS + warmS + Stats.median(copies.result())
    val lat = latency.sorted
    val table = Seq(
      ("setup.startup_s", startupS, "s"), ("setup.generate_s", genS, "s"),
      ("setup.warmup_s", warmS, "s"),
      ("setup.target_copy_s", Stats.median(copies.result()), "s"),
      ("jobs", jobs.result().size.toDouble, "count"),
      ("delta_rows", rows.length.toDouble, "count"),
      ("latency_samples", lat.length.toDouble, "count"))

    val (layers, spans) = tracer match {
      case None => (ListMap.empty[String, Double], Nil)
      case Some(t) =>
        t.quiesce()
        val all = t.all
        def med(name: String)(f: Span => Double) = Tracer.medianBy(all, name)(f)
        val upsertRows = med("operators.upsert")(_.counter("output_records"))
        val overhead = Stats.median(tracedJobs.result()) - jobS
        spark = Sessions.restart(spark, 1, ctx.work)
        val (_, single) = rep("single", traced = false)
        val layerSpans = Seq("core.config_build", "sources.lineparser", "operators.upsert")
        val m = ListMap(
          "core.config_build_s" -> med("core.config_build")(_.seconds),
          "core.spark_jobs" -> med("etl.job")(t.subtree(_, "spark_jobs")),
          "sources.lineparser_s" -> med("sources.lineparser")(_.seconds),
          "sources.rows_in" -> rows.length.toDouble,
          "sources.bytes_in" -> Files.size(csv).toDouble,
          "operators.upsert_s" -> med("operators.upsert")(_.seconds),
          "operators.touched_partitions" -> rows.map(_.getInt(1)).distinct.length.toDouble,
          "operators.rows_rewritten" -> upsertRows,
          "operators.rewrite_amplification" -> upsertRows / rows.length,
          "sources.bytes_written" -> med("operators.upsert")(_.counter("output_bytes")),
          "sources.files_written" -> Stats.median(filesWritten.result()),
          "trace.overhead_s" -> overhead,
          "engine.parallel_speedup" -> single / jobS) ++
          layerSpans.flatMap(n => Tracer.EngineCounters.map(c => s"$n.$c" -> med(n)(_.counter(c))))
        (m, t.toJson)
    }

    Outcome(attempted, failed,
      ListMap(
        "setup_s" -> setupS,
        "job_s" -> jobS,
        "latency_p50_ms" -> Stats.percentile(lat, 500),
        "latency_p99_ms" -> Stats.tail(lat),
        "dup_recall" -> Stats.median(recalls.result())),
      layers, table, spans)
  }
}
