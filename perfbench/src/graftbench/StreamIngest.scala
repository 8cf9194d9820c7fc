package graftbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._

import graft.operators.Parse
import graft.sources.FileSink
import graft.streaming.{MessageQueues, Streams}

/** The message-queue loop: `QueueSourceProvider` stream → `Parse.jsonParse`
  * → `Streams.dedupWithinWatermark` → `Streams.foreachBatchSink` appending
  * with `FileSink.parquet`. Nearly all of its work is in `streaming`, `Parse`
  * and many small `FileSink` appends; it runs no `Sync` or `ext` code.
  *
  * Two phases. Nominal: an open-loop generator (this thread, the only extra
  * one) sends at a fixed rate well under capacity, where per-batch fixed
  * cost sets latency. Drain: a pre-filled backlog consumed with `maxPerBatch`
  * fixed at the backlog size, where per-record cost sets the time.
  *
  * The admission cap is set so it never binds: `QueueMicroBatchStream`
  * reports the queue end as the batch's end offset but reads only
  * `maxPerBatch` messages of it, so a binding cap silently skips the rest.
  * The provider also reads its options by lower-case key only
  * (`maxperbatch`, `targetperpartition`); camel-case keys are ignored.
  */
object StreamIngest {
  val Rate = 15000
  val NominalShare = 0.8
  val DupShare = 0.10
  /** A duplicate repeats one of the last DupWindow fresh ids — at most a
    * few tens of ms earlier at the nominal rate, well inside the watermark.
    */
  val DupWindow = 2000
  val Watermark = "10 seconds"
  val DrainBacklog = 200000
  val WarmupBacklog = 50000
  val WarmupDrains = 2
  /** Messages sent before the paced phase, so the nominal query's first
    * batch (query start-up) is not charged to the measured latencies.
    */
  val PrimeMsgs = 1000
  val LimitMs = 2000.0
  val Keys = 10000
  val ZipfS = 1.1

  private val MsgSchema = StructType(Seq(
    StructField("id", LongType), StructField("key", StringType),
    StructField("ts_ms", LongType), StructField("payload", StringType)))

  /** Seeded message stream. Slot i is a fresh id (0, 1, 2, …) or, with
    * probability DupShare, a recent fresh id again. Bodies are assembled
    * from pre-built key and payload pieces.
    */
  final class Gen(seed: Long) {
    private val rnd = new java.util.SplittableRandom(seed)
    private val keyPieces = Array.tabulate(Keys)(k => s""","key":"k$k","ts_ms":""")
    private val payloadPieces = Array.tabulate(64) { _ =>
      val chars = Array.fill(100)(('a' + rnd.nextInt(26)).toChar)
      s""","payload":"${new String(chars)}"}"""
    }
    private val zipfCdf = {
      val w = Array.tabulate(Keys)(k => 1.0 / math.pow(k + 1, ZipfS))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    private val sb = new java.lang.StringBuilder(256)
    var fresh = 0L
    var sent = 0L

    def next(tsMs: Long): String = {
      val id =
        if (fresh > 0 && rnd.nextDouble() < DupShare) fresh - 1 - rnd.nextInt(math.min(fresh, DupWindow.toLong).toInt)
        else { fresh += 1; fresh - 1 }
      var k = java.util.Arrays.binarySearch(zipfCdf, rnd.nextDouble())
      if (k < 0) k = -k - 1
      sent += 1
      sb.setLength(0)
      sb.append("{\"id\":").append(id).append(keyPieces(math.min(k, Keys - 1)))
        .append(tsMs).append(payloadPieces(rnd.nextInt(payloadPieces.length))).toString
    }

    def planted: Long = sent - fresh
  }

  /** One micro-batch as seen by the listener. */
  final case class Batch(query: java.util.UUID, start: Long, end: Long, commitMs: Double,
                         durations: Map[String, Long], stateRows: Long, stateBytes: Long,
                         stateCommitMs: Long, backlog: Long)

  final class BatchLog extends StreamingQueryListener {
    @volatile var queue: String = ""
    val batches = new ConcurrentLinkedQueue[Batch]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      p.sources.headOption.foreach { src =>
        val start = Option(src.startOffset).map(_.trim.toLong).getOrElse(0L)
        val end = Option(src.endOffset).map(_.trim.toLong).getOrElse(start)
        val st = p.stateOperators.headOption
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        batches.add(Batch(p.id, start, end,
          EpochClock.batchCommitMs(p.timestamp, d.getOrElse("triggerExecution", 0L)), d,
          st.map(_.numRowsTotal).getOrElse(0L), st.map(_.memoryUsedBytes).getOrElse(0L),
          st.map(_.commitTimeMs).getOrElse(0L), MessageQueues.size(queue) - end))
      }
    }
    def of(q: StreamingQuery): Seq[Batch] = batches.asScala.filter(_.query == q.id).toSeq
  }

  private def start(spark: SparkSession, queue: String, maxPerBatch: Long, perPartition: Long,
                    out: Path, ckpt: Path, tracer: Option[Tracer], run: String,
                    parent: Option[Int]): StreamingQuery = {
    val raw = spark.readStream.format("graft.streaming.QueueSourceProvider")
      .option("queue", queue).option("maxperbatch", maxPerBatch.toString)
      .option("targetperpartition", perPartition.toString).load()
    val msgs = raw.select(Parse.jsonParse(col("body"), MsgSchema).as("m"))
      .select(col("m.id").as("id"), col("m.key").as("key"),
        timestamp_millis(col("m.ts_ms")).as("ts"), col("m.payload").as("payload"))
    val deduped = Streams.dedupWithinWatermark(msgs, "ts", Watermark, Seq("id"))
    Streams.foreachBatchSink(deduped, ckpt.toString, Trigger.ProcessingTime(0L)) { (batch, _) =>
      tracer match {
        case None => FileSink.parquet(batch, out.toString, SaveMode.Append)
        case Some(t) =>
          val s = t.open("streaming.micro_batch", run, parent)
          t.attach(s)
          try FileSink.parquet(batch, out.toString, SaveMode.Append) finally t.close(s)
      }
    }
  }

  /** Block until `q` has committed offset `n`; the commit time of that batch. */
  private def awaitCommitted(log: BatchLog, q: StreamingQuery, n: Long, timeoutMs: Long): Option[Double] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var done: Option[Double] = None
    while (done.isEmpty && System.currentTimeMillis() < deadline && q.exception.isEmpty) {
      done = log.of(q).find(_.end >= n).map(_.commitMs)
      if (done.isEmpty) Thread.sleep(2)
    }
    q.exception.foreach(e => throw e)
    done
  }

  /** Failed ids of one phase's output, the duplicate rows it kept, and the
    * rows it emitted. Correct output holds every fresh id 0 until `fresh`
    * exactly once and nothing else.
    */
  private def check(spark: SparkSession, out: Path, fresh: Long): (Long, Long, Long) = {
    val r = spark.read.parquet(out.toString)
      .agg(count(lit(1)), countDistinct(col("id")),
        countDistinct(when(col("id") >= 0 && col("id") < fresh, col("id"))))
      .head()
    val (n, d, dIn) = (r.getLong(0), r.getLong(1), r.getLong(2))
    ((fresh - dIn) + (n - d) + (d - dIn), n - d, n)
  }

  def run(spark0: SparkSession, ctx: Ctx): Outcome = {
    var spark = spark0
    val clock = ctx.clock
    val startupS = (clock.nowMs - ctx.launchMs) / 1000
    val log = new BatchLog
    spark.streams.addListener(log)
    val tracer = if (ctx.trace) Some(new Tracer(spark.sparkContext, clock)) else None
    var attempted = 0L
    var failed = 0L
    var plantedDups = 0L
    var keptDups = 0L

    /** Pre-fill `queue` with `n` messages whose event times advance at the
      * nominal rate; returns the generator (ground truth).
      */
    def prefill(queue: String, n: Int, seed: Long): Gen = {
      MessageQueues.clear(queue)
      val g = new Gen(seed)
      val t0 = System.currentTimeMillis()
      val chunk = new Array[String](10000)
      var i = 0
      while (i < n) {
        val m = math.min(chunk.length, n - i)
        var j = 0
        while (j < m) { chunk(j) = g.next(t0 + (i + j) * 1000L / Rate); j += 1 }
        MessageQueues.push(queue, chunk.take(m).toIndexedSeq: _*)
        i += m
      }
      g
    }

    /** Drain one pre-filled backlog: (prefill s, query start → last commit s,
      * query id).
      */
    def drain(name: String, n: Int, seed: Long, traced: Boolean)
        : (Double, Double, java.util.UUID) = {
      val queue = s"drain-$name"
      val p0 = clock.nowMs
      val g = prefill(queue, n, seed)
      val prefillS = (clock.nowMs - p0) / 1000
      val out = ctx.work.resolve(s"out-$queue")
      val ckpt = ctx.work.resolve(s"ckpt-$queue")
      log.queue = queue
      val tr = tracer.filter(_ => traced)
      val phase = tr.map(_.open("streaming.drain", name, None))
      val q0 = clock.nowMs
      val q = start(spark, queue, n, math.max(1, n / ctx.cores), out, ckpt,
        tr, name, phase.map(_.id))
      val done = try awaitCommitted(log, q, n, 120000L) finally q.stop()
      phase.foreach(s => tr.foreach(_.close(s)))
      val (bad, dupsKept, _) = check(spark, out, g.fresh)
      attempted += g.fresh
      failed += bad
      plantedDups += g.planted
      keptDups += dupsKept
      MessageQueues.clear(queue)
      Dirs.delete(out); Dirs.delete(ckpt)
      (prefillS, done.map(c => (c - q0) / 1000).getOrElse(Double.NaN), q.id)
    }

    // warm-up: small drains absorb the JVM's first-query cost and most JIT
    val w0 = clock.nowMs
    (1 to WarmupDrains).foreach(i => drain(s"warmup-$i", WarmupBacklog, ctx.seed + i, traced = false))
    val warmS = (clock.nowMs - w0) / 1000

    // drain phase first, so the latency phase runs in a JVM the drains have
    // warmed further: repeated pre-filled backlogs
    val prefills = Seq.newBuilder[Double]
    val drains = Seq.newBuilder[Double]
    val tracedDrains = Seq.newBuilder[Double]
    val drainQueries = scala.collection.mutable.Set.empty[java.util.UUID]
    Loop.measure(clock, ctx.seconds * (1 - NominalShare), 3) { i =>
      val traced = ctx.trace && i % 2 == 1
      val (p, d, id) = drain(s"rep-$i", DrainBacklog, ctx.seed + 100 + i, traced)
      drainQueries += id
      println(f"stream_ingest drain $i%d${if (traced) " traced" else ""}%s: $d%.3f s, prefill $p%.3f s")
      prefills += p
      if (traced) tracedDrains += d else drains += d
    }

    // nominal phase: open loop at Rate for NominalShare of the window
    System.gc()
    val nominalS = ctx.seconds * NominalShare
    val queue = "nominal"
    MessageQueues.clear(queue)
    log.queue = queue
    val out = ctx.work.resolve("out-nominal")
    val ckpt = ctx.work.resolve("ckpt-nominal")
    val phase = tracer.map(_.open("streaming.nominal", "nominal", None))
    // admission cap far above any batch (a binding cap loses messages); one
    // second of input per core per partition, so a nominal batch is read by a
    // few tasks rather than dozens of tiny ones
    val q = start(spark, queue, Long.MaxValue / 4, math.max(1L, Rate.toLong / ctx.cores),
      out, ckpt, tracer, "nominal", phase.map(_.id))
    val g = new Gen(ctx.seed)
    MessageQueues.push(queue, (0 until PrimeMsgs).map(_ => g.next(System.currentTimeMillis())): _*)
    awaitCommitted(log, q, PrimeMsgs, 60000L)
    val t0 = clock.nowMs + 200
    val total = PrimeMsgs + (nominalS * Rate).toLong
    def dueMs(i: Long) = t0 + (i - PrimeMsgs) * 1000.0 / Rate
    var lagMax = 0.0
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    while (g.sent < total) {
      val now = clock.nowMs
      val due = math.min(total, PrimeMsgs + math.floor((now - t0) * Rate / 1000.0).toLong + 1)
      if (due > g.sent) {
        lagMax = math.max(lagMax, now - dueMs(g.sent))
        buf.clear()
        while (g.sent < due) buf += g.next(dueMs(g.sent).toLong)
        MessageQueues.push(queue, buf.toSeq: _*)
      }
      LockSupport.parkNanos(500000L)
    }
    val retained = MessageQueues.size(queue)
    val done = try awaitCommitted(log, q, total, 60000L) finally q.stop()
    phase.foreach(s => tracer.foreach(_.close(s)))
    val nominal = log.of(q)
    val latency = new Samples
    var late = 0L
    nominal.filter(b => b.end > b.start).foreach { b =>
      var i = math.max(b.start, PrimeMsgs.toLong)
      while (i < b.end && i < total) {
        val l = EpochClock.latencyMs(dueMs(i), b.commitMs)
        latency.add(l)
        if (l > LimitMs) late += 1
        i += 1
      }
    }
    val missing = total - PrimeMsgs - latency.size
    val (bad, dupsKept, emitted) = check(spark, out, g.fresh)
    attempted += g.fresh
    failed += bad
    plantedDups += g.planted
    keptDups += dupsKept
    val (sinkFiles, sinkBytes) = Dirs.dataFiles(out)
    MessageQueues.clear(queue)
    Dirs.delete(out); Dirs.delete(ckpt)

    val jobS = Stats.median(drains.result())
    val lat = latency.sorted
    val setupS = startupS + warmS + Stats.median(prefills.result())
    val backlog = nominal.filter(_.end > PrimeMsgs).map(b => (b.commitMs, b.backlog))
    val table = Seq(
      ("setup.startup_s", startupS, "s"), ("setup.warmup_s", warmS, "s"),
      ("setup.prefill_s", Stats.median(prefills.result()), "s"),
      ("nominal_rate", Rate.toDouble, "msg/s"), ("nominal_msgs", total.toDouble, "count"),
      ("latency_samples", lat.length.toDouble, "count"),
      ("late_ratio", (late + missing).toDouble / (total - PrimeMsgs), "ratio"),
      ("drain_msgs_per_s", DrainBacklog / jobS, "msg/s"),
      ("drain_backlog", DrainBacklog.toDouble, "count"),
      ("drain_reps", drains.result().size.toDouble, "count"),
      ("backlog_slope", Backlog.slopePerS(backlog), "msg/s"),
      ("backlog_growing", if (Backlog.growing(backlog, Rate)) 1.0 else 0.0, "bool"),
      ("generator_lag_ms_max", lagMax, "ms"))
    Stats.tailPercentile(lat.length).foreach(pm =>
      println(s"nominal latency: ${lat.length} samples, highest reportable ${Stats.label(pm)}"))

    val (layers, spans) = tracer match {
      case None => (ListMap.empty[String, Double], Nil)
      case Some(t) =>
        t.quiesce()
        val busy = nominal.filter(b => b.end > b.start && b.end > PrimeMsgs)
        def med(f: Batch => Double) = if (busy.isEmpty) 0.0 else Stats.median(busy.map(f))
        def dur(b: Batch, keys: String*) = keys.map(b.durations.getOrElse(_, 0L)).sum.toDouble
        val drainBatches = log.batches.asScala
          .filter(b => b.end > b.start && drainQueries(b.query)).toSeq
        val microBatches = t.all.filter(s => s.name == "streaming.micro_batch" && s.run == "nominal")
        val overhead = Stats.median(tracedDrains.result()) - jobS
        spark.streams.removeListener(log)
        spark = Sessions.restart(spark, 1, ctx.work)
        spark.streams.addListener(log)
        val (_, single, _) = drain("single", DrainBacklog, ctx.seed + 99, traced = false)
        val m = ListMap(
          "streaming.batches" -> busy.size.toDouble,
          "streaming.batch_ms_p50" -> med(dur(_, "triggerExecution")),
          "streaming.offsets_ms" -> med(dur(_, "latestOffset", "getBatch")),
          "streaming.planning_ms" -> med(dur(_, "queryPlanning")),
          "streaming.add_batch_ms" ->
            (if (drainBatches.isEmpty) 0.0 else Stats.median(drainBatches.map(dur(_, "addBatch")))),
          "streaming.commit_ms" -> med(dur(_, "walCommit", "commitOffsets")),
          "streaming.state_rows" -> busy.map(_.stateRows.toDouble).maxOption.getOrElse(0.0),
          "streaming.state_bytes" -> busy.map(_.stateBytes.toDouble).maxOption.getOrElse(0.0),
          "streaming.state_commit_ms" -> med(_.stateCommitMs.toDouble),
          "streaming.rows_out_ratio" -> emitted.toDouble / total,
          "sources.sink_files" -> sinkFiles.toDouble,
          "sources.sink_bytes" -> sinkBytes.toDouble,
          "streaming.queue_backlog_max" -> busy.map(_.backlog.toDouble).maxOption.getOrElse(0.0),
          "streaming.queue_retained_msgs" -> retained.toDouble,
          "generator.lag_ms_max" -> lagMax,
          "trace.overhead_s" -> overhead,
          "engine.parallel_speedup" -> single / jobS) ++
          Tracer.EngineCounters.map(c => s"streaming.micro_batch.$c" ->
            (if (microBatches.isEmpty) 0.0 else Stats.median(microBatches.map(_.counter(c)))))
        (m, t.toJson)
    }
    spark.streams.removeListener(log)

    Outcome(attempted, failed,
      ListMap(
        "setup_s" -> setupS,
        "job_s" -> jobS,
        "latency_p50_ms" -> Stats.percentile(lat, 500),
        "latency_p99_ms" -> Stats.tail(lat),
        "dup_recall" -> (plantedDups - keptDups).toDouble / plantedDups),
      layers, table, spans)
  }
}
