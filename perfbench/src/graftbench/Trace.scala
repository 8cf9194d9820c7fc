package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed call into a layer. `run` groups the spans of one job
  * repetition (or one streaming phase); `parent` is the span that made the
  * call.
  */
final class Span(val id: Int, val name: String, val parent: Option[Int],
                 val run: String, val startMs: Double) {
  @volatile var endMs: Double = Double.NaN
  private val counters = mutable.LinkedHashMap.empty[String, Double]

  def add(key: String, v: Double): Unit = synchronized {
    counters(key) = counters.getOrElse(key, 0.0) + v
  }
  def counter(key: String): Double = synchronized(counters.getOrElse(key, 0.0))
  def counterMap: Map[String, Double] = synchronized(counters.toMap)
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** In-memory span recorder plus a Spark listener that attaches runtime
  * counters (task busy time, shuffle writes, spills, GC, output) to the span
  * whose call submitted the Spark job. Attribution is exact, not by time
  * overlap: a span stores its id in a Spark local property, every job
  * carries the submitting thread's properties, and each stage's tasks are
  * charged to the span of the job that ran the stage.
  */
final class Tracer(sc: SparkContext, clock: EpochClock) extends SparkListener {
  import Tracer.Key

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()

  sc.addSparkListener(this)

  def open(name: String, run: String, parent: Option[Int]): Span = spans.synchronized {
    val s = new Span(spans.size + 1, name, parent, run, clock.nowMs)
    spans += s
    byId.put(s.id, s)
    s
  }

  def close(s: Span): Unit = s.endMs = clock.nowMs

  /** Time `body` as a child of the calling thread's current span. */
  def span[T](name: String, run: String)(body: => T): T = {
    val parent = Option(sc.getLocalProperty(Key)).map(_.toInt)
    val s = open(name, run, parent)
    sc.setLocalProperty(Key, s.id.toString)
    try body
    finally {
      close(s)
      sc.setLocalProperty(Key, parent.map(_.toString).orNull)
    }
  }

  /** Charge jobs submitted by the current thread to `s` (streaming
    * micro-batches run on the query's own thread).
    */
  def attach(s: Span): Unit = sc.setLocalProperty(Key, s.id.toString)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Key))).map(_.toInt)
      .foreach { id =>
        e.stageIds.foreach(st => stageSpan.put(st, id))
        Option(byId.get(id)).foreach(_.add("spark_jobs", 1))
      }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).flatMap(id => Option(byId.get(id)))
      .foreach { s =>
        val m = e.taskMetrics
        s.add("tasks", 1)
        if (m != null) {
          s.add("task_busy_s", m.executorRunTime / 1000.0)
          s.add("gc_s", m.jvmGCTime / 1000.0)
          s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          s.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
          s.add("output_records", m.outputMetrics.recordsWritten.toDouble)
        }
      }

  /** Wait until every listener event posted so far has been counted. */
  def quiesce(): Unit = org.apache.spark.graftbench.ListenerDrain(sc)

  def all: Seq[Span] = spans.synchronized(spans.toList)

  def children(s: Span): Seq[Span] = all.filter(_.parent.contains(s.id))

  /** Counter summed over `s` and every span below it. */
  def subtree(s: Span, key: String): Double =
    s.counter(key) + children(s).map(subtree(_, key)).sum

  /** Duration minus the part of it that child spans cover. */
  def selfSeconds(s: Span): Double = {
    val iv = children(s).map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) covered += curB - curA
    (s.endMs - s.startMs - covered) / 1000.0
  }

  def toJson: Seq[Map[String, Any]] = all.map { s =>
    Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_s" -> s.seconds,
      "self_s" -> selfSeconds(s), "counters" -> s.counterMap)
  }
}

object Tracer {
  val Key = "graftbench.span"

  /** Per-span runtime counters reported as per-layer metrics. */
  val EngineCounters: Seq[String] = Seq("task_busy_s", "shuffle_write_bytes", "spill_bytes", "gc_s")

  /** Median over repetitions of a per-span value, keyed by span name; 0
    * when no span of that name ran.
    */
  def medianBy(spans: Seq[Span], name: String)(f: Span => Double): Double = {
    val xs = spans.filter(_.name == name).map(f)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }
}
