package graftbench

import scala.collection.immutable.ListMap

/** Minimal JSON rendering for the result and trace files (objects keep
  * insertion order; pass a `ListMap` where order matters).
  */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"not JSON-renderable: $other")
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').result()
  }

  def obj(kv: (String, Any)*): ListMap[String, Any] = ListMap(kv: _*)
}

/** Percentile reporting rule: a tail percentile is reported only when at
  * least ten samples lie beyond it, so one slow sample cannot be the p99.
  */
object Stats {
  /** The percentile ladder, in tenths of a percent: p99.9, p99, p90, p50. */
  val Ladder: Seq[Int] = Seq(999, 990, 900, 500)

  /** Nearest-rank index (0-based) of per-mille percentile `pm` of `n` samples. */
  def rank(n: Int, pm: Int): Int = math.max(0, ((n.toLong * pm + 999) / 1000).toInt - 1)

  /** Samples strictly above the nearest-rank percentile. */
  def beyond(n: Int, pm: Int): Int = n - 1 - rank(n, pm)

  /** Highest ladder percentile with at least ten samples beyond it. */
  def tailPercentile(n: Int): Option[Int] = Ladder.find(pm => beyond(n, pm) >= 10)

  /** The reported tail of `sorted`: p99 when at least ten samples lie
    * beyond it, else the highest ladder percentile below p99 that has them,
    * else the median.
    */
  def tail(sorted: Array[Double]): Double =
    percentile(sorted, Ladder.filter(_ <= 990).find(beyond(sorted.length, _) >= 10).getOrElse(500))

  def percentile(sorted: Array[Double], pm: Int): Double = {
    require(sorted.nonEmpty, "percentile of no samples")
    sorted(rank(sorted.length, pm))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def label(pm: Int): String = if (pm % 10 == 0) s"p${pm / 10}" else s"p${pm / 10}.${pm % 10}"
}

/** Growable primitive sample buffer (millions of latencies, no boxing). */
final class Samples {
  private var buf = new Array[Double](1 << 16)
  private var n = 0

  def add(v: Double): Unit = {
    if (n == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
    buf(n) = v
    n += 1
  }

  def size: Int = n

  def sorted: Array[Double] = {
    val a = java.util.Arrays.copyOf(buf, n)
    java.util.Arrays.sort(a)
    a
  }
}

/** The one clock every latency is measured on: epoch milliseconds, with
  * sub-millisecond resolution from a monotonic anchor. Streaming progress
  * timestamps are epoch-based, so due times must be too — subtracting a
  * `System.nanoTime` reading from an epoch timestamp yields nonsense on the
  * order of 1e12 ms.
  */
final class EpochClock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

object EpochClock {
  /** Plausible epoch milliseconds: within a day of the wall clock. A
    * `System.nanoTime` reading, in ms or ns, is nowhere near it.
    */
  def isEpochMs(t: Double): Boolean = math.abs(t - System.currentTimeMillis()) < 86400000.0

  def latencyMs(dueMs: Double, doneMs: Double): Double = {
    require(isEpochMs(dueMs), s"due time $dueMs is not epoch milliseconds")
    require(isEpochMs(doneMs), s"done time $doneMs is not epoch milliseconds")
    doneMs - dueMs
  }

  /** Commit time of a micro-batch: its trigger start plus its execution time. */
  def batchCommitMs(progressTimestamp: String, triggerExecutionMs: Long): Double =
    java.time.Instant.parse(progressTimestamp).toEpochMilli.toDouble + triggerExecutionMs
}

/** Backlog-growth detection over (epoch ms, messages waiting) samples: the
  * least-squares slope in messages per second, called growing when it
  * exceeds 5% of the offered rate — a queue that grows that fast is not
  * being served at the offered rate, and its latencies only rise with run
  * length.
  */
object Backlog {
  def slopePerS(samples: Seq[(Double, Long)]): Double =
    if (samples.size < 2) 0.0
    else {
      val xs = samples.map(_._1 / 1000.0)
      val ys = samples.map(_._2.toDouble)
      val mx = xs.sum / xs.size
      val my = ys.sum / ys.size
      val sxx = xs.map(x => (x - mx) * (x - mx)).sum
      if (sxx == 0) 0.0 else xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
    }

  def growing(samples: Seq[(Double, Long)], offeredPerS: Double): Boolean =
    samples.size >= 3 && slopePerS(samples) > 0.05 * offeredPerS
}
