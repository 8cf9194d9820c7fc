package graftbench

/** Harness self-tests (no Spark): the percentile rule, the epoch latency
  * clock and the backlog-growth detector. Exits non-zero on the first
  * failure; run through `python3 -m unittest discover -s perfbench/tests`.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  error: $e"); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  private def throws(body: => Any): Boolean =
    try { body; false } catch { case _: IllegalArgumentException => true }

  def main(args: Array[String]): Unit = {
    // percentile rule: highest ladder percentile with >= 10 samples beyond it
    check("p99 needs 1000 samples") {
      Stats.beyond(1000, 990) == 10 && Stats.beyond(999, 990) == 9 &&
        Stats.tailPercentile(1000).contains(990) && Stats.tailPercentile(999).contains(900)
    }
    check("p99.9 needs 10000 samples") {
      Stats.tailPercentile(10000).contains(999) && Stats.tailPercentile(9999).contains(990)
    }
    check("few samples report no tail, 20 report the median") {
      Stats.tailPercentile(10).isEmpty && Stats.tailPercentile(20).contains(500)
    }
    check("nearest-rank percentile") {
      val xs = Array.tabulate(1000)(i => (i + 1).toDouble)
      Stats.percentile(xs, 500) == 500.0 && Stats.percentile(xs, 990) == 990.0 &&
        Stats.percentile(Array(7.0), 990) == 7.0
    }
    check("tail falls back to the highest reportable percentile, then the median") {
      val xs = (n: Int) => Array.tabulate(n)(i => (i + 1).toDouble)
      Stats.tail(xs(1000)) == 990.0 && Stats.tail(xs(500)) == 450.0 &&
        Stats.tail(Array(1.0, 2.0, 9.0)) == 2.0
    }
    check("sample buffer grows and sorts") {
      val s = new Samples
      (0 until 100000).foreach(i => s.add((i * 7919 % 100000).toDouble))
      val a = s.sorted
      a.length == 100000 && a.head == 0.0 && a.last == 99999.0 && s.size == 100000
    }
    check("median of even and odd counts") {
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5
    }

    // latency clock: epoch milliseconds on both sides, never nanoTime
    check("clock reads epoch milliseconds") {
      val c = new EpochClock
      val a = c.nowMs
      Thread.sleep(5)
      val b = c.nowMs
      EpochClock.isEpochMs(a) && b - a >= 4 && math.abs(a - System.currentTimeMillis()) < 1000
    }
    check("batch commit = progress timestamp + trigger execution") {
      EpochClock.batchCommitMs("2026-01-01T00:00:00.250Z", 750) ==
        java.time.Instant.parse("2026-01-01T00:00:01Z").toEpochMilli.toDouble
    }
    check("latency of a due time against a commit time") {
      val c = new EpochClock
      val due = c.nowMs
      val commit = EpochClock.batchCommitMs(java.time.Instant.ofEpochMilli(due.toLong).toString, 120)
      val l = EpochClock.latencyMs(due, commit)
      l > 118 && l <= 120
    }
    check("nanoTime readings are rejected") {
      val commit = System.currentTimeMillis().toDouble
      throws(EpochClock.latencyMs(System.nanoTime() / 1e6, commit)) &&
        throws(EpochClock.latencyMs(commit, System.nanoTime().toDouble))
    }

    // backlog detector
    val rate = 100000.0
    check("flat noisy backlog is not growing") {
      val rnd = new scala.util.Random(1)
      val s = (0 until 40).map(i => (1e12 + i * 250.0, 20000L + rnd.nextInt(30000)))
      !Backlog.growing(s, rate)
    }
    check("backlog growing at 20% of the rate is detected") {
      val s = (0 until 40).map(i => (1e12 + i * 250.0, (i * 250 * 0.2 * rate / 1000).toLong))
      Backlog.growing(s, rate) && math.abs(Backlog.slopePerS(s) - 0.2 * rate) < 1
    }
    check("a draining backlog is not growing") {
      val s = (0 until 10).map(i => (1e12 + i * 500.0, 500000L - i * 40000L))
      !Backlog.growing(s, rate) && Backlog.slopePerS(s) < 0
    }
    check("too few samples never count as growth") {
      !Backlog.growing(Seq((1e12, 0L), (1e12 + 1000, 900000L)), rate)
    }

    // result rendering
    check("json rendering") {
      Json.render(Json.obj("a" -> 1.5, "b" -> Seq(1, 2), "c" -> "x\"y", "d" -> None)) ==
        """{"a":1.5,"b":[1,2],"c":"x\"y","d":null}"""
    }

    if (failures > 0) { println(s"$failures self-test(s) failed"); sys.exit(1) }
    println("all self-tests passed")
  }
}
