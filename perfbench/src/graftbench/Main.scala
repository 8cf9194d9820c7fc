package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** What one workload run hands back to [[Main]]. `e2e` and `layers` hold
  * every metric the workload defines; `table` adds human-readable lines
  * (name, value, unit) that are printed but carry no bound.
  */
final case class Outcome(attempted: Long, failed: Long,
                         e2e: ListMap[String, Double],
                         layers: ListMap[String, Double],
                         table: Seq[(String, Double, String)],
                         spans: Seq[Map[String, Any]])

/** Run-wide settings: scratch directory, seed, measuring window, tracing,
  * core count, and the setup time already spent before the session existed.
  */
final case class Ctx(work: Path, seed: Long, seconds: Double, trace: Boolean,
                     cores: Int, clock: EpochClock, launchMs: Double) {
  def dir(name: String): Path = Files.createDirectories(work.resolve(name))
}

object Sessions {
  def start(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", Files.createDirectories(work.resolve("spark-local")).toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Replace the session with one on `cores` cores (the single-core
    * baseline of the traced run).
    */
  def restart(spark: SparkSession, cores: Int, work: Path): SparkSession = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    start(cores, work)
  }
}

/** Entry point: `--workload W --seed N --seconds S --trace 0|1 --cores C
  * --work DIR --out FILE --launch-ms EPOCH_MS`. Writes one JSON result file,
  * which `perfbench/run.py` turns into the benchmark's output line.
  */
object Main {
  val Workloads: Map[String, (SparkSession, Ctx) => Outcome] = Map(
    "etl_sync" -> EtlSync.run,
    "stream_ingest" -> StreamIngest.run,
    "corpus_dedup" -> CorpusDedup.run)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val ctx = Ctx(Paths.get(a("work")), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a("cores").toInt, new EpochClock, a("launch-ms").toDouble)
    val spark = Sessions.start(ctx.cores, ctx.work)
    val out = try run(spark, ctx) finally SparkSession.active.stop()
    // the JVM's peak RSS follows heap sizing more than the workload (it
    // spread by a quarter across seeds), so it is a per-layer metric
    val result = Json.obj(
      "workload" -> workload, "seed" -> ctx.seed, "trace" -> ctx.trace,
      "attempted" -> out.attempted, "failed" -> out.failed,
      "end_to_end" -> out.e2e, "per_layer" -> (out.layers + ("peak_rss_mb" -> peakRssMb())),
      "table" -> out.table.map { case (n, v, u) => Json.obj("name" -> n, "value" -> v, "unit" -> u) },
      "spans" -> out.spans)
    Files.writeString(Paths.get(a("out")), Json.render(result))
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(Double.NaN)
}
