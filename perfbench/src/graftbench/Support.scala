package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

/** Directory helpers and the measuring loop shared by the workloads. */
object Dirs {
  def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val to = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else Files.copy(p, to, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  /** (files, bytes) of the regular data files under `p`, skipping hidden
    * checksum and marker files.
    */
  def dataFiles(p: Path): (Long, Long) = {
    val s = Files.walk(p)
    try s.iterator().asScala
      .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".") &&
        !f.getFileName.toString.startsWith("_"))
      .foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + Files.size(f)) }
    finally s.close()
  }
}

object Loop {
  /** Run `rep(i)` for i = 0, 1, … until `seconds` of wall time have passed
    * and at least `minReps` repetitions ran. Each repetition starts from a
    * collected heap, so garbage and cleanup left by the previous one (the
    * ContextCleaner runs on GC) do not land in its timing.
    */
  def measure(clock: EpochClock, seconds: Double, minReps: Int)(rep: Int => Unit): Int = {
    val end = clock.nowMs + seconds * 1000
    var i = 0
    while (i < minReps || clock.nowMs < end) {
      System.gc()
      rep(i)
      i += 1
    }
    i
  }
}
