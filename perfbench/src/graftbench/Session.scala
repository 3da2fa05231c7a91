package graftbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession

/** Session factory and host probes shared by every workload. All
  * scratch state (local dirs, warehouse, catalog, lake tables) lives
  * under the run's work directory. */
object Session {
  def start(work: Path, cores: Int): SparkSession = {
    Files.createDirectories(work.resolve("tmp"))
    val s = graft.GraftSession
      .builder("graftbench", Some(s"local[$cores]"), cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", work.resolve("catalog").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** Total bytes of the regular files under `p`. */
  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ").take(3).mkString(" ")
    catch { case _: Throwable => "unknown" }

  /** Aggregate guest CPU ticks from /proc/stat line 1: (busy, idle, steal),
    * computed as `graft.Bench` does. */
  def cpuTicks(): (Long, Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().split("\\s+").drop(1).map(_.toLong) finally src.close()
      val idle = f(3) + f(4)
      val steal = if (f.length > 7) f(7) else 0L
      (f.sum - idle, idle, steal)
    } catch { case _: Throwable => (-1L, -1L, -1L) }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      val line = try src.getLines().find(_.startsWith("VmHWM:")) finally src.close()
      line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    } catch { case _: Throwable => -1.0 }
}
