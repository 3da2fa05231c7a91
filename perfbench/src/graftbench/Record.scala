package graftbench

import java.nio.file.{Files, Path, StandardOpenOption}
import org.apache.spark.sql.SparkSession

/** Records, for each named query on one input directory, its cost (build
  * plus noop write, shared caches released before it) and its output
  * digest, twice: the second pass shows whether the digest is stable and
  * gives the warm cost `suite_mix` picks each module's median query by.
  * One JSON line per (pass, query) is appended to `out` as soon as it is
  * known. */
object Record {
  def run(spark: SparkSession, dir: String, names: Seq[String], out: Path): Unit = {
    def emit(line: String): Unit = Files.writeString(out, line + "\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    for (pass <- 1 to 2; name <- names) {
      Queries.release(spark, dir)
      val t0 = System.nanoTime()
      val line = try {
        Queries.runNoop(Queries.build(spark, name, dir))
        val cost = (System.nanoTime() - t0) / 1e9
        val (rows, hash) = Queries.digest(Queries.build(spark, name, dir))
        s"""{"pass":$pass,"name":"$name","module":"${Queries.moduleOf(name)}",""" +
          s""""cost_s":${Json.num(cost)},"rows":$rows,"hash":"$hash"}"""
      } catch {
        case t: Throwable =>
          s"""{"pass":$pass,"name":"$name","error":${Json.str(t.toString.take(300))}}"""
      }
      emit(line)
      System.err.println(s"[record] $line")
    }
    Queries.release(spark, dir)
  }
}
