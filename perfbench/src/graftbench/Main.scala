package graftbench

import java.nio.file.{Files, Path, Paths}

/** Entry point of the benchmark JVM, started by `perfbench/run.py`.
  *
  * {{{
  *   graftbench.Main run    <key=value>...   one measured run of one workload
  *   graftbench.Main record <key=value>...   record query costs and digests
  * }}}
  *
  * Keys: `workload`, `seed`, `seconds`, `trace` (0|1), `data` (generated
  * input root), `work` (scratch dir, wiped), `out` (result file),
  * `cores`, `expected` (recorded digests); `record` takes `data`, `work`,
  * `out`, `cores` and optionally `queries` (comma-separated names; all
  * registered queries when absent).
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val mode = argv.head
    val a = argv.tail.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val work = Paths.get(a("work")).toAbsolutePath
    Session.deleteTree(work)
    Files.createDirectories(work)
    System.setProperty("java.io.tmpdir", work.resolve("tmp").toString)
    val cores = a("cores").toInt
    mode match {
      case "record" =>
        val spark = Session.start(work, cores)
        val names = a.get("queries").map(_.split(",").toSeq)
          .getOrElse(graft.SparkEntry.queries.keys.toSeq.sorted)
        Record.run(spark, a("data"), names, Paths.get(a("out")))
        Session.stop(spark)
      case "run" =>
        val res = Runner.run(a("workload"), a("seed").toLong, a("seconds").toDouble,
          a("trace") == "1", Paths.get(a("data")), work, cores, Paths.get(a("expected")))
        Files.writeString(Paths.get(a("out")), res)
    }
  }
}
