package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Dev utility (guide §1): decompose a query's wall time into
  * DataFrame construction, planning (analysis→executedPlan), and
  * repeated noop executions, so optimization effort lands on the part
  * that actually costs. Beside each step it prints the generated
  * classes compiled and their compile milliseconds, as `n/ms`. Run:
  *   sbt "runMain graft.Profile /root/testdata/sf0.1 32 q59_basket_pairs,a20_schema_drift"
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val cpus = args(1).toInt
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 3) args(3).toInt else 3
    val spark: SparkSession = GraftSession
      .builder("graft-profile", Some(s"local[$cpus]"), cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    // generated classes compiled (CodegenMetrics) and Janino's compile
    // milliseconds (CodeGenerator.compileTime, ns) during each step
    def compiled(): (Long, Long) =
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
    val steps = scala.collection.mutable.ArrayBuffer[String]()
    def t[A](f: => A): (Double, A) = {
      val (n0, ns0) = compiled()
      val t0 = System.nanoTime(); val a = f; val dt = (System.nanoTime() - t0) / 1e9
      val (n1, ns1) = compiled()
      steps += s"${n1 - n0}/${(ns1 - ns0) / 1000000}ms"
      (dt, a)
    }
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Long, Int)]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val dur = (for (a <- i.completionTime; b <- i.submissionTime) yield a - b).getOrElse(-1L)
        stages.add((i.stageId, i.name.takeWhile(_ != '\n').take(60), dur, i.numTasks))
      }
    })
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      steps.clear()
      val (tBuild, df) = t(fn(spark, sfDir))
      val (tPlan, _) = t(df.queryExecution.executedPlan)
      val execs = (1 to reps).map { r =>
        if (r == reps) stages.clear()
        val (te, _) = t {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        }
        te
      }
      println(f"[profile] $name%-28s build=$tBuild%6.2f plan=$tPlan%6.2f " +
        execs.map(e => f"$e%6.2f").mkString("exec=[", " ", "]") +
        s" codegen build=${steps(0)} plan=${steps(1)} " + steps.drop(2).mkString("exec=[", " ", "]"))
      // stage breakdown of the LAST (warm) execution
      import scala.jdk.CollectionConverters._
      stages.asScala.toSeq.sortBy(-_._3).take(8).foreach { case (id, nm, dur, nt) =>
        println(f"[profile]   stage $id%4d ${dur}%6dms tasks=$nt%3d  $nm")
      }
      stages.clear()
    }
    spark.stop()
  }
}
