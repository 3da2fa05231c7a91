package graftbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Geometric mean, over the operations a pass repeats, of each one's
    * median time: every query or kind of lake call weighs the same, and
    * the value moves smoothly with each of them, where the median of all
    * operations jumps between the clusters of cheap and costly ones. */
  def opGeomean(ops: Seq[Op]): Double = {
    val meds = ops.groupBy(_.key).values.map(os => median(os.map(_.seconds)))
    math.exp(meds.map(m => math.log(math.max(m, 1e-6))).sum / math.max(1, meds.size))
  }
}

/** One measured run: set up `Setups` times (the median is `setup_s`), an
  * untimed warm-up, timed passes in a closed loop with one client until
  * `seconds` have passed and at least the workload's `minPasses` are
  * done, then an untimed check of the outputs. A traced
  * run times untraced, traced and untraced passes, so the tracing
  * overhead is measured in the same JVM, operation by operation, against
  * its neighbours; per-layer numbers come from the traced pass only. */
object Runner {
  val Setups = 3

  private def loadExpected(p: Path): Map[String, Map[String, Expected]] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile)
    root.fieldNames().asScala.map { w =>
      w -> root.get(w).fields().asScala.map { e =>
        val v = e.getValue
        e.getKey -> Expected(v.get("rows").asLong(), v.get("hash").asText())
      }.toMap
    }.toMap
  }

  def run(workload: String, seed: Long, seconds: Double, trace: Boolean, data: Path,
          work: Path, cores: Int, expectedPath: Path): String = {
    val runId = s"$workload-seed$seed-trace${if (trace) 1 else 0}-${System.currentTimeMillis()}"
    val load0 = Session.loadavg()
    val (busy0, idle0, steal0) = Session.cpuTicks()
    val wall0 = System.nanoTime()
    val expected = loadExpected(expectedPath)
    val dir = data.toString
    val w = workload match {
      case "suite_mix" =>
        val recorded = expected("suite_mix")
        new QueryWorkload(dir, QueryWorkload.suiteOrder(recorded, seed), recorded)
      case "lake_cdc" => new LakeWorkload(dir, work, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    var spark: SparkSession = null
    val setups = (1 to Setups).map { _ =>
      if (spark != null) { Queries.release(spark, dir); Session.stop(spark) }
      val t0 = System.nanoTime()
      spark = Session.start(work, cores)
      spark.range(1000000).selectExpr("sum(id)").collect()
      w.setup(spark)
      (System.nanoTime() - t0) / 1e9
    }
    val tr = new Tracer(spark, runId)
    val w0 = System.nanoTime()
    val warm = w.warm(spark, tr)
    val warmupS = (System.nanoTime() - w0) / 1e9

    val passes = ArrayBuffer.empty[(Boolean, Double, Seq[Op])]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline || passes.size < (if (trace) math.max(3, w.minPasses) else w.minPasses)) {
      val traced = trace && passes.size % 2 == 1
      if (traced) tr.enable() else tr.disable()
      val t0 = System.nanoTime()
      val ops = tr.span(0, "pass")(id => w.pass(spark, tr, id))
      passes += ((traced, (System.nanoTime() - t0) / 1e9, ops))
    }
    tr.disable()
    val timed = passes.flatMap(_._3).toSeq
    val all = warm ++ timed ++ w.check(spark)
    val failures = all.filter(_.error.isDefined)
    val rss = Session.peakRssMb()

    val metrics: Map[String, Double] =
      if (!trace) Map(
        "setup_s" -> Stats.median(setups),
        "batch_s" -> Stats.median(passes.map(_._2).toSeq),
        "op_gmean_s" -> Stats.opGeomean(timed),
        "peak_rss_mb" -> rss)
      else layerMetrics(tr, passes.toSeq, cores) ++ w.layers(spark, timed) ++ Map(
        "warmup_s" -> warmupS, "peak_rss_mb" -> rss)

    Queries.release(spark, dir)
    Session.stop(spark)
    val (busy1, idle1, steal1) = Session.cpuTicks()
    val wallS = (System.nanoTime() - wall0) / 1e9
    val ticks = wallS * cores * 100.0
    val host = Map(
      "loadavg_start" -> Json.str(load0), "loadavg_end" -> Json.str(Session.loadavg()),
      "steal_fraction" -> Json.num(if (steal0 < 0) -1.0 else (steal1 - steal0) / ticks),
      "guest_tick_fraction" -> Json.num(
        if (busy0 < 0) -1.0 else ((busy1 - busy0) + (idle1 - idle0)) / ticks),
      "wall_s" -> Json.num(wallS))
    if (trace) tr.write(work.getParent.resolve("traces").resolve(s"$runId.jsonl"))

    def obj(m: Iterable[(String, String)]): String =
      m.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    val opsJson = all.map { o =>
      obj(Seq("kind" -> Json.str(o.kind), "label" -> Json.str(o.label),
        "seconds" -> Json.num(o.seconds)) ++ o.error.map(e => "error" -> Json.str(e)))
    }.mkString("[", ",", "]")
    obj(Seq(
      "run" -> Json.str(runId),
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "attempted" -> all.size.toString,
      "failed" -> failures.size.toString,
      "metrics" -> obj(metrics.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "setups_s" -> setups.map(Json.num).mkString("[", ",", "]"),
      "passes" -> passes.map(p => obj(Seq("traced" -> p._1.toString,
        "seconds" -> Json.num(p._2)))).mkString("[", ",", "]"),
      "host" -> obj(host),
      "ops" -> opsJson))
  }

  /** Per-layer numbers from the traced passes, per pass. */
  private def layerMetrics(tr: Tracer, passes: Seq[(Boolean, Double, Seq[Op])],
                           cores: Int): Map[String, Double] = {
    val spans = tr.spans.toSeq
    val n = math.max(1, passes.count(_._1)).toDouble
    val self = tr.selfTimes()
    def dur(name: String): Double = spans.filter(_.name == name).map(_.dur).sum
    def attr(name: String, key: String): Double =
      spans.filter(_.name == name).map(_.attrs.getOrElse(key, 0.0)).sum
    val passSpans = spans.filter(_.name == "pass")
    val counters = passSpans.flatMap(_.attrs).groupBy(_._1).view.mapValues(_.map(_._2).sum / n)
    val passWall = dur("pass")
    // each traced operation against the same query, or the same kind of
    // lake call, in the untraced passes
    val untraced = passes.filterNot(_._1).flatMap(_._3).groupBy(_.key)
      .view.mapValues(os => Stats.median(os.map(_.seconds))).toMap
    val overhead = passes.filter(_._1).flatMap(_._3)
      .flatMap(o => untraced.get(o.key).map(o.seconds - _)).sum / n
    counters.toMap ++ Map(
      "operators.build_s" -> dur("build") / n,
      "operators.build_jobs" -> attr("build", "sched.jobs") / n,
      "plan.analysis_s" -> dur("plan.analysis") / n,
      "plan.optimization_s" -> dur("plan.optimization") / n,
      "plan.planning_s" -> dur("plan.planning") / n,
      "exec.s" -> self.getOrElse("execute", 0.0) / n,
      "sched.idle_core_frac" ->
        (1.0 - attr("pass", "exec.task_run_s") / math.max(1e-9, passWall * cores)),
      "trace.unattributed_frac" ->
        (self.getOrElse("pass", 0.0) + self.getOrElse("query", 0.0)) / math.max(1e-9, passWall),
      "trace.overhead_s" -> overhead)
  }
}
