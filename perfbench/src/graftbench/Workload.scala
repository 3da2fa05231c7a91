package graftbench

import org.apache.spark.sql.SparkSession

/** One timed operation: a query (build to end of the noop write) or one
  * lake call. `error` is set when it threw or returned a wrong result. */
final case class Op(kind: String, label: String, seconds: Double, error: Option[String]) {
  /** What the operation repeats from pass to pass: the query, or the kind
    * of lake call. */
  def key: String = if (kind == "query") label else kind
}

/** A workload as the runner drives it: set up (timed, repeated), an
  * untimed warm-up, timed passes in a closed loop, an untimed check of
  * the outputs, and its per-layer numbers. */
trait Workload {
  /** Part of the timed set-up, after the session starts. */
  def setup(spark: SparkSession): Unit
  /** Untimed warm-up before the timed passes. */
  def warm(spark: SparkSession, tr: Tracer): Seq[Op]
  /** Timed passes a run makes at the least; `batch_s` is their median. */
  def minPasses: Int
  /** One timed pass over the workload's operation list. */
  def pass(spark: SparkSession, tr: Tracer, parent: Int): Seq[Op]
  /** Untimed check of the outputs once the timed loop is over. */
  def check(spark: SparkSession): Seq[Op]
  /** Per-layer numbers only this workload measures. */
  def layers(spark: SparkSession, ops: Seq[Op]): Map[String, Double]
}
