package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._

/** The registered queries, by operator module, and the two calls every
  * query workload makes: building a query's DataFrame and hashing its
  * output. */
object Queries {
  val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "Analytics" -> Analytics.queries, "Etl" -> Etl.queries, "Events" -> Events.queries,
    "TextOps" -> TextOps.queries, "DedupOps" -> DedupOps.queries,
    "VectorOps" -> VectorOps.queries, "MultimodalOps" -> MultimodalOps.queries,
    "CorpusOps" -> CorpusOps.queries)

  def moduleOf(name: String): String = modules.find(_._2.contains(name)).get._1

  def build(spark: SparkSession, name: String, dir: String): DataFrame =
    graft.SparkEntry.queries(name)(spark, dir)

  def runNoop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Releases the shared subplan caches, as a pipeline job does after
    * each batch (the release contract `Bench` and `Verify` follow). */
  def release(spark: SparkSession, dir: String): Unit = {
    DedupOps.release(spark, dir)
    VectorOps.release(spark, dir)
    CorpusOps.release(spark, dir)
    TextOps.release(spark, dir)
  }

  /** Row count and an order-independent content hash: the sum, as an
    * exact decimal, of a 64-bit hash of each row's JSON rendering.
    * Columns are renamed by position first, so duplicate or dotted
    * output names cannot make the struct ambiguous. */
  def digest(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val r = named
      .select(xxhash64(to_json(struct(named.columns.map(col): _*))).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }
}
