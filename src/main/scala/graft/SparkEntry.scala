package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Etl.a5CityScore(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Merged once;
    * a name registered by two modules fails construction. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = merged(Seq(
    Analytics.queries, Etl.queries, Events.queries,
    TextOps.queries, DedupOps.queries, VectorOps.queries,
    MultimodalOps.queries, CorpusOps.queries))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] = merged(Seq(
    Analytics.oracles, Etl.oracles, Events.oracles,
    TextOps.oracles, DedupOps.oracles, VectorOps.oracles,
    MultimodalOps.oracles, CorpusOps.oracles))

  /** The union of per-module maps; `++` would silently keep the last
    * module's entry for a duplicated name. */
  private[graft] def merged[V](maps: Seq[Map[String, V]]): Map[String, V] = {
    val dups = maps.flatMap(_.keys).groupBy(identity).collect { case (k, ks) if ks.size > 1 => k }
    require(dups.isEmpty, s"registered by more than one module: ${dups.toSeq.sorted.mkString(", ")}")
    maps.reduce(_ ++ _)
  }
}
