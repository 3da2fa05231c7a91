package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.storage.StorageLevel

/** The one memo for artifacts the operator families share across the
  * queries of a session: d6's shingle, signature and pair frames, d20's
  * contamination hits, d25's component labels, the IVF centroids and PQ
  * codebooks, BPE's trained segmentation.
  *
  * Entries are keyed by (session identity, dataset dir, namespaced key).
  * Identity, not applicationId: two sessions of one app must not alias.
  * The map only inserts a per-entry holder; the value is built under the
  * holder's own lock, outside the map's. So builds of different keys
  * never wait on each other, a build may read other entries (sigs →
  * shingles, d25 → d6 pairs), callers of one key share one build, and a
  * build that throws leaves nothing cached.
  *
  * Lifecycle contract: a job that used the families over `dir` calls
  * [[release]] when done (Verify and Bench teardown do), so a
  * long-lived session processing many datasets neither pins
  * corpus-scale blocks indefinitely nor serves stale results after the
  * data under `dir` changes. */
private[graft] object SessionMemo {
  private final case class Key(spark: SparkSession, dir: String, key: String)

  private final class Entry {
    private var built: Option[(Any, () => Unit)] = None

    def get[T](build: => T, free: T => Unit): T = synchronized {
      if (built.isEmpty) {
        val v = build
        built = Some((v, () => free(v)))
      }
      built.get._1.asInstanceOf[T]
    }

    /** Waits for a build in flight, then frees what it built. */
    def drop(): Unit = synchronized(built.foreach(_._2()))
  }

  private val entries = new java.util.concurrent.ConcurrentHashMap[Key, Entry]()

  /** The value under (spark, dir, key), built once; `free` runs on it
    * when the entry is released. A build that throws leaves the entry
    * unbuilt, so the next caller builds again. */
  def value[T](spark: SparkSession, dir: String, key: String)(build: => T)(free: T => Unit): T =
    entries.computeIfAbsent(Key(spark, dir, key), _ => new Entry).get(build, free)

  /** A shared subplan materialized once: persisted MEMORY_AND_DISK and
    * unpersisted (blocking) on release. Consumers read the columnar
    * cache instead of re-evaluating the plan at every reference.
    *
    * Spark's `CacheManager` is per SparkContext, not per session, and
    * keys its entries by plan (same result): a second entry, in any
    * session, that persists an already-cached plan shares the first
    * one's blocks. So the blocks are unpersisted only when the last
    * entry holding that plan is released. */
  def frame(spark: SparkSession, dir: String, key: String)(build: => DataFrame): DataFrame =
    value(spark, dir, key)(pin(build))(unpin)

  /** Memo entries holding each cached plan, by (SparkContext,
    * canonicalized plan): the identity `CacheManager` looks entries up
    * by. Guarded by itself, so a persist never races the unpersist of
    * the plan's last holder. */
  private val holders = scala.collection.mutable.Map[(SparkContext, LogicalPlan), Int]()

  private def cacheId(df: DataFrame): (SparkContext, LogicalPlan) =
    (df.sparkSession.sparkContext, df.queryExecution.normalized.canonicalized)

  private def pin(df: DataFrame): DataFrame = holders.synchronized {
    val k = cacheId(df)
    df.persist(StorageLevel.MEMORY_AND_DISK)
    holders(k) = holders.getOrElse(k, 0) + 1
    df
  }

  private def unpin(df: DataFrame): Unit = holders.synchronized {
    val k = cacheId(df)
    val left = holders(k) - 1
    if (left > 0) holders(k) = left
    else {
      holders.remove(k)
      df.unpersist(blocking = true)
    }
  }

  /** Release every entry for (session, dataset). */
  def release(spark: SparkSession, dir: String): Unit =
    dropWhere(k => (k.spark eq spark) && k.dir == dir)

  /** Release every entry owned by `spark` (session shutdown). */
  def releaseSession(spark: SparkSession): Unit = dropWhere(_.spark eq spark)

  private def dropWhere(p: Key => Boolean): Unit = {
    import scala.jdk.CollectionConverters._
    entries.keySet().asScala.filter(p).toSeq
      .foreach(k => Option(entries.remove(k)).foreach(_.drop()))
  }
}
