package graft

import org.apache.spark.sql.SparkSession

/** Central session factory with the engine's tuned defaults.
  *
  * Design notes (100 TB posture): AQE handles runtime coalescing and
  * skew-join splitting; shuffle partitions default to the local core
  * count but are expected to be overridden (e.g. 2–4× total cores) on a
  * real cluster; broadcast threshold is raised so dimension tables
  * (region/nation/supplier/part) broadcast instead of shuffling facts.
  */
object GraftSession {
  /** Whole-stage codegen settings, shared by [[builder]] and `Verify`.
    *
    *  - `maxFields` 256: wide aggregates (128-column minhash signatures)
    *    stay in codegen.
    *  - `cache.maxEntries` 8,192: Spark's LRU of compiled generated
    *    classes (default 100) must hold graft's working set, or every
    *    repeat of a query batch recompiles its classes with Janino and
    *    runs them cold, before the JIT has compiled them. Measured
    *    working sets: about 200 classes for one pass of the eight
    *    `suite_mix` benchmark queries (at 100 entries each pass
    *    recompiled about 195 and took 8.2 s instead of 5.0 s; at 200 an
    *    LRU at the edge of its working set still recompiled about 100),
    *    and 4,314 distinct classes for one pass over the whole registry.
    *    The bound is about twice the latter. It costs no metaspace:
    *    evicted classes pile up there until they are unloaded, and two
    *    registry passes (`graft.Bench` at sf0.001) ended with 236 MB of
    *    metaspace in use at this bound against 282 MB at 100.
    *  - `useIdInClassName` false: AQE numbers whole-stage codegen stages
    *    in the order their query stages materialize, which varies from
    *    run to run when independent stages race. With the stage id in
    *    the class name, the same operator generated a new class body
    *    (`GeneratedIteratorForCodegenStage7` instead of `…Stage8`) and
    *    missed the cache: d6 recompiled 4 to 12 classes on about one
    *    repeat in ten. The cache keys on the body, so without the id
    *    those bodies are identical.
    *
    * The cache is a JVM-wide static: `CodeGenerator` sizes it once, from
    * the conf of the session that triggers the JVM's first codegen. A
    * JVM whose first generated class comes from a session built without
    * these settings keeps Spark's 100 entries for its whole life. */
  val codegen: Map[String, String] = Map(
    "spark.sql.codegen.maxFields" -> "256",
    "spark.sql.codegen.cache.maxEntries" -> "8192",
    "spark.sql.codegen.useIdInClassName" -> "false")

  def builder(appName: String = "graft",
              master: Option[String] = None,
              shufflePartitions: Int = Runtime.getRuntime.availableProcessors): SparkSession.Builder = {
    val b = SparkSession.builder().appName(appName)
    master.foreach(b.master)
    b.config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      // TIMESTAMP(NANOS) parquet (events.ts) reads as long; Tables.events converts.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // write timestamps as INT64 micros, not the deprecated INT96:
      // INT96 carries NO parquet statistics, so lake tables written
      // with it can never prune a time-range predicate (the footer
      // zone map and `_stats` sidecars record INT64 columns only) —
      // the Delta/Iceberg modern-encoding posture
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config(codegen)
  }

  def local(appName: String = "graft-local", cores: Int = Runtime.getRuntime.availableProcessors): SparkSession =
    builder(appName, Some(s"local[$cores]"), cores).config("spark.ui.enabled", "false").getOrCreate()
}
