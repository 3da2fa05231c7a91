package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The lake's one parquet FOOTER statistics walk (no data pages
  * touched) — the measurement half of the zone-map machinery:
  * [[fileColStats]] measures a file's bounds for the commit-time
  * `_stats` sidecar, for live snapshot stats of dirs without one
  * ([[CommitLogTableFormat.snapshotFileStats]]), and for
  * [[ZOrderLayout.pruneCount]] on plain directories. */
private[graft] object ParquetFooters {

  /** JVM-local diagnostic: how many data-file footers the engine has
    * opened for their row groups (incremented in [[fileColStats]] and
    * the DSv2 COUNT(*) replay, wherever they run — in local mode that
    * is one JVM, which is what the footer-open specs need: a pruned read over a
    * stats-bearing snapshot opens ZERO data-file footers, and a
    * commit opens each new file's footer once). Not a cluster-wide
    * metric and never read by engine logic. */
  val opens = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Opens `path` for a footer or page read with read options built
    * from `conf`, the caller's conf. `ParquetFileReader.open(InputFile)`
    * builds them from a fresh default `Configuration` instead: that
    * misses every parquet read option the caller's conf sets, and
    * re-parses Hadoop's default resources on every open. `filter`
    * selects the footer's row-group metadata. Every footer read of the
    * lake goes through here; [[fileColStats]] and the COUNT(*) replay
    * also count theirs in [[opens]]. */
  def open(path: Path, conf: Configuration,
           filter: ParquetMetadataConverter.MetadataFilter = ParquetMetadataConverter.NO_FILTER)
      : ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(path, conf),
      HadoopReadOptions.builder(conf, path).withMetadataFilter(filter).build())

  /** One file's combined footer stats, the unit the pruners evaluate:
    * per-column (min, max, nulls, rows) for INT32/INT64 columns and
    * (truncated lower, truncated upper, nulls, rows) for ASCII-safe
    * string columns — buildable from a live footer read OR from a
    * persisted `_stats` sidecar row set, so every prune predicate is
    * written once against this shape and cannot diverge between the
    * measured and persisted paths. */
  case class FileColStats(longs: Map[String, (Long, Long, Long, Long)],
                          strs: Map[String, (String, String, Long, Long)])

  /** How many leading chars of a string bound the zone map keeps —
    * the Iceberg `truncate(16)` convention: long enough to separate
    * real key domains (sources, states, URL hosts), short enough that
    * a footer row stays tiny at 100 TB file counts. */
  val StringBoundChars = 16

  /** Live-measured [[FileColStats]] of one parquet file: ONE footer
    * open, one pass over its column chunks. A column gets a bound only
    * when EVERY row group carries usable stats for it (a true bound).
    *  - `longs`: INT64/INT32 leaf columns, file-level (min, max).
    *  - `strs`: string-annotated BINARY leaf columns, Iceberg-style
    *    truncated bounds — `lower` = min truncated to
    *    [[StringBoundChars]] (truncation only ever LOWERS a lower
    *    bound), `upper` = max truncated with its last kept char
    *    incremented when truncation dropped anything (so it stays a
    *    TRUE upper bound). Bounds with any non-ASCII byte are skipped
    *    for that file (the file is KEPT by every pruner —
    *    conservative): parquet orders binary stats by unsigned bytes
    *    while java.lang.String compares UTF-16 code units, and the two
    *    orders diverge outside ASCII, so only the ASCII range is safe
    *    to compare across the two systems.
    * Both kinds carry the column's null count and the file's rows. */
  def fileColStats(path: Path, conf: Configuration): FileColStats = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.LogicalTypeAnnotation.StringLogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, INT32, INT64}
    opens.incrementAndGet()
    val reader = open(path, conf)
    val blocks = try reader.getFooter.getBlocks.asScala.toSeq finally reader.close()
    val rows = blocks.map(_.getRowCount).sum
    val chunks = blocks.flatMap(_.getColumns.asScala)
    def hasStats(c: ColumnChunkMetaData): Boolean = {
      val st = c.getStatistics
      st != null && !st.isEmpty && st.hasNonNullValue
    }
    def longBound(c: ColumnChunkMetaData): Option[(Long, Long, Long)] = {
      val tn = c.getPrimitiveType.getPrimitiveTypeName
      if ((tn == INT64 || tn == INT32) && hasStats(c)) {
        val st = c.getStatistics
        Some((st.genericGetMin.asInstanceOf[Number].longValue,
          st.genericGetMax.asInstanceOf[Number].longValue, st.getNumNulls))
      } else None
    }
    def stringBound(c: ColumnChunkMetaData): Option[(String, String, Long)] = {
      val pt = c.getPrimitiveType
      if (pt.getPrimitiveTypeName == BINARY && hasStats(c) &&
          pt.getLogicalTypeAnnotation.isInstanceOf[StringLogicalTypeAnnotation]) {
        val st = c.getStatistics
        val mn = st.genericGetMin.asInstanceOf[Binary].getBytes
        val mx = st.genericGetMax.asInstanceOf[Binary].getBytes
        if (mn.exists(_ < 0) || mx.exists(_ < 0)) None // non-ASCII: skip
        else Some((new String(mn, "US-ASCII"), new String(mx, "US-ASCII"), st.getNumNulls))
      } else None
    }
    // a true bound requires usable stats in EVERY row-group chunk
    def everyChunk[B](bound: ColumnChunkMetaData => Option[B]): Map[String, Seq[B]] =
      chunks.groupBy(_.getPath.toDotString).flatMap { case (col, cs) =>
        val bs = cs.map(bound)
        if (bs.forall(_.isDefined)) Some(col -> bs.flatten) else None
      }
    FileColStats(
      everyChunk(longBound).map { case (col, s) =>
        col -> ((s.map(_._1).min, s.map(_._2).max, s.map(_._3).sum, rows)) },
      everyChunk(stringBound).map { case (col, s) =>
        col -> ((truncateLower(s.map(_._1).min), truncateUpper(s.map(_._2).max),
          s.map(_._3).sum, rows)) })
  }

  def dataFiles(fs: FileSystem, dataDir: Path): Seq[String] = {
    val listed = fs.globStatus(new Path(dataDir, "*.parquet"))
    if (listed == null) Seq.empty else listed.toSeq.map(_.getPath.toString)
  }

  /** Truncation only lowers a LOWER bound — always safe. */
  private def truncateLower(s: String): String = s.take(StringBoundChars)

  /** An UPPER bound that was truncated must be bumped to stay above
    * everything it used to cover: increment the last kept char (ASCII
    * by construction, so +1 never overflows a char). */
  private def truncateUpper(s: String): String =
    if (s.length <= StringBoundChars) s
    else {
      val t = s.take(StringBoundChars)
      t.init + (t.last + 1).toChar
    }
}

/** Z-order (Morton) layout EXECUTOR — a30 plans this pass at the
  * manifest grain; this runs it on data: rows are written in
  * interleaved-bit order of two query keys so a file's footer range on
  * EITHER key is tight, and a two-key box predicate prunes to
  * O(√files) instead of all of them (Delta/Iceberg OPTIMIZE ZORDER BY
  * semantics). The loop closes end-to-end in this repo: a30 plans →
  * [[write]] executes → [[pruneCount]] measures the footer ranges
  * ([[ParquetFooters.fileColStats]]) and range-tests them.
  *
  * Scale shape: ONE range-shuffle on the z-value (repartitionByRange —
  * Spark samples split points, so files are balanced under skew) plus
  * a within-partition sort; data moves exactly once, and the sort keeps
  * row-group stats tight INSIDE each file too. [[pruneCount]] is the
  * planner-side consumer: footer ranges only, no data read. */
object ZOrderLayout {

  /** Morton z-value of two non-negative long keys, `bits` bits each
    * (key-a bits at even positions — a30's exact interleave). */
  def zvalue(a: Column, b: Column, bits: Int): Column = {
    def bit(c: Column, i: Int): Column = shiftright(c, i).bitwiseAND(lit(1L))
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc + shiftleft(bit(a, i), 2 * i) + shiftleft(bit(b, i), 2 * i + 1)
    }
  }

  /** Write `df` under `outDir` as `nFiles` parquet files clustered in
    * z-order of (keyA, keyB). Keys must be non-negative and fit in
    * `bits` bits (callers bucket/clamp first — a30's mod-1024 shape). */
  def write(df: DataFrame, keyA: String, keyB: String, bits: Int,
            nFiles: Int, outDir: String): Unit =
    df.withColumn("__z", zvalue(col(keyA), col(keyB), bits))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(outDir)

  /** Files under `dir` a (loA..hiA, loB..hiB) box predicate must read,
    * per the footer zone map on both keys: (kept, total). Files
    * lacking a bound on either key are kept — pruning never loses
    * rows. Layout-agnostic (HilbertLayout's measurements use it too). */
  def pruneCount(spark: SparkSession, dir: String, keyA: String, keyB: String,
                 loA: Long, hiA: Long, loB: Long, hiB: Long): (Int, Int) = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = ParquetFooters.dataFiles(fs, new Path(dir))
    val conf = spark.sparkContext.hadoopConfiguration
    val kept = files.count { p =>
      val st = ParquetFooters.fileColStats(new Path(p), conf).longs
      def admits(k: String, lo: Long, hi: Long): Boolean = st.get(k) match {
        case Some((mn, mx, _, _)) => !(mx < lo || mn > hi)
        case None => true
      }
      admits(keyA, loA, hiA) && admits(keyB, loB, hiB)
    }
    (kept, files.size)
  }
}

/** Hilbert-curve layout executor — ZOrderLayout's successor key (the
  * Databricks-liquid-clustering / Iceberg-hilbert-sort-order move):
  * consecutive Hilbert positions are ALWAYS Manhattan-adjacent cells,
  * where Morton takes 2^k-sized diagonal jumps at power-of-two
  * boundaries — so the contiguous curve ranges that become files cover
  * tighter spatial boxes, footer ranges on both keys are tighter, and
  * a two-key box predicate prunes to fewer files on the same data,
  * same file count, same one-shuffle write (spec-proven never-worse on
  * the grid fixture, strictly better on diagonal-straddling boxes).
  *
  * The curve position comes from the native codegen'd
  * [[graft.functions.HilbertIndex]] expression — the per-level
  * rotate/reflect walk is iterative with carried state, which as
  * composed Column arithmetic would double the expression tree per bit
  * level. Same scale shape as ZOrderLayout: ONE range-shuffle on the
  * curve position + within-partition sort; bytes move exactly once. */
object HilbertLayout {

  /** Hilbert position of two non-negative long keys on the 2^bits grid
    * ([[graft.functions.HilbertIndex]]; keys must fit `bits` bits —
    * callers bucket/clamp first, the a30/ZOrder contract). */
  def hvalue(a: Column, b: Column, bits: Int): Column =
    call_function("hilbert_index", a, b, lit(bits))

  /** Write `df` under `outDir` as `nFiles` parquet files clustered in
    * Hilbert order of (keyA, keyB). */
  def write(df: DataFrame, keyA: String, keyB: String, bits: Int,
            nFiles: Int, outDir: String): Unit =
    df.withColumn("__h", hvalue(col(keyA), col(keyB), bits))
      .repartitionByRange(nFiles, col("__h"))
      .sortWithinPartitions(col("__h"))
      .drop("__h")
      .write.mode("overwrite").parquet(outDir)
}
