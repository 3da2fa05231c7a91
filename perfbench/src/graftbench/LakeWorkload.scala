package graftbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.CommitLogTableFormat

/** `lake_cdc`: the control-table workflow on a CommitLog table keyed by
  * `item_key`, seeded from the first `BaseRows` generated lineitem rows. The seed draws
  * the keys and key ranges each operation touches; their sizes are fixed,
  * so cycles of one kind do the same amount of work. One cycle: append,
  * upsert, DV erase, SQL INSERT, SQL DELETE, snapshot resolve, full read
  * through the DVs, pruned key-range read and point read. Every
  * `CompactEvery`-th cycle then reads the base version (clean full read,
  * before any deletion vector) and back to the last compaction's version
  * (time travel and change feed), and compacts the small files written
  * since the base (`compactDirs`): the live small files come and go,
  * while the base files are never rewritten and their deletion vectors
  * keep growing.
  *
  * An in-benchmark model (key -> status) of every acknowledged write
  * checks each read, and the whole visible table at the end. */
final class LakeWorkload(dir: String, work: Path, seed: Long) extends Workload {
  private val table = work.resolve("lake/items")
  private val path = table.toString
  private val rnd = new scala.util.Random(seed)
  private val model = new java.util.TreeMap[java.lang.Long, String]()
  // keys run on from the base rows' without a gap, so the seed-drawn keys
  // and ranges land on live rows and every cycle does the same work
  private var nextKey = 0L
  private var cycle = 0
  private var baseVersion, baseRows = 0L
  private var baseDir = ""
  // the version the next time-travel read and change feed go back to:
  // the last compaction's, or the base commit's before the first one
  private var vCompact, sizeAtCompact = 0L
  // traced-pass ledger for the per-layer write and read ratios
  private var bytesWritten, filesWritten = 0L
  private var rowsExamined, rowsReturned = 0L
  private var changedBytes = 0.0
  private var tracedPasses = 0

  /** Columns of a derived row for key `id`, in table order; the SQL
    * INSERT and the DataFrame writes share them. */
  private def rowExprs(status: String): Seq[String] = Seq(
    "id % 150000 AS l_orderkey", "id % 20000 AS l_partkey", "id % 1000 AS l_suppkey",
    "CAST(id % 7 + 1 AS INT) AS l_linenumber", "CAST(id % 50 + 1 AS DOUBLE) AS l_quantity",
    "CAST(900 + id % 104100 AS DOUBLE) AS l_extendedprice",
    "CAST(id % 11 AS DOUBLE) / 100 AS l_discount", "CAST(id % 9 AS DOUBLE) / 100 AS l_tax",
    "'N' AS l_returnflag", "'O' AS l_linestatus",
    "CAST('1998-01-01' AS TIMESTAMP_NTZ) AS l_shipdate", "id AS item_key",
    s"'$status' AS status")

  private def rows(spark: SparkSession, keys: Seq[Long], status: String): DataFrame = {
    import spark.implicits._
    keys.toDF("id").selectExpr(rowExprs(status): _*)
  }

  private def lake(spark: SparkSession): DataFrame = spark.read.format("graft").load(path)

  def setup(spark: SparkSession): Unit = {
    Session.deleteTree(table)
    val base = spark.read.parquet(s"$dir/lineitem.parquet")
      .withColumn("item_key", col("_metadata.row_index"))
      .where(col("item_key") < LakeWorkload.BaseRows)
      .withColumn("status", lit("open"))
    CommitLogTableFormat.commit(spark, path, base, "init")
    // keep every version a run makes, so the base stays readable
    CommitLogTableFormat.setRetention(spark, path, 64)
    val snap = CommitLogTableFormat.currentSnapshot(spark, path).get
    baseVersion = snap.version
    baseDir = snap.dataDirNames.head
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("DROP TABLE IF EXISTS graft.db.items")
    spark.sql(s"CREATE TABLE graft.db.items USING graft LOCATION '$path'")
  }

  private def rangeSize(a: Long, b: Long): Long = model.subMap(a, b).size.toLong

  private def dataFiles(spark: SparkSession): Seq[String] =
    CommitLogTableFormat.currentSnapshot(spark, path).toSeq
      .flatMap(s => CommitLogTableFormat.snapshotDataFiles(spark, s))

  private def localPath(f: String): Path = java.nio.file.Paths.get(new java.net.URI(f).getPath)

  private def files(): Set[Path] =
    if (!Files.exists(table)) Set.empty
    else {
      val s = Files.walk(table)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toSet finally s.close()
    }

  /** Runs one lake call as span `lake.<kind>`. `body` returns the
    * number of changed rows for a write, or an error message for a call
    * whose result disagrees with the model; a throw is an error too. */
  private def op(spark: SparkSession, tr: Tracer, parent: Int, kind: String,
                 write: Boolean)(body: => Either[Long, Option[String]]): Op = {
    val before = if (tr.enabled && write) files() else Set.empty[Path]
    val t0 = System.nanoTime()
    val out = tr.span(parent, s"lake.$kind") { _ =>
      try body catch { case t: Throwable => Right(Some(t.toString.take(300))) }
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (tr.enabled) {
      if (write && kind != "compact") {
        val added = files() -- before
        bytesWritten += added.toSeq.map(Files.size(_)).sum
        filesWritten += added.count(_.getFileName.toString.endsWith(".parquet"))
        val changed = out.left.getOrElse(0L)
        val live = dataFiles(spark).map(f => Files.size(localPath(f))).sum
        changedBytes += changed * live.toDouble / math.max(1, model.size)
      }
      if (kind == "pruned_read" || kind == "point_read")
        rowsExamined += tr.spans.last.attrs.getOrElse("scan.input_records", 0.0).toLong
    }
    Op(kind, s"cycle$cycle", dt, out.toOption.flatten)
  }

  private def expect(what: String, got: Long, want: Long): Option[String] =
    if (got == want) None else Some(s"$what: got $got, model $want")

  private def fullRead(df: DataFrame, want: Long): Option[String] = {
    val r = df.agg(count(lit(1)), sum("l_quantity")).head()
    expect("full read rows", r.getLong(0), want)
  }

  /** Warm-up: one cycle, one that does not compact, with the model
    * started from the base rows the last set-up committed. It takes the
    * first-call cost of the writes, the largest; the first compaction,
    * change feed and time-travel read cost about what later ones do. */
  def warm(spark: SparkSession, tr: Tracer): Seq[Op] = {
    model.clear()
    baseRows = math.min(LakeWorkload.BaseRows, spark.read.parquet(s"$dir/lineitem.parquet").count())
    (0L until baseRows).foreach(k => model.put(k, "open"))
    nextKey = baseRows
    vCompact = baseVersion
    sizeAtCompact = baseRows
    runCycle(spark, tr, 0)
  }

  val minPasses = 2

  /** One compaction period: `CompactEvery` cycles. After the warm-up
    * cycle, every pass starts with the cycle that compacts, so the passes
    * of a run do the same work. */
  def pass(spark: SparkSession, tr: Tracer, parent: Int): Seq[Op] = {
    if (tr.enabled) tracedPasses += 1
    (1 to LakeWorkload.CompactEvery).flatMap(_ => runCycle(spark, tr, parent))
  }

  private def runCycle(spark: SparkSession, tr: Tracer, parent: Int): Seq[Op] = {
    cycle += 1
    val c = cycle
    val ops = Seq.newBuilder[Op]
    val appendN = 1200
    val appendKeys = nextKey until nextKey + appendN
    nextKey += appendN
    ops += op(spark, tr, parent, "append", write = true) {
      CommitLogTableFormat.append(spark, path, rows(spark, appendKeys, s"a$c"), s"c$c-append")
      appendKeys.foreach(k => model.put(k, s"a$c"))
      Left(appendN.toLong)
    }
    val upKeys = Seq.fill(400)((rnd.nextDouble() * nextKey).toLong).distinct
    ops += op(spark, tr, parent, "upsert", write = true) {
      CommitLogTableFormat.upsertByKey(spark, path, rows(spark, upKeys, s"u$c"), "item_key",
        s"c$c-upsert")
      upKeys.foreach(k => model.put(k, s"u$c"))
      Left(upKeys.size.toLong)
    }
    val eA = (rnd.nextDouble() * nextKey).toLong
    val eB = eA + 1000
    ops += op(spark, tr, parent, "erase", write = true) {
      val hidden = CommitLogTableFormat.erase(spark, path,
        col("item_key") >= eA && col("item_key") < eB, s"c$c-erase")
      val want = rangeSize(eA, eB)
      model.subMap(eA, eB).clear()
      if (hidden != want) Right(Some(s"erase hid $hidden rows, model $want")) else Left(want)
    }
    val insA = nextKey
    val insN = 200
    nextKey += insN
    ops += op(spark, tr, parent, "sql_insert", write = true) {
      spark.sql(s"INSERT INTO graft.db.items SELECT ${rowExprs(s"s$c").mkString(", ")} " +
        s"FROM range($insA, ${insA + insN})")
      (insA until insA + insN).foreach(k => model.put(k, s"s$c"))
      Left(insN.toLong)
    }
    val dA = (rnd.nextDouble() * nextKey).toLong
    val dB = dA + 250
    ops += op(spark, tr, parent, "sql_delete", write = true) {
      spark.sql(s"DELETE FROM graft.db.items WHERE item_key >= $dA AND item_key < $dB")
      val removed = rangeSize(dA, dB)
      model.subMap(dA, dB).clear()
      Left(removed)
    }
    ops += op(spark, tr, parent, "snapshot", write = false) {
      Right(if (dataFiles(spark).isEmpty) Some("snapshot lists no data files") else None)
    }
    ops += op(spark, tr, parent, "full_read_dv", write = false)(Right(fullRead(lake(spark), model.size.toLong)))
    val pA = (rnd.nextDouble() * nextKey).toLong
    val pB = pA + 2000
    ops += op(spark, tr, parent, "pruned_read", write = false) {
      val n = lake(spark).where(col("item_key") >= pA && col("item_key") < pB).count()
      if (tr.enabled) rowsReturned += math.max(1L, n)
      Right(expect(s"rows in [$pA, $pB)", n, rangeSize(pA, pB)))
    }
    val point = (rnd.nextDouble() * nextKey).toLong
    ops += op(spark, tr, parent, "point_read", write = false) {
      val got = lake(spark).where(col("item_key") === point).select("status")
        .collect().map(_.getString(0)).toSeq
      if (tr.enabled) rowsReturned += math.max(1, got.size)
      val want = Option(model.get(point)).toSeq
      Right(if (got == want) None else Some(s"key $point: got $got, model $want"))
    }
    if (c % LakeWorkload.CompactEvery == 0) {
      ops += op(spark, tr, parent, "full_read_clean", write = false) {
        Right(fullRead(spark.read.format("graft").option("versionAsOf", baseVersion).load(path),
          baseRows))
      }
      ops += op(spark, tr, parent, "time_travel", write = false) {
        val n = spark.read.format("graft").option("versionAsOf", vCompact).load(path).count()
        Right(expect(s"rows at version $vCompact", n, sizeAtCompact))
      }
      ops += op(spark, tr, parent, "change_feed", write = false) {
        val feed = CommitLogTableFormat.changesBetween(spark, path, vCompact,
          CommitLogTableFormat.currentSnapshot(spark, path).get.version).get
        val byType = feed.groupBy("_change_type").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val net = byType.getOrElse("insert", 0L) - byType.getOrElse("delete", 0L)
        Right(expect("net change-feed rows", net, model.size - sizeAtCompact))
      }
      ops += op(spark, tr, parent, "compact", write = true) {
        val small = CommitLogTableFormat.currentSnapshot(spark, path).get.dataDirNames
          .filterNot(_ == baseDir)
        vCompact = CommitLogTableFormat.compactDirs(spark, path, small, s"c$c-compact",
          targetFiles = 4).get
        sizeAtCompact = model.size.toLong
        Left(0L)
      }
    }
    ops.result()
  }

  /** The whole visible table against the model: same keys, same status. */
  def check(spark: SparkSession): Seq[Op] = {
    val t0 = System.nanoTime()
    val err = try {
      val got = lake(spark).select("item_key", "status").collect()
      val seen = new java.util.HashMap[java.lang.Long, String](got.length * 2)
      got.foreach(r => seen.put(r.getLong(0), r.getString(1)))
      if (got.length != model.size || seen.size != model.size)
        Some(s"visible rows ${got.length} (${seen.size} keys), model ${model.size}")
      else model.entrySet.asScala.find(e => seen.get(e.getKey) != e.getValue)
        .map(e => s"key ${e.getKey}: visible ${seen.get(e.getKey)}, model ${e.getValue}")
    } catch { case t: Throwable => Some(t.toString.take(300)) }
    Seq(Op("check", "visible table", (System.nanoTime() - t0) / 1e9, err))
  }

  def layers(spark: SparkSession, ops: Seq[Op]): Map[String, Double] = {
    def med(xs: Seq[Double]): Double = Stats.median(xs)
    val byKind = ops.groupBy(_.kind).view.mapValues(o => med(o.map(_.seconds))).toMap
    val kinds = Seq("append", "upsert", "erase", "compact", "sql_insert", "sql_delete",
      "snapshot", "full_read_dv", "full_read_clean", "pruned_read", "point_read",
      "time_travel", "change_feed")
    val writes = Set("append", "upsert", "erase", "compact", "sql_insert", "sql_delete")
    val live = dataFiles(spark)
    val liveBytes = live.map(f => Files.size(localPath(f))).sum
    kinds.map(k => s"lake.${k}_s" -> byKind.getOrElse(k, 0.0)).toMap ++ Map(
      "lake.write_p50_s" -> med(ops.filter(o => writes(o.kind)).map(_.seconds)),
      "lake.read_p50_s" -> med(ops.filter(o => !writes(o.kind)).map(_.seconds)),
      "lake.write_amp" -> bytesWritten / math.max(1.0, changedBytes),
      "lake.files_written" -> filesWritten.toDouble / math.max(1, tracedPasses),
      "lake.rows_examined_per_row_returned" -> rowsExamined.toDouble / math.max(1L, rowsReturned),
      "lake.files_live" -> live.size.toDouble,
      "lake.log_versions" -> CommitLogTableFormat.versions(spark, path).size.toDouble,
      "lake.space_amp" -> Session.treeBytes(table).toDouble / math.max(1L, liveBytes))
  }
}

object LakeWorkload {
  /** Base rows: the first third of the sf0.1 lineitem rows. With all of
    * them, three set-ups and the cycles made a run too long for the run
    * budget. */
  val BaseRows = 200000L
  /** Cycles per compaction. */
  val CompactEvery = 2
}
