package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** How the lake reads parquet: every data column decodes through the one
  * vectorized reader on both DSv2 paths, and footer stats open each
  * data file's footer once. */
class LakeParquetSpec extends graft.GraftSpec {
  private val fmt = CommitLogTableFormat
  private def conf = spark.sparkContext.hadoopConfiguration

  /** Physical parquet type name of each top-level leaf column of `file`. */
  private def physical(file: String): Map[String, String] = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), conf))
    try r.getFooter.getFileMetaData.getSchema.getFields.asScala.collect {
      case t if t.isPrimitive => t.getName -> t.asPrimitiveType.getPrimitiveTypeName.name
    }.toMap
    finally r.close()
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("one decoder: every written column type reads through DSv2 on the columnar and row paths") {
    val t = Files.createTempDirectory("graft_types").toString + "/t"
    val base = spark.range(0L, 60L, 1L, 2).select(
      col("id").as("k"),
      col("id").cast("byte").as("b"),
      col("id").cast("short").as("sh"),
      (col("id") * 1000).cast("int").as("i"),
      (col("id") * 100000L).as("l"),
      (col("id") / 3).cast("float").as("f"),
      (col("id") / 7).cast("double").as("d"),
      (col("id") % 2 === 0).as("bool"),
      concat(lit("s"), col("id")).as("str"),
      col("id").cast("string").cast("binary").as("bin"),
      date_add(lit("2024-01-01").cast("date"), col("id").cast("int")).as("dt"),
      timestamp_micros(col("id") * 1000003L).as("ts"),
      timestamp_micros(col("id") * 7L).cast("timestamp_ntz").as("ntz"),
      (col("id") / 4).cast("decimal(9,2)").as("dec32"),
      (col("id") / 8).cast("decimal(18,4)").as("dec64"),
      (col("id") / 16).cast("decimal(30,6)").as("decflba"),
      array(struct(col("id").as("x"), lit("a").as("y")),
        struct((col("id") + 1).as("x"), lit(null).cast("string").as("y"))).as("arr"),
      map(lit("p"), col("id"), lit("q"), col("id") * 2).as("m"),
      struct(col("id").as("o"),
        struct(concat(lit("in"), col("id")).as("s"), (col("id") * 3).as("v")).as("inner")).as("nest"))
      .withColumn("str", when(col("k") === 5L, lit(null)).otherwise(col("str")))
    withConf("spark.sql.parquet.outputTimestampType", "INT96") {
      fmt.commit(spark, t, base, "c1")
    }
    // the appended dir adds a column, and writes `ts` as INT64 micros
    withConf("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS") {
      fmt.append(spark, t, base.select(base.columns.map(c =>
          if (c == "k") (col("k") + 60L).as("k") else col(c)): _*)
        .withColumn("added", concat(lit("new"), col("k"))), "a1")
    }
    val snap = fmt.currentSnapshot(spark, t).get
    val files = fmt.snapshotDataFiles(spark, snap)
    def typesOf(dirSuffix: String) =
      physical(files.find(f => new Path(f).getParent.getName.endsWith(dirSuffix)).get)
    assert(typesOf("-c1")("ts") == "INT96" && typesOf("-a1")("ts") == "INT64")
    assert(!typesOf("-c1").contains("added"))
    assert(typesOf("-c1")("dec32") == "INT32" && typesOf("-c1")("dec64") == "INT64" &&
      typesOf("-c1")("decflba") == "FIXED_LEN_BYTE_ARRAY")

    val cols = base.columns.toSeq :+ "added"
    def rows(q: DataFrame): Seq[Row] =
      q.collect().toSeq.sortBy(r => if (r.isNullAt(0)) Long.MinValue else r.getLong(0))
    def scanOf(q: DataFrame): BatchScanExec = {
      q.collect()
      q.queryExecution.executedPlan.collect { case b: BatchScanExec => b }.head
    }
    def check(columnar: Boolean, liveRows: Int, olderRows: Int): Unit = {
      val lake = spark.read.format("graft").load(t)
      val truth = fmt.read(spark, t).get
      val all = lake.select(cols.map(col): _*)
      assert(scanOf(all).supportsColumnar == columnar)
      val got = rows(all)
      assert(got.size == liveRows)
      assert(got == rows(truth.select(cols.map(col): _*)))
      // a projection made only of the column the older dir lacks
      val onlyAdded = lake.select(col("added"))
      assert(scanOf(onlyAdded).supportsColumnar == columnar)
      val added = onlyAdded.collect().map(r => Option(r.getString(0))).toSeq.sorted
      assert(added == truth.select(col("added")).collect().map(r => Option(r.getString(0))).toSeq.sorted)
      assert(added.count(_.isEmpty) == olderRows)
    }
    check(columnar = true, liveRows = 120, olderRows = 60)
    assert(fmt.erase(spark, t, col("k") === 3L || col("k") === 70L, "e1") == 2L)
    check(columnar = false, liveRows = 118, olderRows = 59)
  }

  test("footer stats open each data file's footer once: per file and per commit") {
    val t = Files.createTempDirectory("graft_opens").toString + "/t"
    def rows(from: Long, parts: Int): DataFrame =
      spark.range(from, from + 400L, 1L, parts)
        .selectExpr("id AS k", "concat('s', id) AS s")
    def filesOf(token: String): Seq[String] = {
      val snap = fmt.currentSnapshot(spark, t).get
      fmt.snapshotDataFiles(spark, snap)
        .filter(f => new Path(f).getParent.getName.endsWith(s"-$token"))
    }
    def opened(body: => Any): Long = {
      val before = ParquetFooters.opens.get
      body
      ParquetFooters.opens.get - before
    }
    // a small dir measures driver-side, a large one in a Spark job
    val commitOpens = opened(fmt.commit(spark, t, rows(0L, 4), "c1"))
    assert(filesOf("c1").size == 4 && commitOpens == 4L, s"commit opened $commitOpens")
    val appendOpens = opened(fmt.append(spark, t, rows(400L, 10), "a1"))
    assert(filesOf("a1").size == 10 && appendOpens == 10L, s"append opened $appendOpens")
    filesOf("c1").foreach { f =>
      val before = ParquetFooters.opens.get
      val st = ParquetFooters.fileColStats(new Path(f), conf)
      assert(ParquetFooters.opens.get - before == 1L)
      assert(st.longs.keySet == Set("k") && st.strs.keySet == Set("s"))
    }
  }

  test("footer opens take their read options from the caller's conf") {
    val t = Files.createTempDirectory("graft_footer_conf").toString + "/t"
    spark.range(0L, 50L, 1L, 1).toDF("k").write.parquet(t)
    val file = new Path(ParquetFooters.dataFiles(new Path(t).getFileSystem(conf), new Path(t)).head)
    val c = new org.apache.hadoop.conf.Configuration(conf)
    c.setBoolean(org.apache.parquet.hadoop.ParquetInputFormat.PAGE_VERIFY_CHECKSUM_ENABLED, true)
    c.set("graft.spec.marker", "caller")
    val r = ParquetFooters.open(file, c)
    try {
      // the reader keeps its options private
      val field = classOf[ParquetFileReader].getDeclaredField("options")
      field.setAccessible(true)
      val options = field.get(r).asInstanceOf[org.apache.parquet.ParquetReadOptions]
      assert(options.usePageChecksumVerification)
      assert(options.getProperty("graft.spec.marker") == "caller")
      assert(r.getFooter.getBlocks.asScala.map(_.getRowCount).sum == 50L)
    } finally r.close()
  }

  test("compactDirs without clusterBy writes one layout for identically built tables") {
    // uncompressed fixed-width columns give every 100-row file the same
    // length, so the scan's packing order of the files is their order
    // of arrival
    // per merged file in name order: rows, and a hash of its keys in order
    def layout(): Seq[(Int, Int)] = withConf("spark.sql.parquet.compression.codec", "uncompressed") {
      val t = Files.createTempDirectory("graft_compact").toString + "/t"
      def block(i: Int): DataFrame = spark.range(i * 400L, (i + 1) * 400L, 1L, 4).toDF("k")
      fmt.commit(spark, t, block(0), "base")
      (1 to 3).foreach(i => fmt.append(spark, t, block(i), s"a$i"))
      // a different number of live rows in each file
      fmt.erase(spark, t, col("k") % 100 < col("k") % 1300 / 100, "e1")
      fmt.compactDirs(spark, t, fmt.currentSnapshot(spark, t).get.dataDirNames.tail, "k1",
        targetFiles = 3)
      val merged = new Path(t, fmt.currentSnapshot(spark, t).get.dataDirNames.last)
      ParquetFooters.dataFiles(merged.getFileSystem(conf), merged).sorted
        .map { f =>
          val keys = spark.read.parquet(f).collect().map(_.getLong(0)).toSeq
          (keys.size, keys.hashCode)
        }
    }
    val first = layout()
    val live = (400L until 1600L).count(k => k % 100 >= k % 1300 / 100.0)
    assert(first.size == 3 && first.map(_._1).sum == live)
    assert(layout() == first)
  }
}
