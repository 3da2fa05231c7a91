package graft.sources

import java.net.URI
import java.nio.file.{Files, Path => NioPath}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

import graft.GraftLocalFileSystem

/** Local lake writes go through graft's `file://` filesystem, which sets
  * permissions in-process: same modes and `.crc` files as Hadoop's stock
  * `LocalFileSystem`, no forked `chmod`. */
class LocalFsSpec extends graft.GraftSpec {
  private val fmt = CommitLogTableFormat
  private def conf = spark.sparkContext.hadoopConfiguration

  /** Permission bits of `p`, sticky bit included. */
  private def mode(p: NioPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def tree(root: NioPath): Seq[NioPath] = {
    val s = Files.walk(root)
    try s.iterator().asScala.toSeq finally s.close()
  }

  test("the lake resolves file:// to graft's local filesystem") {
    val t = Files.createTempDirectory("graft_fsof").toString + "/t"
    // Hadoop caches one FileSystem per scheme for the whole JVM: an
    // instance cached before the session would serve the lake instead.
    // Without the setting, `file://` here resolves to the class a jar
    // registers for it (Hive's ProxyLocalFileSystem in Spark's jars).
    assert(fmt.fsOf(spark, t).getClass == classOf[GraftLocalFileSystem])
    assert(FileSystem.getLocal(conf).getClass == classOf[GraftLocalFileSystem])
  }

  test("files and dirs get the modes Hadoop's stock LocalFileSystem gives them, .crc files included") {
    val graftFs = FileSystem.getLocal(conf)
    val stock = new LocalFileSystem()
    stock.initialize(URI.create("file:///"), conf)
    val base = Files.createTempDirectory("graft_modes")
    // the same calls through each filesystem, under its own root
    def made(fs: FileSystem, name: String): Seq[(String, Int)] = {
      val root = base.resolve(name)
      def p(rel: String) = new Path(root.resolve(rel).toUri)
      fs.mkdirs(p("a/b/c"))
      fs.mkdirs(p("private/x"), new FsPermission("700"))
      fs.create(p("a/b/file")).close()
      fs.create(p("plain")).close()
      fs.create(p("private/x/file"), new FsPermission("600"), true, 4096, 1.toShort, 1L << 20, null).close()
      fs.mkdirs(p("sticky"))
      fs.setPermission(p("sticky"), new FsPermission(Integer.parseInt("1777", 8).toShort))
      fs.setPermission(p("a/b/file"), new FsPermission("640"))
      tree(root).map(f => root.relativize(f).toString -> mode(f)).sortBy(_._1)
    }
    val viaStock = made(stock, "stock")
    val viaGraft = made(graftFs, "graft")
    assert(viaGraft == viaStock)
    assert(viaGraft.exists(_._1 == "a/b/.file.crc"))

    // a Spark parquet write: every dir has the stock default dir mode,
    // every file the stock default file mode, and each data file its .crc
    val dirMode = viaStock.toMap.apply("a/b/c")
    val fileMode = viaStock.toMap.apply("plain")
    val out = base.resolve("out")
    spark.range(0L, 100L, 1L, 3).write.parquet(out.toString)
    val written = tree(out)
    val data = written.map(_.getFileName.toString).filter(_.endsWith(".parquet"))
    assert(data.size == 3)
    data.foreach(d => assert(Files.exists(out.resolve(s".$d.crc")), s"no .crc for $d"))
    written.foreach { f =>
      val want = if (Files.isDirectory(f)) dirMode else fileMode
      assert(mode(f) == want, s"$f: mode ${mode(f).toOctalString}, stock gives ${want.toOctalString}")
    }
  }

  test("lake writes start no process") {
    val t = Files.createTempDirectory("graft_noproc").toString + "/t"
    def rows(from: Long, n: Long, tag: String) =
      spark.range(from, from + n, 1, 2).selectExpr("id AS k", s"'$tag' AS status", "id * 3 AS v")
    fmt.commit(spark, t, rows(0, 400, "c"), "c1")
    spark.conf.set("spark.sql.catalog.procat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.procat.warehouse",
      Files.createTempDirectory("graft_procat").toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS procat.db")
    spark.sql(s"CREATE TABLE procat.db.t USING graft LOCATION '$t'")

    // Spark's executor metrics probe the page size with a `getconf`
    // once per JVM: take it before recording
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      fmt.append(spark, t, rows(400, 100, "a"), "a1")
      fmt.upsertByKey(spark, t, rows(450, 100, "u"), "k", "u1")
      fmt.erase(spark, t, col("k") % 7 === 0, "e1")
      spark.sql("INSERT INTO procat.db.t SELECT id AS k, 's' AS status, id * 3 AS v FROM range(700, 760)")
      spark.sql("DELETE FROM procat.db.t WHERE k >= 700 AND k < 710")
      val snap = fmt.currentSnapshot(spark, t).get
      fmt.compactDirs(spark, t, snap.dataDirNames.tail, "k1")
    } finally rec.stop()
    val dump = Files.createTempFile("graft_noproc", ".jfr")
    rec.dump(dump)
    rec.close()
    val started = RecordingFile.readAllEvents(dump).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command"))
    assert(started.isEmpty, s"${started.size} processes started: ${started.take(5).mkString("; ")}")
    assert(spark.read.format("graft").load(t).count() > 0)
  }
}
