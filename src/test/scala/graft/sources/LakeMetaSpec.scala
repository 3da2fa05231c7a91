package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** What a lake commit leaves in the snapshot-metadata caches, and how
  * many Spark jobs the row-level write path and the first read after it
  * run. */
class LakeMetaSpec extends graft.GraftSpec {
  private val fmt = CommitLogTableFormat

  private def rows(from: Long, n: Long, tag: String): DataFrame =
    spark.range(from, from + n, 1, 2)
      .selectExpr("id AS k", s"'$tag' AS status", "id * 3 AS v")

  private def catalog(name: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse",
      Files.createTempDirectory(s"graft_$name").toString)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.db")
  }

  /** Every metadata value of `snap`, as a reader gets it. */
  private def meta(snap: LakeSnapshot): Seq[(String, Any)] = Seq(
    "schema" -> fmt.snapshotSchema(spark, snap),
    "files" -> fmt.snapshotDataFiles(spark, snap),
    "sizes" -> fmt.snapshotFileSizes(spark, snap),
    "stats" -> fmt.snapshotFileStats(spark, snap),
    "dvFiles" -> fmt.dvHitFiles(spark, snap))

  /** Runs the commit `write` on `table` with the current version's
    * metadata cached, checks every value the commit left for the new
    * version against the value a cold cache recomputes, and returns the
    * caches the commit seeded. */
  private def seeds(table: String)(write: => Any): Set[String] = {
    fmt.currentSnapshot(spark, table).foreach(meta)
    write
    val snap = fmt.currentSnapshot(spark, table).get
    val seeded = fmt.cachedMeta(spark, snap)
    val carried = meta(snap)
    fmt.invalidateMetaCache()
    meta(snap).zip(carried).foreach { case ((name, recomputed), (_, kept)) =>
      assert(kept == recomputed,
        s"version ${snap.version} $name: carried $kept, recomputed $recomputed")
    }
    seeded
  }

  test("lake commits seed the new version's metadata exactly as a reader recomputes it") {
    val t = Files.createTempDirectory("graft_seed").toString + "/t"
    val plain = Set("schema", "files", "sizes", "stats")
    val withDv = plain + "dvFiles"
    def dirOf(token: String): String =
      fmt.currentSnapshot(spark, t).get.dataDirNames.find(_.endsWith(s"-$token")).get

    assert(seeds(t)(fmt.commit(spark, t, rows(0, 400, "c"), "c1")) == plain)
    assert(seeds(t)(fmt.append(spark, t, rows(400, 100, "a"), "a1")) == plain)
    assert(seeds(t)(fmt.erase(spark, t, col("k") % 7 === 0, "e1")) == withDv)
    assert(seeds(t)(fmt.erase(spark, t, spark.range(10, 20).toDF("id"), "id", "k", "e2")) == withDv)
    assert(seeds(t)(fmt.upsertByKey(spark, t, rows(450, 100, "u"), "k", "u1")) == withDv)
    assert(seeds(t)(fmt.appendChecked(spark, t, rows(600, 50, "ck"), "ac1",
      Seq("k_nonneg" -> (col("k") >= 0)))) == withDv)
    catalog("seedcat")
    spark.sql(s"CREATE TABLE seedcat.db.t USING graft LOCATION '$t'")
    assert(seeds(t)(spark.sql("INSERT INTO seedcat.db.t " +
      "SELECT id AS k, 's' AS status, id * 3 AS v FROM range(700, 760)")) == withDv)
    assert(seeds(t)(spark.sql("DELETE FROM seedcat.db.t WHERE k >= 700 AND k < 710")) == withDv)
    // the upsert and checked-append dirs hold no DV hit: nothing folds,
    // the DV is carried forward
    val dvBefore = fmt.currentSnapshot(spark, t).get.dvName
    assert(seeds(t)(fmt.compactDirs(spark, t, Seq(dirOf("u1"), dirOf("ac1")), "k1")) == withDv)
    assert(fmt.currentSnapshot(spark, t).get.dvName == dvBefore)
    // the base dir's hits fold in, the appended dir's stay: a new DV
    assert(seeds(t)(fmt.compactDirs(spark, t, Seq(dirOf("c1")), "k2")) == withDv)
    assert(fmt.currentSnapshot(spark, t).get.dvName.exists(_.endsWith("-k2")))
    // a schema-evolving append is not seeded with a schema; an append
    // with exactly the evolved union schema is
    assert(seeds(t)(fmt.append(spark, t,
      rows(900, 20, "x").withColumn("extra", lit(1)), "x1")) == withDv - "schema")
    assert(seeds(t)(fmt.append(spark, t,
      rows(950, 20, "y").withColumn("extra", lit(2)), "y1")) == withDv)
    // every hit folds in: no DV left; the merged dir is written with the
    // union schema, which the surviving dir shares
    assert(seeds(t)(fmt.compactDirs(spark, t,
      fmt.currentSnapshot(spark, t).get.dataDirNames.filterNot(_.endsWith("-y1")), "k3")) ==
      plain)
    assert(fmt.currentSnapshot(spark, t).get.dvName.isEmpty)
  }

  test("lake write-path job budget: erase, upsert, SQL DELETE and the first read after each") {
    val t = Files.createTempDirectory("graft_budget").toString + "/t"
    fmt.commit(spark, t, rows(0, 2000, "c"), "c1")
    fmt.erase(spark, t, col("k") % 11 === 0, "e0")
    catalog("budgetcat")
    spark.sql(s"CREATE TABLE budgetcat.db.t USING graft LOCATION '$t'")
    def read(): Unit = {
      spark.read.format("graft").load(t).where(col("k") >= 100).select("status").collect()
      ()
    }
    read()
    val spent = Seq(
      "erase" -> jobs(fmt.erase(spark, t, col("k") < 50, "e1")),
      "read after erase" -> jobs(read()),
      "upsert" -> jobs(fmt.upsertByKey(spark, t, rows(1990, 20, "u"), "k", "u1")),
      "read after upsert" -> jobs(read()),
      "SQL DELETE" -> jobs(spark.sql("DELETE FROM budgetcat.db.t WHERE k >= 500 AND k < 520")),
      "read after SQL DELETE" -> jobs(read()))
    // a write is its hit scan + DV write (prior-DV broadcast, range
    // shuffle, write) plus, for an upsert, the update keys' broadcast
    // and the new dir's write — no schema, count or distinct job; the
    // first read after it runs only the query's own job, the commit
    // having seeded every piece of metadata the planner needs
    val budget = Map("erase" -> 3, "read after erase" -> 1, "upsert" -> 5,
      "read after upsert" -> 1, "SQL DELETE" -> 3, "read after SQL DELETE" -> 1)
    spent.foreach { case (what, n) =>
      assert(n <= budget(what), s"$what ran $n Spark jobs, budget ${budget(what)}: $spent")
    }
  }
}
