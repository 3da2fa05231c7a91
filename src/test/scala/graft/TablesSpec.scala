package graft

import java.nio.file.Files

/** Table loads infer a parquet schema once per listing, not per load. */
class TablesSpec extends GraftSpec {
  test("a second load of a table runs no Spark job") {
    Tables.lineitem(spark, sfDir)
    Tables.documents(spark, sfDir)
    assert(jobs(Tables.lineitem(spark, sfDir)) == 0)
    assert(jobs(Tables.events(spark, sfDir)) <= 1) // its first load
    assert(jobs(Tables.events(spark, sfDir)) == 0)
    assert(jobs(Tables.documents(spark, sfDir)) == 0)
    assert(Tables.lineitem(spark, sfDir).count() == spark.read.parquet(s"$sfDir/lineitem.parquet").count())
  }

  test("a table rewritten at the same path with a different schema loads with its new schema") {
    val dir = Files.createTempDirectory("graft_tables").toString
    spark.range(0L, 5L).toDF("a").write.parquet(s"$dir/t.parquet")
    assert(Tables(spark, dir, "t").schema.fieldNames.toSeq == Seq("a"))
    assert(jobs(Tables(spark, dir, "t")) == 0)
    spark.range(0L, 7L).selectExpr("id AS b", "'x' AS c")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val reread = Tables(spark, dir, "t")
    assert(reread.schema.fieldNames.toSeq == Seq("b", "c"))
    assert(reread.where("c = 'x'").count() == 7L)
  }
}
