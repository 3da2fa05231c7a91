package graft

import java.nio.file.Files

import graft.operators.DedupOps
import graft.sources.{ColumnarSources, PartitionedSink, Sinks, SourceRegistry}
import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class SourcesStreamingSpec extends GraftSpec {

  test("PartitionedSink promotes with hive layout and prunes partitions") {
    val out = Files.createTempDirectory("graft_sink").toString
    val events = Tables.events(spark, sfDir)
    PartitionedSink.promote(events, out, "event_type", "ts")
    val back = spark.read.parquet(out)
    assert(back.count() == events.count())
    // partition pruning: a source+day filter must read only its dirs
    val one = back.filter(col("source") === "click" && col("y") === 2024 && col("m") === 1 && col("d") === 5)
    val plan = one.queryExecution.executedPlan.toString
    assert(one.count() > 0)
    assert(plan.contains("PartitionFilters"), plan.take(1500))
  }

  test("promoteCompacted bounds files per partition dir (small-files guard)") {
    val out = Files.createTempDirectory("graft_sink_c").toString
    val events = Tables.events(spark, sfDir).repartition(16) // many writer tasks
    PartitionedSink.promoteCompacted(events, out, "event_type", "ts", filesPerDir = 2)
    assert(spark.read.parquet(out).count() == events.count())
    val dirs = new java.io.File(out).listFiles().filter(_.getName.startsWith("source="))
      .flatMap(_.listFiles()).flatMap(_.listFiles()).flatMap(_.listFiles()) // y/m/d
    assert(dirs.nonEmpty)
    dirs.foreach { d =>
      val files = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(files <= 2, s"${d.getPath} has $files files (> 2)")
    }
  }

  test("session/window family survives a planted hot user key (r6 verdict #7)") {
    // The suite's most skew-exposed shape at 100 TB is the user-keyed
    // session window (c2/c10/c17 share the exchange). Plant one hot
    // user holding ~10% of all events and assert the family completes
    // and stays self-consistent. NOTE the scale posture: AQE's skew
    // handling splits oversized SHUFFLE-JOIN partitions but can NOT
    // split a window partition (a key's rows must be co-located for
    // the sort), so a pathologically hot user is bounded by one
    // executor's spill capacity. The escape hatch is salting the
    // session window: pre-split the hot user on coarse time buckets
    // (e.g. day), sessionize within buckets, then merge boundary
    // sessions — the c2 gap rule only needs the previous event, so
    // only the per-bucket first/last rows need the second pass.
    val hot = 424242L
    val src = Tables.events(spark, sfDir)
    val total = src.count()
    val skewDir = Files.createTempDirectory("graft_skew").toString
    src.withColumn("user_id",
        when(pmod(col("event_id"), lit(10)) === 0, lit(hot)).otherwise(col("user_id")))
      .write.mode("overwrite").parquet(skewDir + "/events.parquet")
    val planted = spark.read.parquet(skewDir + "/events.parquet")
      .filter(col("user_id") === hot).count()
    assert(planted >= total / 11, "hot key must hold ~10% of events")

    val c2 = operators.Events.c2Sessionize(spark, skewDir).collect()
    assert(c2.map(_.getLong(2)).sum == total, "c2 conserves events under skew")
    assert(c2.find(_.getLong(0) == hot).map(_.getLong(2)).contains(planted))
    val c10 = operators.Events.c10SessionStats(spark, skewDir)
    val nSessions = c10.count()
    assert(c10.filter(col("user_id") === hot)
      .agg(sum(col("n_events"))).head.getLong(0) == planted)
    val c17 = operators.Events.c17BounceRate(spark, skewDir)
    assert(c17.agg(sum(col("n_sessions"))).head.getLong(0) == nSessions,
      "c17 day rollup conserves c10's session count under skew")
  }

  test("AQE splits a skewed sort-merge join partition (runtime skew evidence)") {
    // Complements the window-family skew spec: for JOINS (snapshot
    // diff a21, contamination d20, merge sink), AQE's OptimizeSkewedJoin
    // CAN split an oversized partition at runtime — assert it actually
    // fires on a planted hot key, with thresholds scaled down to test
    // data (at 100 TB the defaults: 256 MB threshold, factor 5).
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.forceOptimizeSkewedJoin")
      .map(k => k -> util.Try(conf.get(k)).toOption).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // the consuming aggregate shares the join key, so a skew split
      // would cost it an extra shuffle and AQE skips it by default;
      // force documents that tradeoff (split the straggler, re-shuffle
      // the much smaller aggregate input — the right call at 100 TB)
      conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      val hot = 99999L
      // ~30% of both sides on one key, with a fat payload so the hot
      // partition crosses the lowered byte threshold
      def side(n: Int, tag: String) = spark.range(n).toDF("id")
        .withColumn("k", when(pmod(col("id"), lit(3)) === 0, lit(hot)).otherwise(col("id")))
        .withColumn(s"pay_$tag", concat_ws("", array((0 until 40).map(_ => md5(col("id").cast("string"))): _*)))
      // aggregate over the payloads so column pruning can't drop them:
      // a pruned hot partition is one repeated long that COMPRESSES
      // below any byte threshold and never registers as skewed
      val j = side(20000, "a").join(side(20000, "b").withColumnRenamed("id", "id_b"), "k")
        .groupBy(col("k"))
        .agg(sum(length(col("pay_a"))).as("la"), sum(length(col("pay_b"))).as("lb"))
      // execute THIS QueryExecution (a sink write would run its own
      // copy and leave j's adaptive plan unfinalized)
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected AQE skew-split SMJ in final plan:\n${plan.take(1500)}")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("dynamic partition pruning fires on the PartitionedSink layout (r6 verdict #5)") {
    // The dominant scan-killer at 100x scale: a fact table stored in
    // the hive layout, joined to a filtered dim on the partition
    // column, must plan a DynamicPruningExpression partition filter so
    // only the dim-selected partition dirs are read at runtime.
    val out = Files.createTempDirectory("graft_dpp").toString
    PartitionedSink.promote(
      Tables.events(spark, sfDir), out, "event_type", "ts")
    val fact = spark.read.parquet(out)
    // dim: registry of sources with one admitted row. Must be a REAL
    // file source — a local relation constant-folds the filter away and
    // DPP's selective-predicate check never sees it.
    import spark.implicits._
    // ... and the predicate must survive as a comparison: a bare
    // boolean attribute fails Catalyst's isLikelySelective test.
    val dimDir = Files.createTempDirectory("graft_dpp_dim").toString
    Seq(("view", "admitted"), ("click", "blocked"), ("purchase", "blocked"))
      .toDF("src", "status").write.mode("overwrite").parquet(dimDir)
    val admitted = spark.read.parquet(dimDir)
    val joined = fact.join(admitted.filter(col("status") === "admitted"),
        col("source") === col("src"))
      .groupBy(col("source")).count()
    val plan = joined.queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("dynamicpruning"),
      "partitioned-fact ⋈ filtered-dim on the partition column must plan DPP")
    // and the result only touched the admitted partition
    val srcs = joined.collect().map(_.getString(0)).toSet
    assert(srcs == Set("view"))
  }

  test("Profiles: partials merge to the full-scan profile, any order") {
    import graft.jobs.Profiles
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
    val li = Tables.lineitem(spark, sfDir)
    val full = Profiles.partial(li, cols)
    // three disjoint batches by orderkey residue — ingest-partition stand-ins
    val parts = (0 until 3).map(r => Profiles.partial(
      li.filter(pmod(col("l_orderkey"), lit(3)) === r), cols))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("column_name")).collect().map(_.toSeq).toSeq
    val merged = rows(Profiles.merge(parts: _*))
    assert(merged == rows(full), "merged partials must equal the full-scan profile")
    // commutative + associative: reversed order, nested fold — same result
    assert(rows(Profiles.merge(parts.reverse: _*)) == merged)
    assert(rows(Profiles.merge(Profiles.merge(parts(0), parts(1)), parts(2))) == merged)
    // mean derives from the monoid fields
    val m = Profiles.withMean(full).filter(col("column_name") === "l_discount")
      .select(col("mean_val")).head.getDouble(0)
    assert(m > 0 && m < 1)
  }

  test("Sinks.mergeByKey: MERGE semantics, stale updates lose, rerun idempotent") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_merge").toString + "/control"
    // seed table: (key, status, ver)
    Sinks.mergeByKey(spark,  dir,
      Seq((1L, "pending", 1L), (2L, "pending", 1L), (3L, "done", 1L)).toDF("k", "status", "ver"),
      Seq("k"), Seq("ver"))
    // batch 1: update k=1, insert k=4, STALE update for k=3 (ver 0 < 1)
    val updates = Seq((1L, "done", 2L), (4L, "pending", 1L), (3L, "error", 0L))
      .toDF("k", "status", "ver")
    Sinks.mergeByKey(spark, dir, updates, Seq("k"), Seq("ver"))
    def snap() = spark.read.parquet(dir).as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    val expect = Seq((1L, "done", 2L), (2L, "pending", 1L), (3L, "done", 1L), (4L, "pending", 1L))
    assert(snap() == expect)
    // rerun the SAME merge (Step Function retry): fixed point
    Sinks.mergeByKey(spark, dir, updates, Seq("k"), Seq("ver"))
    assert(snap() == expect)
    // no orderCols: updates side wins matched keys unconditionally
    Sinks.mergeByKey(spark, dir, Seq((2L, "error", 1L)).toDF("k", "status", "ver"), Seq("k"))
    assert(snap() == Seq((1L, "done", 2L), (2L, "error", 1L), (3L, "done", 1L), (4L, "pending", 1L)))
    // exactly ONE key-partitioned exchange in the merge plan per input side
    val plan = Sinks.mergePlan(spark.read.parquet(dir),
      updates, Seq("k"), Seq("ver")).queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("broadcast"), "merge must not assume a broadcastable side")
  }

  test("TableFormat: merge semantics hold under BOTH commit protocols") {
    import spark.implicits._
    val formats: Seq[(String, graft.sources.TableFormat)] = Seq(
      "rename" -> graft.sources.RenameTableFormat,
      "commitlog" -> graft.sources.CommitLogTableFormat)
    formats.foreach { case (tag, fmt) =>
      val dir = Files.createTempDirectory(s"graft_tf_$tag").toString + "/control"
      assert(fmt.read(spark, dir).isEmpty, tag)
      Sinks.mergeByKey(spark, dir,
        Seq((1L, "pending", 1L), (2L, "pending", 1L), (3L, "done", 1L))
          .toDF("k", "status", "ver"),
        Seq("k"), Seq("ver"), token = "seed", format = fmt)
      val updates = Seq((1L, "done", 2L), (4L, "pending", 1L), (3L, "error", 0L))
        .toDF("k", "status", "ver")
      Sinks.mergeByKey(spark, dir, updates, Seq("k"), Seq("ver"),
        token = "b1", format = fmt)
      def snap() = fmt.read(spark, dir).get
        .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
      val expect = Seq((1L, "done", 2L), (2L, "pending", 1L),
        (3L, "done", 1L), (4L, "pending", 1L))
      assert(snap() == expect, tag)
      // retried merge (Step Function retry): fixed point under any format
      Sinks.mergeByKey(spark, dir, updates, Seq("k"), Seq("ver"),
        token = "b1r", format = fmt)
      assert(snap() == expect, tag)
    }
  }

  test("RenameTableFormat: crash between the swap renames is recovered on read") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val fmt = graft.sources.RenameTableFormat
    val dir = Files.createTempDirectory("graft_tf_crash").toString + "/t"
    fmt.commit(spark, dir, Seq((1L, "a")).toDF("k", "v"), "t1")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate dying between rename(snap, old) and rename(tmp, snap):
    // the live dir exists only under .old-<token>
    assert(fs.rename(new Path(dir), new Path(s"$dir.old-t2")))
    val recovered = fmt.read(spark, dir)
    assert(recovered.isDefined && recovered.get.count() == 1)
    assert(fs.exists(new Path(dir)), "recovery must restore the live dir")
  }

  test("CommitLogTableFormat: orphans invisible, atomic publish, vacuum keeps two") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val fmt = graft.sources.CommitLogTableFormat
    val dir = Files.createTempDirectory("graft_tf_log").toString + "/t"
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fmt.commit(spark, dir, Seq((1L, "v1")).toDF("k", "v"), "a")
    // crash BEFORE the log append: data dir written, never published —
    // readers must still see v1 (there is no partial-visibility window)
    Seq((9L, "crashed")).toDF("k", "v")
      .write.parquet(s"$dir/data-v2-crashed")
    assert(fmt.read(spark, dir).get.as[(Long, String)].collect().toSeq ==
      Seq((1L, "v1")))
    // the next commit publishes v2 and vacuums the orphan
    fmt.commit(spark, dir, Seq((2L, "v2")).toDF("k", "v"), "b")
    assert(fmt.read(spark, dir).get.as[(Long, String)].collect().toSeq ==
      Seq((2L, "v2")))
    assert(!fs.exists(new Path(s"$dir/data-v2-crashed")), "orphan vacuumed")
    // third commit: v1's data dir is vacuumed, v2 retained for in-flight
    // readers, v3 live
    fmt.commit(spark, dir, Seq((3L, "v3")).toDF("k", "v"), "c")
    val dataDirs = fs.globStatus(new Path(s"$dir/data-v*"))
      .map(_.getPath.getName).toSet
    assert(dataDirs == Set("data-v2-b", "data-v3-c"), dataDirs.toString)
    // the lost-race guard: an existing log entry blocks a second
    // publish of the same version (create-if-absent shown here; commit
    // itself uses exists + rename-fails-if-exists)
    intercept[java.io.IOException] {
      fs.create(new Path(s"$dir/_log/3"), false).close()
    }
    // time travel over the retained window: v2 readable as committed,
    // v1 vacuumed, v3 current
    assert(fmt.versions(spark, dir) == Seq(2L, 3L))
    assert(fmt.readVersion(spark, dir, 2L).get.as[(Long, String)].collect().toSeq ==
      Seq((2L, "v2")))
    assert(fmt.readVersion(spark, dir, 1L).isEmpty, "vacuumed version must be gone")
    assert(fmt.readVersion(spark, dir, 3L).get.as[(Long, String)].collect().toSeq ==
      Seq((3L, "v3")))
    // crash window of the legacy create-then-write protocol: an EMPTY
    // highest log entry must not brick the table — readers skip it and
    // fall back, time travel reports it unpublished, and the next
    // commit recovers the version slot instead of throwing
    fs.create(new Path(s"$dir/_log/4"), false).close()
    assert(fmt.read(spark, dir).get.as[(Long, String)].collect().toSeq ==
      Seq((3L, "v3")), "reader must fall back past an empty entry")
    assert(fmt.readVersion(spark, dir, 4L).isEmpty, "empty entry is not a version")
    fmt.commit(spark, dir, Seq((4L, "v4")).toDF("k", "v"), "d")
    assert(fmt.read(spark, dir).get.as[(Long, String)].collect().toSeq ==
      Seq((4L, "v4")), "commit after a crashed entry must publish normally")
    assert(fmt.versions(spark, dir) == Seq(3L, 4L))
    // no staged tmp survives a successful commit
    assert(fs.globStatus(new Path(s"$dir/_log/.tmp-*")).isEmpty,
      "staged entries must be vacuumed")
  }

  test("CommitLogTableFormat: footer zone map prunes files; pruned reads stay exact") {
    import spark.implicits._
    val fmt = graft.sources.CommitLogTableFormat
    val dir = Files.createTempDirectory("graft_tf_stats").toString + "/t"
    // 4 range-partitioned files over k = 0..99 -> disjoint footer ranges
    val df = (0L until 100L).map(k => (k, s"row$k")).toDF("k", "v")
      .repartitionByRange(4, $"k")
    fmt.commit(spark, dir, df, "a")
    // per-file (min, max, nulls, rows) of `k` from the cached stats map
    val stats = fmt.snapshotFileStats(spark, fmt.currentSnapshot(spark, dir).get)
      .values.flatMap(_.longs.get("k")).toArray
    assert(stats.length == 4, stats.mkString(", "))
    assert(stats.map(_._4).sum == 100L && stats.forall(_._3 == 0L))
    // ranges are disjoint and cover 0..99
    val ranges = stats.map(s => (s._1, s._2)).sortBy(_._1)
    assert(ranges.head._1 == 0L && ranges.last._2 == 99L)
    ranges.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
      assert(hi < lo, s"overlap: $hi vs $lo")
    }
    // a narrow range keeps exactly one file; the pruned read equals truth
    val someLo = ranges(2)._1
    val (kept, total) = fmt.prunedFiles(spark, dir, "k", someLo, someLo + 1).get
    assert(total == 4 && kept.length == 1, s"kept ${kept.length} of $total")
    val pruned = fmt.readPruned(spark, dir, "k", someLo, someLo + 1).get
      .as[(Long, String)].collect().sortBy(_._1)
    assert(pruned.toSeq == Seq((someLo, s"row$someLo"), (someLo + 1, s"row${someLo + 1}")))
    // an unknown column prunes nothing (never lose rows)
    val (keptAll, _) = fmt.prunedFiles(spark, dir, "nope", 0L, 0L).get
    assert(keptAll.length == 4)
    // an empty range reads an empty frame with the right schema
    val none = fmt.readPruned(spark, dir, "k", 1000L, 2000L).get
    assert(none.collect().isEmpty && none.columns.toSeq == Seq("k", "v"))
    // DV interplay: erase a row inside the kept file -> still hidden
    // through the pruned read path (merge-on-read keys on file name)
    assert(fmt.erase(spark, dir, $"k" === someLo, "e1") == 1L)
    val afterErase = fmt.readPruned(spark, dir, "k", someLo, someLo + 1).get
      .as[(Long, String)].collect().toSeq
    assert(afterErase == Seq((someLo + 1, s"row${someLo + 1}")), afterErase.toString)
  }

  test("CommitLogTableFormat: string zone map prunes on truncated bounds; contracts hold") {
    import spark.implicits._
    val fmt = graft.sources.CommitLogTableFormat
    val dir = Files.createTempDirectory("graft_tf_str").toString + "/t"
    // 3 sources clustered one-per-file; one value is LONGER than the
    // 16-char truncation so the upper-bound bump is exercised
    val longSrc = "registry-of-very-long-source-names"
    val rows = (0L until 30L).map { i =>
      val src = i % 3 match {
        case 0 => "alpha"; case 1 => "beta"; case _ => longSrc
      }
      (i, src, s"row$i")
    }
    fmt.commit(spark, dir,
      rows.toDF("k", "source", "v").repartitionByRange(3, $"source")
        .sortWithinPartitions($"source"), "a")
    // measured truncated bounds: every bound is a TRUE bound
    val stats = fmt.snapshotFileStats(spark, fmt.currentSnapshot(spark, dir).get)
      .toSeq.flatMap { case (file, st) =>
        st.strs.get("source").map { case (lower, upper, _, _) => (file, lower, upper) }
      }
    assert(stats.nonEmpty)
    stats.foreach { case (_, lower, upper) =>
      assert(lower.length <= 16 && upper.length <= 16)
    }
    val longFile = stats.filter(_._2.startsWith("registry-of-very"))
    assert(longFile.nonEmpty, "the long source must have a truncated bound")
    longFile.foreach { case (_, lower, upper) =>
      assert(lower == longSrc.take(16), "lower = plain truncation")
      assert(upper > longSrc.take(16) && upper.compareTo(longSrc) > 0,
        s"upper '$upper' must still bound the full value")
    }
    // narrow source keeps a strict subset of files; read stays exact
    val (kept, total) = fmt.prunedFilesString(spark, dir, "source", "alpha", "alpha").get
    assert(kept.size < total, s"kept ${kept.size} of $total")
    val got = fmt.readPrunedString(spark, dir, "source", "alpha", "alpha").get
      .as[(Long, String, String)].collect().map(_._1).sorted.toSeq
    assert(got == rows.filter(_._2 == "alpha").map(_._1).sorted.toSeq)
    // the truncated long source still reads exactly (conservative bounds)
    val gotLong = fmt.readPrunedString(spark, dir, "source", longSrc, longSrc).get
      .count()
    assert(gotLong == rows.count(_._2 == longSrc).toLong)
    // unknown column prunes nothing
    val (keptAll, totalAll) = fmt.prunedFilesString(spark, dir, "nope", "a", "b").get
    assert(keptAll.size == totalAll)
    // erased rows stay hidden through the string-pruned path
    assert(fmt.erase(spark, dir, $"k" === 0L, "e1") == 1L)
    val afterErase = fmt.readPrunedString(spark, dir, "source", "alpha", "alpha").get
      .as[(Long, String, String)].collect().map(_._1).sorted.toSeq
    assert(afterErase == rows.filter(r => r._2 == "alpha" && r._1 != 0L).map(_._1).sorted.toSeq)
  }

  test("graft DSv2: SQL resolves the snapshot; pushed filters and bloom probes skip files") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val fmt = graft.sources.CommitLogTableFormat
    val dir = Files.createTempDirectory("graft_dsv2").toString + "/t"
    // 4 range-clustered files, then an evolved append and a DV erase
    fmt.commit(spark, dir, (1L to 400L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartitionByRange(4, $"k").sortWithinPartitions($"k"), "c1")
    fmt.append(spark, dir, Seq((401L, "v401", 9.5)).toDF("k", "v", "w"), "a2")
    fmt.erase(spark, dir, $"k" % 10 === 0, "e1")

    def graftScan(df: org.apache.spark.sql.DataFrame): graft.sources.GraftScan = {
      df.collect() // force planInputPartitions
      val scans = df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
      }
      assert(scans.size == 1, s"expected one GraftScan, got $scans")
      scans.head.asInstanceOf[graft.sources.GraftScan]
    }

    val lake = spark.read.format("graft").load(dir)
    // union schema with evolution; MoR count through the rows-only path
    assert(lake.schema.fieldNames.toSeq == Seq("k", "v", "w"))
    assert(lake.count() == 361L) // 401 rows - 40 erased
    // range pushdown: only 1 of 5 files admits [1, 50]; rows exact
    val ranged = lake.filter($"k".between(1L, 50L))
    assert(ranged.collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 50L).filterNot(_ % 10 == 0))
    val rs = graftScan(lake.filter($"k".between(1L, 50L)))
    assert(rs.plannedFiles.contains((1, 5)), s"zone map skip: ${rs.plannedFiles}")
    // SQL surface: the same relation through a temp view, evolution NULLs
    lake.createOrReplaceTempView("dsv2_lake")
    val viaSql = spark.sql(
      "SELECT k, v, w FROM dsv2_lake WHERE k >= 399 ORDER BY k").collect()
    assert(viaSql.map(r => (r.getLong(0), r.isNullAt(2))).toSeq ==
      Seq((399L, true), (401L, false)))
    // bloom skip: hash-clustered table, equality probe reads 1 of 4 files
    val bdir = Files.createTempDirectory("graft_dsv2b").toString + "/t"
    fmt.commit(spark, bdir, (1L to 200L).map(i => (i, i * 3L)).toDF("k", "w")
      .repartition(4, $"k"), "c1")
    fmt.buildBloomIndex(spark, bdir, "k")
    val bs = graftScan(spark.read.format("graft").load(bdir).filter($"k" === 42L))
    assert(bs.plannedFiles.exists { case (kept, total) => total == 4 && kept < 4 },
      s"bloom skip: ${bs.plannedFiles}")
    assert(spark.read.format("graft").load(bdir).filter($"k" === 42L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((42L, 126L)))
    // the append ADVANCES the index (round 13): the DSv2 probe keeps
    // skipping through the re-pinned sidecar and sees the new row
    fmt.append(spark, bdir, Seq((201L, 603L)).toDF("k", "w"), "a2")
    assert(spark.read.format("graft").load(bdir).filter($"k" === 201L)
      .collect().map(_.getLong(0)).toSeq == Seq(201L))
    val bs2 = graftScan(spark.read.format("graft").load(bdir).filter($"k" === 201L))
    assert(bs2.plannedFiles.exists { case (kept, total) => total == 5 && kept < 5 },
      s"advanced bloom skip through DSv2: ${bs2.plannedFiles}")
  }

  test("graft DSv2 pushdown matrix: string/decimal/timestamp ranges skip files, zero footer opens") {
    import spark.implicits._
    val fmt = graft.sources.CommitLogTableFormat
    val footers = graft.sources.ParquetFooters
    val dir = Files.createTempDirectory("graft_dsv2_pm").toString + "/t"
    // 4 range-clustered files; s, price, ts all monotone in k so every
    // single-column range maps to a contiguous file subset
    val df = (1L to 400L).map(i => (i, f"s$i%04d", BigDecimal(i * 100 + i % 7, 2)))
      .toDF("k", "s", "price")
      .select($"k", $"s", $"price".cast("decimal(12,2)").as("price"),
        expr("timestamp_micros(k * 1000000)").as("ts"))
    fmt.commit(spark, dir,
      df.repartitionByRange(4, $"k").sortWithinPartitions($"k"), "c1")
    fmt.erase(spark, dir, $"k" === 120L, "e1") // MoR composes with every prune

    def graftScan(q: org.apache.spark.sql.DataFrame): graft.sources.GraftScan = {
      q.collect()
      val scans = q.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
      }
      scans.head.asInstanceOf[graft.sources.GraftScan]
    }
    val opens0 = footers.opens.get()
    val lake = spark.read.format("graft").load(dir)
    // STRING range (the r13 dead-arm class: prunable used to reject it)
    val ss = graftScan(lake.filter($"s".between("s0101", "s0150")))
    assert(ss.plannedFiles.exists { case (kept, total) => total == 4 && kept < 4 },
      s"string-range skip: ${ss.plannedFiles}")
    assert(lake.filter($"s".between("s0101", "s0150")).count() == 49L) // 50 - erased k=120
    // DECIMAL range: unscaled-long bounds at the column's scale
    val ds = graftScan(lake.filter(
      $"price".between(BigDecimal("101.00"), BigDecimal("150.99"))))
    assert(ds.plannedFiles.exists { case (kept, total) => total == 4 && kept < 4 },
      s"decimal-range skip: ${ds.plannedFiles}")
    assert(lake.filter($"price" >= BigDecimal("101.00") &&
      $"price" <= BigDecimal("150.99")).count() == 49L)
    // DECIMAL equality that cannot fit the scale returns nothing
    // (Catalyst folds it before the source; GraftScan's own floor/ceil
    // arithmetic would prune every file if it ever arrived)
    assert(lake.filter($"price" === BigDecimal("123.456")).count() == 0L)
    // TIMESTAMP range: micros through the same INT64 zone map
    val ts = graftScan(lake.filter($"ts".between(
      new java.sql.Timestamp(101000L), new java.sql.Timestamp(150000L))))
    assert(ts.plannedFiles.exists { case (kept, total) => total == 4 && kept < 4 },
      s"timestamp-range skip: ${ts.plannedFiles}")
    assert(lake.filter($"ts" >= new java.sql.Timestamp(101000L) &&
      $"ts" <= new java.sql.Timestamp(150000L)).count() == 49L)
    assert(footers.opens.get() == opens0,
      "every prune above must be served from the persisted _stats sidecars")
  }

  test("graft DSv2 statistics: cached metadata sizes make a small lake dim auto-broadcast") {
    import spark.implicits._
    val fmt = graft.sources.CommitLogTableFormat
    val base = Files.createTempDirectory("graft_dsv2stats").toString
    val dimDir = s"$base/dim"; val factDir = s"$base/fact"
    fmt.commit(spark, dimDir,
      (1L to 100L).map(i => (i, s"name$i")).toDF("k", "nm").coalesce(1), "c1")
    fmt.commit(spark, factDir,
      (1L to 20000L).map(i => (i, i % 100 + 1)).toDF("id", "k")
        .repartitionByRange(4, $"k").sortWithinPartitions($"k"), "c1")
    val dim = spark.read.format("graft").load(dimDir)
    val fact = spark.read.format("graft").load(factDir)
    // the relation's optimizer stats come from the scan's report, not
    // spark.sql.defaultSizeInBytes (the never-broadcast Long.Max)
    val dimStats = dim.queryExecution.optimizedPlan.stats
    assert(dimStats.sizeInBytes > 0 && dimStats.sizeInBytes < 1000000L,
      s"reported dim size: ${dimStats.sizeInBytes}")
    assert(dimStats.rowCount.contains(BigInt(100)),
      s"reported dim rowCount: ${dimStats.rowCount}")
    // static planning (AQE off) picks the broadcast join purely from
    // the reported size — the 100× graft⋈graft join-plan consequence
    val conf = spark.conf
    val saved = util.Try(conf.get("spark.sql.adaptive.enabled")).toOption
    try {
      conf.set("spark.sql.adaptive.enabled", "false")
      val j = fact.join(dim, "k")
        .agg(count(lit(1)).as("n"), sum(length($"nm")).as("s"))
      assert(j.head().getLong(0) == 20000L)
      val bhj = j.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
      }
      assert(bhj.nonEmpty,
        s"expected BroadcastHashJoin from reported stats:\n" +
          j.queryExecution.executedPlan.toString.take(1500))
    } finally saved.fold(conf.unset("spark.sql.adaptive.enabled"))(v =>
      conf.set("spark.sql.adaptive.enabled", v))
    // a pushed range shrinks the REPORTED bytes too (post-prune stats)
    val full = fact.queryExecution.optimizedPlan.stats.sizeInBytes
    val pruned = fact.filter($"k" <= 25L)
      .queryExecution.optimizedPlan.stats.sizeInBytes
    assert(pruned < full, s"pruned $pruned !< full $full")
    // DV snapshots withhold numRows (the stats row sum counts rows the
    // vector deletes) but still report bytes
    fmt.erase(spark, dimDir, $"k" % 10 === 0, "e1")
    val st = spark.read.format("graft").load(dimDir)
      .queryExecution.optimizedPlan.stats
    assert(st.rowCount.isEmpty, s"DV rowCount must be absent: ${st.rowCount}")
    assert(st.sizeInBytes > 0 && st.sizeInBytes < 1000000L)
  }

  test("graft DSv2 in-list bloom probes: a small IN admits fewer files than its zone-map span") {
    import spark.implicits._
    val fmt = graft.sources.CommitLogTableFormat
    val dir = Files.createTempDirectory("graft_dsv2in").toString + "/t"
    // hash-clustered: every file's [min,max] spans nearly the whole key
    // domain, so the IN's range fold admits all 4 files — only the
    // per-file blooms can refute individual keys
    fmt.commit(spark, dir, (1L to 200L).map(i => (i, i * 3L)).toDF("k", "w")
      .repartition(4, $"k"), "c1")
    fmt.buildBloomIndex(spark, dir, "k")
    def scanOf(df: org.apache.spark.sql.DataFrame): graft.sources.GraftScan = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
      }.head.asInstanceOf[graft.sources.GraftScan]
    }
    val lake = spark.read.format("graft").load(dir)
    assert(lake.filter($"k".isin(42L, 87L, 131L)).collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(42L, 87L, 131L))
    val sc = scanOf(lake.filter($"k".isin(42L, 87L, 131L)))
    assert(sc.plannedFiles.exists { case (kept, total) => total == 4 && kept < 4 },
      s"in-list bloom skip: ${sc.plannedFiles}")
    // past the probe cap: zone map only, still correct
    val many = (1L to 100L).map(java.lang.Long.valueOf)
    assert(lake.filter($"k".isin(many: _*)).count() == 100L)
    // NULL in the list never admits extra rows (three-valued IN)
    assert(lake.filter($"k".isin(42L, 87L) || $"k".isNull).count() == 2L)
  }

  test("graft DSv2 runtime filtering: join keys re-prune lake files at execution") {
    import spark.implicits._
    val fmt = graft.sources.CommitLogTableFormat
    val base = Files.createTempDirectory("graft_dsv2rf").toString
    val factDir = s"$base/fact"; val dimDir = s"$base/dim"
    // fact: 4 range-clustered files over k ∈ [1, 2000], 10 rows per key
    fmt.commit(spark, factDir,
      (1L to 20000L).map(i => (i % 2000L + 1L, i)).toDF("k", "id")
        .repartitionByRange(4, $"k").sortWithinPartitions($"k"), "c1")
    // dim: one row per key; the selective filter keeps k <= 400 only
    fmt.commit(spark, dimDir,
      (1L to 2000L).map(i => (i, if (i <= 400) "hot" else "cold"))
        .toDF("k", "cat").coalesce(1), "c1")
    val fact = spark.read.format("graft").load(factDir)
    val dim = spark.read.format("graft").load(dimDir)
    // AQE off so the executed plan exposes the scans directly (the
    // adaptive wrapper hides stage subtrees from collect); static DPP
    // still fires because the dim's REPORTED stats broadcast it
    val conf = spark.conf
    val saved = util.Try(conf.get("spark.sql.adaptive.enabled")).toOption
    try {
      conf.set("spark.sql.adaptive.enabled", "false")
      val j = fact.join(dim.filter($"cat" === "hot"), "k")
      // execute THIS QueryExecution (count() would plan and run its
      // own copy, leaving j's scans statically planned only)
      assert(j.collect().length === 4000) // 400 hot keys × 10 fact rows
      // the fact scan carried NO static filter — total 4 files — yet
      // the runtime IN of the dim's surviving keys re-pruned it to the
      // files whose zone maps overlap k <= 400
      val factScan = j.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.scan.asInstanceOf[graft.sources.GraftScan]
            .description().contains("fact") => b.scan
      }.head.asInstanceOf[graft.sources.GraftScan]
      assert(factScan.plannedFiles.exists { case (kept, total) =>
        total == 4 && kept < 4
      }, s"runtime re-prune: ${factScan.plannedFiles}")
    } finally saved.fold(conf.unset("spark.sql.adaptive.enabled"))(v =>
      conf.set("spark.sql.adaptive.enabled", v))
  }

  test("graft DSv2 aggregate pushdown: global COUNT/MIN/MAX answered from cached _stats") {
    import spark.implicits._
    val fmt = graft.sources.CommitLogTableFormat
    val footers = graft.sources.ParquetFooters
    val dir = Files.createTempDirectory("graft_dsv2agg").toString + "/t"
    fmt.commit(spark, dir,
      (1L to 500L).map(i => (i, i * 7L, if (i % 5 == 0) null else s"s$i"))
        .toDF("k", "w", "sn")
        .repartitionByRange(4, $"k").sortWithinPartitions($"k"), "c1")
    val lake = spark.read.format("graft").load(dir)
    lake.collect() // warm the per-version metadata caches
    // AQE off so executedPlan exposes the scans to collect
    val conf = spark.conf
    val savedAqe = util.Try(conf.get("spark.sql.adaptive.enabled")).toOption
    conf.set("spark.sql.adaptive.enabled", "false")
    try {
    val opens0 = footers.opens.get()
    val r = lake.selectExpr("count(*) AS c", "min(k) AS mn", "max(k) AS mx",
      "count(sn) AS cs", "max(w) AS mw")
    val row = r.collect().head
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3),
      row.getLong(4)) == ((500L, 1L, 500L, 400L, 3500L)))
    // the executed scan is the one-row stats answer — zero data reads,
    // zero footer opens (an unpushed COUNT(*) would replay 4 footers)
    val descs = r.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.description()
    }
    assert(descs.exists(_.startsWith("GraftAggScan")), descs.mkString("; "))
    assert(footers.opens.get() == opens0,
      "a pushed-down global aggregate must not touch any footer or data page")
    // a DV-bearing snapshot REFUSES the pushdown (hidden rows) and the
    // real scan answers
    fmt.erase(spark, dir, $"k" % 97 === 0, "e1")
    val after = spark.read.format("graft").load(dir)
    val r2 = after.selectExpr("count(*) AS c", "min(k) AS mn")
    val row2 = r2.collect().head
    assert((row2.getLong(0), row2.getLong(1)) == ((495L, 1L))) // 5 keys erased
    val descs2 = r2.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.description()
    }
    assert(descs2.nonEmpty && !descs2.exists(_.startsWith("GraftAggScan")),
      descs2.mkString("; "))
    // a filtered aggregate keeps the normal scan (stats cannot answer
    // under residual filters) and stays correct — the relation
    // re-resolves the CURRENT (post-erase) snapshot, so the 4 erased
    // keys above 100 (194/291/388/485) are gone
    assert(lake.filter($"k" > 100L).selectExpr("count(*) AS c")
      .head().getLong(0) == 396L)
    } finally savedAqe.fold(conf.unset("spark.sql.adaptive.enabled"))(v =>
      conf.set("spark.sql.adaptive.enabled", v))
  }

  test("graft SQL DELETE: merge-on-read erase from SQL; untranslatable predicates refuse") {
    import spark.implicits._
    val fmt = graft.sources.CommitLogTableFormat
    val wh = Files.createTempDirectory("graft_sqldel").toString
    spark.conf.set("spark.sql.catalog.dcat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.dcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS dcat.db")
    val root = Files.createTempDirectory("graft_sqldel_t").toString + "/t"
    fmt.commit(spark, root, (1L to 600L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartitionByRange(6, $"k").sortWithinPartitions($"k"), "c1")
    fmt.setRetention(spark, root, 5) // the VERSION AS OF 2 probe below
    spark.sql(s"CREATE TABLE dcat.db.t USING graft LOCATION '$root'")
    val dirsBefore = fmt.currentSnapshot(spark, root).get.dataDirNames
    spark.sql("DELETE FROM dcat.db.t WHERE k >= 100 AND k < 120")
    assert(spark.sql("SELECT count(*) AS c FROM dcat.db.t").head().getLong(0) == 580L)
    // merge-on-read: a DV version, every data dir byte-untouched
    val snap = fmt.currentSnapshot(spark, root).get
    assert(snap.version == 2L && snap.dvName.isDefined)
    assert(snap.dataDirNames == dirsBefore, "DELETE must not rewrite data files")
    // time travel still sees the erased rows
    assert(spark.sql("SELECT count(*) AS c FROM dcat.db.t VERSION AS OF 1")
      .head().getLong(0) == 600L)
    // deletes accumulate; IN-list form works
    spark.sql("DELETE FROM dcat.db.t WHERE k IN (1, 2, 3)")
    assert(spark.sql("SELECT count(*) AS c FROM dcat.db.t").head().getLong(0) == 577L)
    // a condition outside the filter algebra REFUSES (never approximates)
    intercept[Throwable] {
      spark.sql("DELETE FROM dcat.db.t WHERE k % 7 = 0")
    }
    assert(spark.sql("SELECT count(*) AS c FROM dcat.db.t").head().getLong(0) == 577L)
    // unconditional DELETE erases everything, history intact
    spark.sql("DELETE FROM dcat.db.t")
    assert(spark.sql("SELECT count(*) AS c FROM dcat.db.t").head().getLong(0) == 0L)
    assert(spark.sql("SELECT count(*) AS c FROM dcat.db.t VERSION AS OF 2")
      .head().getLong(0) == 580L)
  }

  test("graft DSv2 limit pushdown: an unordered LIMIT truncates the planned file list") {
    import spark.implicits._
    val fmt = graft.sources.CommitLogTableFormat
    val dir = Files.createTempDirectory("graft_dsv2lim").toString + "/t"
    fmt.commit(spark, dir, (1L to 600L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartitionByRange(6, $"k").sortWithinPartitions($"k"), "c1")
    val lake = spark.read.format("graft").load(dir)
    val lim = lake.limit(5)
    assert(lim.collect().length == 5)
    val sc = lim.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.head.asInstanceOf[graft.sources.GraftScan]
    assert(sc.plannedFiles.contains((1, 6)), s"limit truncation: ${sc.plannedFiles}")
    // a filtered limit keeps correctness (no truncation under filters)
    assert(lake.filter($"v".endsWith("7")).limit(3).collect().length == 3)
    // a DV-bearing snapshot never truncates (stats overcount live rows)
    fmt.erase(spark, dir, $"k" <= 99L, "e1")
    val after = spark.read.format("graft").load(dir).limit(5)
    assert(after.collect().map(_.getLong(0)).forall(_ >= 100L))
    val sc2 = after.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.head.asInstanceOf[graft.sources.GraftScan]
    assert(sc2.plannedFiles.contains((6, 6)), s"DV keeps all: ${sc2.plannedFiles}")
  }

  test("graft DSv2 vectorized scan: columnar DV-free reads, row-path MoR, nested types through SQL") {
    import spark.implicits._
    val fmt = graft.sources.CommitLogTableFormat
    val dir = Files.createTempDirectory("graft_dsv2_vec").toString + "/t"
    val df = spark.range(1L, 101L).select(
      col("id").as("k"),
      struct((col("id") * 2).as("a"), concat(lit("n"), col("id")).as("b")).as("st"),
      map(lit("x"), col("id"), lit("y"), col("id") * 10).as("m"),
      array(col("id"), col("id") + 1).as("arr"))
    fmt.commit(spark, dir,
      df.repartitionByRange(2, col("k")).sortWithinPartitions(col("k")), "c1")

    def scanOf(q: org.apache.spark.sql.DataFrame) = {
      q.collect()
      q.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.head
    }
    val lake = spark.read.format("graft").load(dir)
    // DV-free snapshot: the scan itself is COLUMNAR (vectorized decode
    // feeding ColumnarBatch straight to the exec)
    assert(scanOf(lake.filter(col("k") <= 50L)).supportsColumnar,
      "a DV-free snapshot must read columnar")
    // nested struct/map/array land intact through SQL — ≡ Scala resolve
    def shape(q: org.apache.spark.sql.DataFrame): Set[(Long, Long, String, Long, Long)] =
      q.select(col("k"), col("st.a"), col("st.b"),
          element_at(col("m"), "y"), element_at(col("arr"), 2))
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4))).toSet
    assert(shape(lake) == shape(fmt.read(spark, dir).get))
    assert(shape(lake) ==
      (1L to 100L).map(i => (i, i * 2, s"n$i", i * 10, i + 1)).toSet)
    // evolution: an appended dir carries a NEW struct column — old
    // rows null-backfill it through the SQL surface
    fmt.append(spark, dir, spark.range(101L, 103L).select(
      col("id").as("k"), struct(lit(7L).as("z")).as("st2")), "a2")
    val lake2 = spark.read.format("graft").load(dir)
    val z = lake2.select(col("k"), col("st2.z")).orderBy(col("k")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
    assert(z.take(2).toSeq == Seq((1L, -1L), (2L, -1L)) &&
      z.takeRight(2).toSeq == Seq((101L, 7L), (102L, 7L)))
    // erase flips the snapshot to the ROW path (per-task DV skip over
    // the SAME vectorized decode) — nested values stay exact
    fmt.erase(spark, dir, col("k") === 10L, "e1")
    val lake3 = spark.read.format("graft").load(dir)
    assert(!scanOf(lake3.filter(col("k") <= 50L)).supportsColumnar,
      "a DV-bearing snapshot must use the row path (position-skip)")
    assert(lake3.count() == 101L)
    val gone = lake3.filter(col("k").between(9L, 11L))
    assert(shape(gone.select(col("k"), col("st"), col("m"), col("arr"))) ==
      Set((9L, 18L, "n9", 90L, 10L), (11L, 22L, "n11", 110L, 12L)))
    // COUNT(*) stays on the footer-replay path: no decode at all
    assert(spark.read.format("graft").load(dir).groupBy().count().head().getLong(0) == 101L)
  }

  test("change-feed admission control: maxVersionsPerTrigger bounds catch-up; resume composes") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val fmt = graft.sources.CommitLogTableFormat
    val dir = Files.createTempDirectory("graft_feed_ac").toString + "/t"
    val ckpt = Files.createTempDirectory("graft_feed_ac_ck").toString
    fmt.setRetention(spark, dir, 16)
    fmt.commit(spark, dir, Seq((1L, "a")).toDF("k", "v"), "c1")
    (2L to 10L).foreach(v =>
      fmt.append(spark, dir, Seq((v, s"r$v")).toDF("k", "v"), s"a$v"))
    val batches = collection.mutable.ArrayBuffer.empty[Seq[Long]]
    def drain(cap: Long): Unit = {
      val q = spark.readStream.format("graft")
        .option("changeFeed", "true").option("startingVersion", "1")
        .option("maxVersionsPerTrigger", cap.toString)
        .load(dir)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val vs = b.select("_commit_version").distinct()
            .collect().map(_.getLong(0)).sorted.toSeq
          batches.synchronized { batches += vs }
          ()
        }.start()
      q.awaitTermination()
    }
    // catch-up from birth: 10 versions / cap 3 = 4 batches (3+3+3+1),
    // each batch's version window contiguous and disjoint
    drain(3L)
    val nonEmpty = batches.filter(_.nonEmpty)
    assert(nonEmpty.map(_.size).toSeq == Seq(3, 3, 3, 1),
      s"catch-up batch shapes: ${batches.toSeq}")
    assert(nonEmpty.flatten.toSeq == (1L to 10L).toSeq,
      s"union must cover every version exactly once: ${batches.toSeq}")
    // resume: two more commits, same checkpoint, cap 1 — only the new
    // transitions replay, one version per trigger
    batches.clear()
    fmt.append(spark, dir, Seq((11L, "r11")).toDF("k", "v"), "a11")
    fmt.append(spark, dir, Seq((12L, "r12")).toDF("k", "v"), "a12")
    drain(1L)
    assert(batches.filter(_.nonEmpty).toSeq == Seq(Seq(11L), Seq(12L)),
      s"resume under admission control: ${batches.toSeq}")
  }

  test("feed option validation: bad startingVersion refused with named errors; batch changeFeed refused") {
    import spark.implicits._
    val fmt = graft.sources.CommitLogTableFormat
    val dir = Files.createTempDirectory("graft_feed_val").toString + "/t"
    fmt.commit(spark, dir, Seq((1L, "a")).toDF("k", "v"), "c1")
    val zero = intercept[IllegalArgumentException] {
      spark.readStream.format("graft").option("changeFeed", "true")
        .option("startingVersion", "0").load(dir)
    }
    assert(zero.getMessage.contains("startingVersion"), zero.getMessage)
    val junk = intercept[IllegalArgumentException] {
      spark.readStream.format("graft").option("changeFeed", "true")
        .option("startingVersion", "first").load(dir)
    }
    assert(junk.getMessage.contains("startingVersion") &&
      junk.getMessage.contains("first"), junk.getMessage)
    val badTs = intercept[IllegalArgumentException] {
      spark.read.format("graft").option("timestampAsOf", "yesterday").load(dir)
    }
    assert(badTs.getMessage.contains("timestampAsOf"), badTs.getMessage)
    // a mistaken BATCH read of the change feed points at the right APIs
    val batchFeed = intercept[Throwable] {
      spark.read.format("graft").option("changeFeed", "true").load(dir).collect()
    }
    val msgs = Iterator.iterate(batchFeed)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msgs.contains("changesBetween") && msgs.contains("readStream"), msgs)
  }

  test("bloom sweep hygiene: suffix-colliding column names survive an advance; tmp leftovers swept") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val fmt = graft.sources.CommitLogTableFormat
    val dir = Files.createTempDirectory("graft_bloom_hyg").toString + "/t"
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fmt.commit(spark, dir,
      (1L to 100L).map(i => (i, i * 7L)).toDF("k", "my-k").repartition(2), "c1")
    fmt.buildBloomIndex(spark, dir, "k")
    fmt.buildBloomIndex(spark, dir, "my-k")
    // plant a crashed-advance leftover below the next version
    fs.mkdirs(new Path(s"$dir/_index/.tmp-bloom-v1-k"))
    fmt.append(spark, dir, Seq((101L, 707L)).toDF("k", "my-k"), "a2")
    // BOTH columns advanced to v2; the `k` sweep must NOT have eaten
    // `my-k`'s sidecar (the glob bloom-v*-k would match bloom-v2-my-k)
    assert(fs.exists(new Path(s"$dir/_index/bloom-v2-k")))
    assert(fs.exists(new Path(s"$dir/_index/bloom-v2-my-k")))
    assert(!fs.exists(new Path(s"$dir/_index/bloom-v1-k")))
    assert(!fs.exists(new Path(s"$dir/_index/.tmp-bloom-v1-k")),
      "crashed stage tmps below the published version must be swept")
    // probes still skip and stay exact through both columns
    val viaK = fmt.readBloomPoint(spark, dir, "k", 101L).get
    assert(viaK.select("k").as[Long].collect().toSeq == Seq(101L))
    val viaMyK = fmt.readBloomPoint(spark, dir, "my-k", 707L).get
    assert(viaMyK.select("k").as[Long].collect().toSeq == Seq(101L))
  }

  test("bloom_agg-less session: appends to a bloom-indexed table orphan the index, never fail") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val fmt = graft.sources.CommitLogTableFormat
    val dir = Files.createTempDirectory("graft_bloom_plain").toString + "/t"
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fmt.commit(spark, dir, (1L to 50L).map(i => (i, i * 3L)).toDF("k", "w")
      .repartition(2), "c1")
    fmt.buildBloomIndex(spark, dir, "k")
    // simulate a session without GraftExtensions: unregister bloom_agg,
    // append (must SUCCEED, orphaning the index), then restore
    val reg = spark.sessionState.functionRegistry
    val fid = org.apache.spark.sql.catalyst.FunctionIdentifier("bloom_agg")
    val savedBuilder = reg.lookupFunctionBuilder(fid).get
    val savedInfo = reg.lookupFunction(fid).get
    reg.dropFunction(fid)
    try {
      val v = fmt.append(spark, dir, Seq((51L, 153L)).toDF("k", "w"), "a2")
      assert(v == 2L, "the write must land despite the missing function")
      assert(!fs.exists(new Path(s"$dir/_index/bloom-v2-k")),
        "no advanced index may exist (it would be unbuildable here)")
    } finally reg.registerFunction(fid, savedInfo, savedBuilder)
    // orphaned = readers fall back to the full scan, rows exact
    val probe = fmt.readBloomPoint(spark, dir, "k", 51L).get
    assert(probe.select("w").as[Long].collect().toSeq == Seq(153L))
    // an erase (no new files => no aggregation needed) still advances
    fmt.buildBloomIndex(spark, dir, "k")
    reg.dropFunction(fid)
    try assert(fmt.erase(spark, dir, $"k" === 1L, "e3") == 1L)
    finally reg.registerFunction(fid, savedInfo, savedBuilder)
    assert(fs.exists(new Path(s"$dir/_index/bloom-v3-k")),
      "a no-new-files advance needs no aggregation and must re-pin")
  }

  test("recluster-on-compact: compactDirs(clusterBy) tightens zone maps — post-compact prunes strictly fewer files") {
    import spark.implicits._
    val fmt = graft.sources.CommitLogTableFormat
    val dir = Files.createTempDirectory("graft_recluster").toString + "/t"
    // three INTERLEAVED hash-scattered loads (k ≡ 0/1/2 mod 3 over the
    // same 1..900 span): every file spans the full key range, so a
    // key-range predicate can prune NOTHING before the compact
    Seq(0L, 1L, 2L).foreach { m =>
      val rows = (1L to 900L).filter(_ % 3 == m).map(i => (i, i % 7))
        .toDF("k", "g").repartition(3, $"k")
      if (m == 0L) fmt.commit(spark, dir, rows, "l0")
      else fmt.append(spark, dir, rows, s"l$m")
    }
    val (kept0, total0) = fmt.prunedFiles(spark, dir, "k", 100L, 160L).get
    assert(kept0.size == total0 && total0 == 9,
      s"hash-scattered fixture must not prune: ${kept0.size}/$total0")
    // single-key recluster: merged files get disjoint ranges
    val snap = fmt.currentSnapshot(spark, dir).get
    fmt.compactDirs(spark, dir, snap.dataDirNames, "rc1",
      targetFiles = 6, clusterBy = Seq("k"))
    val (kept1, total1) = fmt.prunedFiles(spark, dir, "k", 100L, 160L).get
    assert(total1 == 6 && kept1.size < total1 && kept1.size <= 2,
      s"reclustered compact must prune: ${kept1.size}/$total1")
    // content identical through the pruned read
    assert(fmt.readPruned(spark, dir, "k", 100L, 160L).get.count() == 61L)
    // and the DSv2 plan sees the same skip
    def graftScan(q: org.apache.spark.sql.DataFrame): graft.sources.GraftScan = {
      q.collect()
      q.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
      }.head.asInstanceOf[graft.sources.GraftScan]
    }
    val s1 = graftScan(spark.read.format("graft").load(dir)
      .filter($"k".between(100L, 160L)))
    assert(s1.plannedFiles.exists { case (kp, t) => t == 6 && kp <= 2 },
      s"DSv2 skip after recluster: ${s1.plannedFiles}")
    // two-key curve recluster: a box predicate on (k, g) prunes too
    val snap2 = fmt.currentSnapshot(spark, dir).get
    fmt.compactDirs(spark, dir, snap2.dataDirNames, "rc2",
      targetFiles = 8, clusterBy = Seq("k", "g"), clusterBits = 10)
    val (keptA, _) = fmt.prunedFiles(spark, dir, "k", 1L, 120L).get
    val (keptB, totalB) = fmt.prunedFiles(spark, dir, "g", 0L, 1L).get
    assert(keptA.size < 8, s"curve layout must keep key-A pruning: ${keptA.size}/8")
    assert(keptB.size <= totalB, s"${keptB.size}/$totalB")
    assert(fmt.read(spark, dir).get.count() == 900L, "recluster loses nothing")
  }

  test("GraftCatalog: DDL lifecycle — create/list/describe/rename/drop, managed vs external, time travel") {
    import spark.implicits._
    val fmt = graft.sources.CommitLogTableFormat
    val wh = Files.createTempDirectory("graft_cat_wh").toString
    val ext = Files.createTempDirectory("graft_cat_ext").toString + "/t"
    spark.conf.set("spark.sql.catalog.gcat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE gcat.db")
    // managed table with a DECLARED schema: DESCRIBE works before any commit
    spark.sql("CREATE TABLE gcat.db.m (k BIGINT, v STRING) USING graft")
    val desc = spark.sql("DESCRIBE TABLE gcat.db.m").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(desc.contains(("k", "bigint")) && desc.contains(("v", "string")), desc)
    assert(spark.sql("SELECT * FROM gcat.db.m").count() == 0L,
      "a declared-schema table reads empty before its first commit")
    // first commit: the LOG becomes the schema authority
    val mRoot = s"$wh/db/m"
    fmt.commit(spark, mRoot, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "c1")
    assert(spark.sql("SELECT k, v FROM gcat.db.m ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "a"), (2L, "b")))
    // external table: schema-less CREATE over an existing lake table
    fmt.commit(spark, ext, Seq((10L, "x")).toDF("k", "v"), "c1")
    fmt.append(spark, ext, Seq((11L, "y")).toDF("k", "v"), "a2")
    spark.sql(s"CREATE TABLE gcat.db.e USING graft LOCATION '$ext'")
    assert(spark.sql("SHOW TABLES IN gcat.db").collect()
      .map(_.getString(1)).sorted.toSeq == Seq("e", "m"))
    assert(spark.sql("SELECT count(*) AS c FROM gcat.db.e").head().getLong(0) == 2L)
    // SQL time travel through the catalog
    assert(spark.sql("SELECT k FROM gcat.db.e VERSION AS OF 1").collect()
      .map(_.getLong(0)).toSeq == Seq(10L))
    // INSERT lands THROUGH the commit protocol (round 15 — one new
    // checked-append version); ALTER stays refused (log owns schema)
    spark.sql("INSERT INTO gcat.db.e VALUES (12, 'z')")
    assert(spark.sql("SELECT count(*) AS c FROM gcat.db.e").head().getLong(0) == 3L)
    assert(fmt.currentSnapshot(spark, ext).get.version == 3L)
    val alter = intercept[Throwable] {
      spark.sql("ALTER TABLE gcat.db.e ADD COLUMN w INT")
    }
    val alterMsgs = Iterator.iterate(alter)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(alterMsgs.contains("commit log"), alterMsgs)
    // rename keeps content; DROP external keeps the data, managed removes it
    spark.sql("ALTER TABLE gcat.db.e RENAME TO db.e2")
    assert(spark.sql("SELECT count(*) AS c FROM gcat.db.e2").head().getLong(0) == 3L)
    spark.sql("DROP TABLE gcat.db.e2")
    assert(fmt.read(spark, ext).get.count() == 3L,
      "dropping an EXTERNAL table must not touch its data")
    spark.sql("DROP TABLE gcat.db.m")
    assert(fmt.read(spark, mRoot).isEmpty,
      "dropping a MANAGED table removes its data")
    assert(spark.sql("SHOW TABLES IN gcat.db").isEmpty)
  }

  test("graft DSv2 time travel: versionAsOf/timestampAsOf pin the snapshot and its schema") {
    import spark.implicits._
    val fmt = graft.sources.CommitLogTableFormat
    val dir = Files.createTempDirectory("graft_dsv2_tt").toString + "/t"
    fmt.setRetention(spark, dir, 3)
    fmt.commit(spark, dir, (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v"), "c1")
    Thread.sleep(15) // commit-instant mtimes need distinct millis
    val betweenTs = System.currentTimeMillis()
    Thread.sleep(15)
    fmt.append(spark, dir, Seq((101L, "v101", 9L)).toDF("k", "v", "w"), "a2") // evolves
    fmt.erase(spark, dir, col("k") === 7L, "e3")
    // current read: evolved schema, erased row hidden
    val cur = spark.read.format("graft").load(dir)
    assert(cur.columns.toSet == Set("k", "v", "w") && cur.count() == 100L)
    // versionAsOf 1: pre-evolution SCHEMA (no w) and pre-erase rows
    val v1 = spark.read.format("graft").option("versionAsOf", "1").load(dir)
    assert(v1.columns.toSet == Set("k", "v"),
      "time travel must infer the schema AT the version")
    assert(v1.count() == 100L && v1.filter($"k" === 7L).count() == 1L)
    // pushed-filter pruning still composes with the pinned snapshot
    assert(v1.filter($"k" === 42L).collect().map(_.getLong(0)).toSeq == Seq(42L))
    // timestampAsOf between v1 and v2 resolves v1 (epoch-millis form)
    val byTs = spark.read.format("graft")
      .option("timestampAsOf", betweenTs.toString).load(dir)
    assert(byTs.columns.toSet == Set("k", "v") && byTs.count() == 100L)
    // SQL surface: an as-of temp view
    v1.createOrReplaceTempView("tt_v1")
    assert(spark.sql("SELECT count(*) AS c FROM tt_v1 WHERE k % 2 = 0")
      .head().getLong(0) == 50L)
    // a version outside the log refuses rather than serving latest
    intercept[java.util.NoSuchElementException] {
      spark.read.format("graft").option("versionAsOf", "99").load(dir).collect()
    }
    // before table birth: refuses
    intercept[java.util.NoSuchElementException] {
      spark.read.format("graft")
        .option("timestampAsOf", (betweenTs - 1000000L).toString).load(dir).collect()
    }
  }

  test("CommitLogTableFormat.append: incremental ingest — O(new data), full lakehouse contracts") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val fmt = graft.sources.CommitLogTableFormat
    val dir = Files.createTempDirectory("graft_tf_append").toString + "/t"
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fmt.commit(spark, dir, (1L to 10L).map(i => (i, s"b1_$i")).toDF("k", "v")
      .repartitionByRange(2, $"k").sortWithinPartitions($"k"), "load1")
    def dirFiles(name: String) =
      fs.globStatus(new Path(s"$dir/$name/*.parquet"))
        .map(s => s.getPath.getName -> s.getModificationTime).toMap
    val base = dirFiles("data-v1-load1")
    // append: new dir only, prior files byte-untouched, union visible
    val v2 = fmt.append(spark, dir, (11L to 20L).map(i => (i, s"b2_$i")).toDF("k", "v")
      .repartitionByRange(2, $"k").sortWithinPartitions($"k"), "load2")
    assert(v2 == 2L)
    assert(dirFiles("data-v1-load1") == base, "append must not touch prior data files")
    assert(fmt.read(spark, dir).get.count() == 20L)
    val v3 = fmt.append(spark, dir, Seq((21L, "b3_21")).toDF("k", "v"), "load3")
    assert(v3 == 3L)
    assert(fmt.read(spark, dir).get.as[(Long, String)].collect().map(_._1).sorted.toSeq ==
      (1L to 21L))
    // time travel: the previous (2-dir) version still resolves
    assert(fmt.readVersion(spark, dir, 2L).get.count() == 20L)
    // erase across dirs: keys from DIFFERENT loads hide together
    // (dir-qualified DV keys — same-named part files cannot collide)
    assert(fmt.erase(spark, dir, $"k".isin(1L, 15L, 21L), "gdpr") == 3L)
    val left = fmt.read(spark, dir).get.as[(Long, String)].collect().map(_._1).toSet
    assert(left.size == 18 && !left(1L) && !left(15L) && !left(21L))
    // zone maps + pruned reads span ALL dirs of the snapshot
    val (kept, total) = fmt.prunedFiles(spark, dir, "k", 12L, 13L).get
    assert(total == 5, s"5 data files across 3 dirs, saw $total") // 2+2+1
    assert(kept.size < total, s"kept ${kept.size}")
    assert(fmt.readPruned(spark, dir, "k", 1L, 21L).get.count() == 18L,
      "pruned read must respect the cross-dir DV")
    // compact folds the dir list back to ONE and purges erased rows
    fmt.compact(spark, dir, "opt", targetFiles = 1)
    val latestDirs = {
      val entry = fmt.versions(spark, dir).max
      val in = fs.open(new Path(s"$dir/_log/$entry"))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        .split('\n').head.trim.split("\\s+").toSeq
      finally in.close()
    }
    assert(latestDirs.size == 1, s"compact must fold to one dir: $latestDirs")
    assert(fmt.read(spark, dir).get.count() == 18L)
    // vacuum (reference-based) kept every dir the retained entries list
    val liveDirs = fs.globStatus(new Path(s"$dir/data-v*")).map(_.getPath.getName).toSet
    assert(latestDirs.toSet.subsetOf(liveDirs))
  }

  test("ingestStream: micro-batches land as append versions, exactly-once under replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val fmt = graft.sources.CommitLogTableFormat
    val dir = Files.createTempDirectory("graft_ingest_stream").toString + "/t"
    val ckpt = Files.createTempDirectory("graft_ingest_ckpt").toString
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.ingestStream(mem.toDF().toDF("k", "v"), dir, ckpt).start()
    try {
      mem.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      assert(fmt.read(spark, dir).get.count() == 2L)
      mem.addData((3L, "c"))
      q.processAllAvailable()
      assert(fmt.read(spark, dir).get.as[(Long, String)].collect().map(_._1).sorted.toSeq ==
        Seq(1L, 2L, 3L))
      // at-least-once replay of the LAST batch: token already applied -> no-op
      val versions = fmt.versions(spark, dir)
      assert(fmt.appendIdempotent(spark, dir, Seq((3L, "c")).toDF("k", "v"), "b1").isEmpty,
        "replaying the last batch token must be a no-op")
      assert(fmt.versions(spark, dir) == versions)
      assert(fmt.read(spark, dir).get.count() == 3L, "no duplicate rows after replay")
      // a FRESH token appends normally
      assert(fmt.appendIdempotent(spark, dir, Seq((4L, "d")).toDF("k", "v"), "b2_x").nonEmpty)
      assert(fmt.read(spark, dir).get.count() == 4L)
      // token suffix must match EXACTLY (b2 vs b2_x are different loads)
      assert(fmt.appendIdempotent(spark, dir, Seq((5L, "e")).toDF("k", "v"), "2_x").nonEmpty,
        "a token that is a suffix of the applied one is a different load")
    } finally q.stop()
  }

  test("readPruned: empty snapshots return empty frames instead of throwing") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val fmt = graft.sources.CommitLogTableFormat
    // an empty COMMITTED frame still reads (Spark leaves a schema-only
    // part file; the prune keeps it — no stats — and reads 0 rows)
    val dir1 = Files.createTempDirectory("graft_tf_empty1").toString + "/t"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType)))
    fmt.commit(spark, dir1,
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      "a")
    val r1 = fmt.readPruned(spark, dir1, "k", 0L, 10L).get
    assert(r1.collect().isEmpty && r1.columns.contains("k"))
    // zero ROWS but real part files: schema from a data file
    val dir2 = Files.createTempDirectory("graft_tf_empty2").toString + "/t"
    fmt.commit(spark, dir2,
      Seq((1L, "x")).toDF("k", "v").filter($"k" < 0L).repartition(2), "a")
    val r2 = fmt.readPruned(spark, dir2, "k", 0L, 10L).get
    assert(r2.collect().isEmpty && r2.columns.toSeq == Seq("k", "v"))
    // a snapshot with literally ZERO data files (a writer that produced
    // none — the case the directory read throws 'unable to infer
    // schema' on): short-circuit to an empty single-key frame
    val dir3 = Files.createTempDirectory("graft_tf_empty3").toString + "/t"
    val fs = new Path(dir3).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(dir3, "data-v1-bare"))
    fs.mkdirs(new Path(dir3, "_log"))
    val out = fs.create(new Path(dir3, "_log/1"), true)
    try out.write("data-v1-bare".getBytes("UTF-8")) finally out.close()
    val r3 = fmt.readPruned(spark, dir3, "k", 0L, 10L).get
    assert(r3.collect().isEmpty && r3.columns.toSeq == Seq("k"))
    val s3 = fmt.readPrunedString(spark, dir3, "source", "a", "b").get
    assert(s3.collect().isEmpty && s3.columns.toSeq == Seq("source"))
  }

  test("erase(keys frame): distributed request set hides rows; accumulates; replay no-op") {
    import spark.implicits._
    val fmt = graft.sources.CommitLogTableFormat
    val dir = Files.createTempDirectory("graft_tf_erasekeys").toString + "/t"
    fmt.commit(spark, dir, (1L to 50L).map(i => (i, s"r$i")).toDF("k", "v"), "base")
    // a request FRAME with duplicates and a key that does not exist
    val req1 = Seq(5L, 5L, 7L, 999L).toDF("subject")
    assert(fmt.erase(spark, dir, req1, "subject", "k", "g1") == 2L)
    val left1 = fmt.read(spark, dir).get.as[(Long, String)].collect().map(_._1).toSet
    assert(left1.size == 48 && !left1(5L) && !left1(7L))
    // accumulate over the prior DV; already-covered keys add nothing
    val req2 = Seq(7L, 9L).toDF("subject")
    assert(fmt.erase(spark, dir, req2, "subject", "k", "g2") == 1L)
    assert(fmt.read(spark, dir).get.count() == 47L)
    // full replay of a covered set: no new version published
    val versionsBefore = fmt.versions(spark, dir)
    assert(fmt.erase(spark, dir, req1, "subject", "k", "g3") == 0L)
    assert(fmt.versions(spark, dir) == versionsBefore)
    // parity with the predicate overload on a fresh table
    val dir2 = Files.createTempDirectory("graft_tf_erasekeys2").toString + "/t"
    fmt.commit(spark, dir2, (1L to 50L).map(i => (i, s"r$i")).toDF("k", "v"), "base")
    fmt.erase(spark, dir2, $"k".isin(5L, 7L, 9L), "p1")
    val viaKeys = fmt.read(spark, dir).get.collect().map(_.getLong(0)).toSet
    val viaPred = fmt.read(spark, dir2).get.collect().map(_.getLong(0)).toSet
    assert(viaPred == viaKeys, "keys-frame and predicate erases must agree")
  }

  test("upsertStream: micro-batches upsert exactly-once; feed and time travel compose") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val fmt = graft.sources.CommitLogTableFormat
    val dir = Files.createTempDirectory("graft_upsert_stream").toString + "/t"
    val ckpt = Files.createTempDirectory("graft_upsert_ckpt").toString
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.upsertStream(mem.toDF().toDF("k", "v"), dir, "k", ckpt).start()
    try {
      mem.addData((1L, "a1"), (2L, "b1"))
      q.processAllAvailable()
      assert(fmt.read(spark, dir).get.as[(Long, String)].collect().toMap ==
        Map(1L -> "a1", 2L -> "b1"))
      // batch 2: k=2 updated, k=3 fresh — ONE version, merged read
      mem.addData((2L, "b2"), (3L, "c1"))
      q.processAllAvailable()
      val now = fmt.read(spark, dir).get.as[(Long, String)].collect().toMap
      assert(now == Map(1L -> "a1", 2L -> "b2", 3L -> "c1"))
      // replaying the LAST batch token is a no-op (at-least-once -> exactly-once)
      val versions = fmt.versions(spark, dir)
      assert(fmt.upsertIdempotent(spark, dir,
        Seq((2L, "b2"), (3L, "c1")).toDF("k", "v"), "k", "b1").isEmpty)
      assert(fmt.versions(spark, dir) == versions)
      // the batch transition reads back as its delete+insert feed
      val Seq(from, to) = versions.takeRight(2)
      val feed = fmt.changesBetween(spark, dir, from, to).get
        .as[(Long, String, String)].collect().sorted.toSeq
      assert(feed == Seq((2L, "b1", "delete"), (2L, "b2", "insert"),
        (3L, "c1", "insert")), feed.toString)
      // time travel still sees the pre-batch truth
      assert(fmt.readVersion(spark, dir, from).get.as[(Long, String)]
        .collect().toMap == Map(1L -> "a1", 2L -> "b1"))
    } finally q.stop()
  }

  test("upsertByKey: matched keys replaced + unmatched inserted in ONE atomic version") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val fmt = graft.sources.CommitLogTableFormat
    val dir = Files.createTempDirectory("graft_tf_upsert").toString + "/t"
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // upsert into a non-existent table = plain first commit
    assert(fmt.upsertByKey(spark, dir,
      (1L to 10L).map(i => (i, s"v1_$i")).toDF("k", "v"), "k", "u0") == 0L)
    assert(fmt.versions(spark, dir) == Seq(1L))
    def files(name: String) =
      fs.globStatus(new Path(s"$dir/$name/*.parquet"))
        .map(s => s.getPath.getName -> s.getModificationTime).toMap
    val base = files("data-v1-u0")
    // updates: 3 matched keys (new payloads) + 2 fresh inserts
    val ups = Seq((3L, "NEW_3"), (7L, "NEW_7"), (9L, "NEW_9"),
      (21L, "ins_21"), (22L, "ins_22")).toDF("k", "v")
    assert(fmt.upsertByKey(spark, dir, ups, "k", "u1") == 3L,
      "exactly the 3 matched rows are replaced")
    // ONE new version; prior data files byte-untouched (merge-on-read)
    assert(fmt.versions(spark, dir) == Seq(1L, 2L))
    assert(files("data-v1-u0") == base, "upsert must not rewrite prior files")
    val now = fmt.read(spark, dir).get.as[(Long, String)].collect().toMap
    assert(now.size == 12 && now(3L) == "NEW_3" && now(7L) == "NEW_7" &&
      now(9L) == "NEW_9" && now(21L) == "ins_21" && now(1L) == "v1_1")
    // time travel: the pre-upsert version still shows the old payloads
    val before = fmt.readVersion(spark, dir, 1L).get.as[(Long, String)].collect().toMap
    assert(before.size == 10 && before(3L) == "v1_3")
    // upserts accumulate with erases: hide a key, then upsert it back
    assert(fmt.erase(spark, dir, $"k" === 21L, "g") == 1L)
    assert(fmt.upsertByKey(spark, dir, Seq((22L, "NEW_22")).toDF("k", "v"), "k", "u2") == 1L)
    val last = fmt.read(spark, dir).get.as[(Long, String)].collect().toMap
    assert(!last.contains(21L) && last(22L) == "NEW_22" && last.size == 11)
    // duplicate keys WITHIN updates: caller's declared truth, both land
    fmt.upsertByKey(spark, dir, Seq((5L, "A"), (5L, "B")).toDF("k", "v"), "k", "u3")
    val dups = fmt.read(spark, dir).get.as[(Long, String)].collect()
      .filter(_._1 == 5L).map(_._2).toSet
    assert(dups == Set("A", "B"))
  }

  test("changesBetween: net row-level change feed from the log alone") {
    import spark.implicits._
    val fmt = graft.sources.CommitLogTableFormat
    val dir = Files.createTempDirectory("graft_tf_cdf").toString + "/t"
    // retention 3: deep-enough time travel to diff across TWO
    // transitions directly (rounds <13 had to capture/restore the
    // swept log entry to demo this — setRetention IS the real contract)
    fmt.setRetention(spark, dir, 3)
    fmt.commit(spark, dir, (1L to 10L).map(i => (i, s"v_$i")).toDF("k", "v"), "c1")
    fmt.append(spark, dir, Seq((11L, "v_11"), (12L, "v_12")).toDF("k", "v"), "a2")
    // v1 -> v2: pure append = inserts only
    val f12 = fmt.changesBetween(spark, dir, 1L, 2L).get
      .as[(Long, String, String)].collect().sorted.toSeq
    assert(f12 == Seq((11L, "v_11", "insert"), (12L, "v_12", "insert")))
    fmt.erase(spark, dir, $"k".isin(3L, 11L), "e3")
    // v2 -> v3: pure erase = deletes only (one from each dir)
    val f23 = fmt.changesBetween(spark, dir, 2L, 3L).get
      .as[(Long, String, String)].collect().sorted.toSeq
    assert(f23 == Seq((3L, "v_3", "delete"), (11L, "v_11", "delete")))
    // v1 -> v3 NET semantics across the retained window: k=11 was
    // appended AND erased inside it, never observable at either
    // endpoint, so it appears as NEITHER; k=3 (visible at v1, hidden
    // at v3) is a delete; k=12 an insert
    val f13 = fmt.changesBetween(spark, dir, 1L, 3L).get
      .as[(Long, String, String)].collect().sorted.toSeq
    assert(f13 == Seq((3L, "v_3", "delete"), (12L, "v_12", "insert")))
    // an upsert shows as delete(old) + insert(new)
    fmt.upsertByKey(spark, dir, Seq((5L, "NEW_5")).toDF("k", "v"), "k", "u4")
    val f34 = fmt.changesBetween(spark, dir, 3L, 4L).get
      .as[(Long, String, String)].collect().sorted.toSeq
    assert(f34 == Seq((5L, "NEW_5", "insert"), (5L, "v_5", "delete")))
    // same-version bound rejected; vacuumed versions return None
    intercept[IllegalArgumentException](fmt.changesBetween(spark, dir, 3L, 3L))
    assert(fmt.changesBetween(spark, dir, 1L, 4L).isEmpty,
      "v1 left the 3-version retention window after later commits")
    // a full rewrite breaks row identity: the feed REFUSES, never fakes
    fmt.compact(spark, dir, "opt")
    val Seq(prev, cur) = fmt.versions(spark, dir).takeRight(2)
    intercept[IllegalArgumentException](
      fmt.changesBetween(spark, dir, prev, cur))
  }

  test("append-time schema evolution: union schema, NULL backfill, evolved-column ops") {
    import spark.implicits._
    val fmt = graft.sources.CommitLogTableFormat
    val dir = Files.createTempDirectory("graft_tf_evolve").toString + "/t"
    fmt.commit(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "c1")
    // the appended dir carries a column the first dir lacks
    fmt.append(spark, dir, Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("k", "v", "score"), "a2")
    val got = fmt.read(spark, dir).get
    assert(got.columns.toSet == Set("k", "v", "score"), got.columns.toSeq.toString)
    val rows = got.as[(Long, String, Option[Long])].collect().sortBy(_._1).toSeq
    assert(rows == Seq((1L, "a", None), (2L, "b", None),
      (3L, "c", Some(30L)), (4L, "d", Some(40L))),
      "pre-evolution rows read NULL for the new column")
    // time travel to the pre-evolution version: old schema, old rows
    assert(fmt.readVersion(spark, dir, 1L).get.columns.toSet == Set("k", "v"))
    // the change feed spans the evolution (insert rows carry the new column)
    val feed = fmt.changesBetween(spark, dir, 1L, 2L).get
    assert(feed.columns.toSet == Set("k", "v", "score", "_change_type"))
    // erase may predicate on the evolved column (old rows read NULL -> miss)
    assert(fmt.erase(spark, dir, $"score" === 30L, "e") == 1L)
    assert(fmt.read(spark, dir).get.count() == 3L)
  }

  test("bloom index: point reads skip files zone maps cannot; stays live across erase/append") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val fmt = graft.sources.CommitLogTableFormat
    val dir = Files.createTempDirectory("graft_tf_bloom").toString + "/t"
    // hash-clustered on k: every file spans the full k range (zone maps
    // keep all), each k lives in exactly one file (bloom prunes)
    fmt.commit(spark, dir, (1L to 200L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(4, $"k"), "c1")
    assert(fmt.buildBloomIndex(spark, dir, "k").contains(4L))
    // equivalence on a present key
    val got = fmt.readBloomPoint(spark, dir, "k", 42L).get
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((42L, "v42")))
    // probe typed from the TABLE schema, not the value's runtime class:
    // xxhash64 hashes int(4B) and long(8B) differently, so an untyped
    // Int probe of this LONG column would be a silent false negative
    assert(fmt.readBloomPoint(spark, dir, "k", 42).get
      .as[(Long, String)].collect().toSeq == Seq((42L, "v42")),
      "Int probe of a long column must not lose rows")
    // and the mirror case: an INT column probed with a Long
    val dirI = Files.createTempDirectory("graft_tf_bloom_int").toString + "/t"
    fmt.commit(spark, dirI, (1 to 100).map(i => (i, i * 2)).toDF("ki", "w")
      .repartition(4, $"ki"), "ci")
    fmt.buildBloomIndex(spark, dirI, "ki")
    assert(fmt.readBloomPoint(spark, dirI, "ki", 7L).get
      .as[(Int, Int)].collect().toSeq == Seq((7, 14)),
      "Long probe of an int column must not lose rows")
    // effectiveness: the index admits strictly fewer files than the snapshot
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hash = spark.range(1)
      .select(org.apache.spark.sql.functions.xxhash64(lit(42L))).head().getLong(0)
    val admitted = spark.read.parquet(s"$dir/_index/bloom-v1-k")
      .select(col("bloom")).collect().count { r =>
        org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](0)))
          .mightContainLong(hash)
      }
    assert(admitted < 4, s"bloom admitted $admitted of 4 files")
    // absent key: empty, never an error
    assert(fmt.readBloomPoint(spark, dir, "k", 9999L).get.collect().isEmpty)
    // erase composes WITHOUT a rebuild: the file set is unchanged, so
    // the index re-pins to the erase's version and the DV hides the key
    assert(fmt.erase(spark, dir, $"k" === 42L, "e") == 1L)
    assert(fs.exists(new Path(s"$dir/_index/bloom-v2-k")),
      "an erase must re-pin the index, not orphan it")
    assert(fmt.readBloomPoint(spark, dir, "k", 42L).get.collect().isEmpty)
    // an append ADVANCES the index: prior files' blooms reused, only
    // the new dir aggregated, pinned to the new version — point reads
    // keep skipping with no rebuild (and see the appended rows)
    fmt.append(spark, dir, Seq((201L, "v201")).toDF("k", "v"), "a2")
    assert(fs.exists(new Path(s"$dir/_index/bloom-v3-k")),
      "an append must advance the index to the new version")
    assert(!fs.exists(new Path(s"$dir/_index/bloom-v1-k")) &&
      !fs.exists(new Path(s"$dir/_index/bloom-v2-k")),
      "older version pins must be swept by the advance")
    assert(fmt.readBloomPoint(spark, dir, "k", 201L).get
      .as[(Long, String)].collect().toSeq == Seq((201L, "v201")),
      "the advanced index must see the appended row")
    val advanced = spark.read.parquet(s"$dir/_index/bloom-v3-k")
    assert(advanced.count() == 5L, "4 reused blooms + 1 aggregated for the new dir")
    val hash201 = spark.range(1)
      .select(org.apache.spark.sql.functions.xxhash64(lit(201L))).head().getLong(0)
    val admitted201 = advanced.select(col("bloom")).collect().count { r =>
      org.apache.spark.util.sketch.BloomFilter
        .readFrom(new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](0)))
        .mightContainLong(hash201)
    }
    assert(admitted201 < 5, s"advanced bloom admitted $admitted201 of 5 files")
    // a full rebuild still works and re-pins to the same version
    fmt.buildBloomIndex(spark, dir, "k")
    assert(fmt.readBloomPoint(spark, dir, "k", 201L).get
      .as[(Long, String)].collect().toSeq == Seq((201L, "v201")))
  }

  test("commitWithRetry: the loser of a commit race rebases and lands; no lost update") {
    import spark.implicits._
    val fmt = graft.sources.CommitLogTableFormat
    val dir = Files.createTempDirectory("graft_tf_retry").toString + "/t"
    fmt.commit(spark, dir, Seq((1L, "base")).toDF("k", "v"), "init")
    // writer A: derive = current ∪ its row. A racer (writer B) sneaks a
    // commit in BETWEEN A's read and A's publish — modeled by a side
    // effect on A's first derivation, exactly the TOCTOU the retry
    // loop exists for.
    var derivations = 0
    graft.sources.CommitLogTableFormat.commitWithRetry(spark, dir,
      current => {
        derivations += 1
        if (derivations == 1) // B wins the first race
          fmt.commit(spark, dir, fmt.read(spark, dir).get
            .unionByName(Seq((2L, "from-B")).toDF("k", "v")), "writerB")
        current.get.unionByName(Seq((3L, "from-A")).toDF("k", "v"))
      }, "writerA")
    assert(derivations == 2, "A must re-derive against B's snapshot")
    val rows = fmt.read(spark, dir).get.as[(Long, String)].collect().toMap
    assert(rows == Map(1L -> "base", 2L -> "from-B", 3L -> "from-A"),
      s"no lost update: $rows")
    // versions strictly increased: init, B, A-retry
    assert(fmt.versions(spark, dir).takeRight(2) == Seq(2L, 3L))
    // exhausted retries surface the conflict instead of spinning
    intercept[graft.sources.ConcurrentCommitException] {
      graft.sources.CommitLogTableFormat.commitWithRetry(spark, dir,
        current => {
          fmt.commit(spark, dir, current.get, s"noisy${derivations}")
          derivations += 1
          current.get.unionByName(Seq((9L, "never")).toDF("k", "v"))
        }, "loser", maxAttempts = 2)
    }
  }

  test("mergeByKeyRetrying: merge is the rebase — equivalent to mergeByKey when quiet") {
    import spark.implicits._
    val dirA = Files.createTempDirectory("graft_merge_retry").toString + "/t"
    val dirB = Files.createTempDirectory("graft_merge_plain").toString + "/t"
    val base = Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("k", "v", "ver")
    val upd = Seq((2L, "b2", 2L), (3L, "c", 1L)).toDF("k", "v", "ver")
    Sinks.mergeByKeyRetrying(spark, dirA, base, Seq("k"), Seq("ver"), "m1")
    Sinks.mergeByKeyRetrying(spark, dirA, upd, Seq("k"), Seq("ver"), "m2")
    Sinks.mergeByKey(spark, dirB, base, Seq("k"), Seq("ver"), "m1",
      graft.sources.CommitLogTableFormat)
    Sinks.mergeByKey(spark, dirB, upd, Seq("k"), Seq("ver"), "m2",
      graft.sources.CommitLogTableFormat)
    val a = graft.sources.CommitLogTableFormat.read(spark, dirA).get
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    val b = graft.sources.CommitLogTableFormat.read(spark, dirB).get
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(a == b && a == Seq((1L, "a", 1L), (2L, "b2", 2L), (3L, "c", 1L)))
    // idempotent fixed point under retry too
    Sinks.mergeByKeyRetrying(spark, dirA, upd, Seq("k"), Seq("ver"), "m3")
    assert(graft.sources.CommitLogTableFormat.read(spark, dirA).get
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq == a)
  }

  test("ZOrderLayout: interleave exact; z-clustered files prune the second key, linear sort cannot") {
    import spark.implicits._
    // hand-checked Morton interleave (a bits at even positions)
    val zdf = Seq((3L, 1L), (0L, 3L), (0L, 0L)).toDF("a", "b")
      .select(graft.sources.ZOrderLayout.zvalue($"a", $"b", 2).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(zdf == Seq(7L, 10L, 0L), zdf.toString)
    // full 64x64 key grid, 16 files: z-order vs single-key clustering
    val dir = Files.createTempDirectory("graft_zorder").toString
    val grid = (0L until 4096L).map(id => (id, id / 64L, id % 64L))
      .toDF("id", "ka", "kb")
    graft.sources.ZOrderLayout.write(grid, "ka", "kb", 6, 16, s"$dir/z")
    grid.repartitionByRange(16, $"ka").sortWithinPartitions($"ka")
      .write.mode("overwrite").parquet(s"$dir/naive")
    // a kb-only range: the ka-sorted layout cannot prune AT ALL,
    // the z layout reads a strict subset
    val (zk, zt) = graft.sources.ZOrderLayout
      .pruneCount(spark, s"$dir/z", "ka", "kb", 0L, 63L, 8L, 15L)
    val (nk, nt) = graft.sources.ZOrderLayout
      .pruneCount(spark, s"$dir/naive", "ka", "kb", 0L, 63L, 8L, 15L)
    assert(zt == 16 && nt == 16, s"$zt / $nt files")
    assert(nk == 16, "single-key layout must admit every file on the other key")
    assert(zk < nk, s"z admitted $zk of $zt")
    // a two-key box prunes at least as hard as the single-key query
    val (zb, _) = graft.sources.ZOrderLayout
      .pruneCount(spark, s"$dir/z", "ka", "kb", 8L, 15L, 8L, 15L)
    assert(zb <= zk)
    // layout change moved bytes, not rows: both layouts read back equal
    val back = spark.read.parquet(s"$dir/z")
      .filter($"kb".between(8, 15)).count()
    assert(back == grid.filter($"kb".between(8, 15)).count())
  }

  test("checkedIngestStream: good rows to main, violations to quarantine, exactly-once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val fmt = graft.sources.CommitLogTableFormat
    val base = Files.createTempDirectory("graft_dlq").toString
    val main = s"$base/main"; val quar = s"$base/quarantine"
    val ckpt = s"$base/ckpt"
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.checkedIngestStream(mem.toDF().toDF("k", "v"), main, quar,
      Seq("k_positive" -> (col("k") > 0L), "v_set" -> col("v").isNotNull),
      ckpt).start()
    try {
      // batch 0: all clean -> main only, quarantine never materializes
      mem.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      assert(fmt.read(spark, main).get.count() == 2L)
      assert(fmt.read(spark, quar).isEmpty, "no quarantine table without violations")
      // batch 1: mixed — 2 clean, one negative key, one NULL v (both names recorded)
      mem.addData((3L, "c"), (-7L, "bad"), (4L, "d"))
      q.processAllAvailable()
      val mvAfterMixed = fmt.versions(spark, main)
      // batch 2: violation-only — quarantine grows, main must NOT churn
      // an empty-dir version (the skip is itself replayable)
      mem.addData((0L, null))
      q.processAllAvailable()
      assert(fmt.versions(spark, main) == mvAfterMixed,
        "a violation-only batch must not publish an empty main version")
      assert(fmt.read(spark, main).get.as[(Long, String)].collect().map(_._1).sorted
        .toSeq == Seq(1L, 2L, 3L, 4L))
      val quarRows = fmt.read(spark, quar).get
        .select(col("k"), col("_violated")).collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
      assert(quarRows == Map(-7L -> Set("k_positive"),
        0L -> Set("k_positive", "v_set")), quarRows.toString)
      // replay of each table's LAST APPLIED batch token: no-op on both
      // (main last appended at b1 — b2's good side was empty/skipped;
      // quarantine last appended at b2)
      val mv = fmt.versions(spark, main); val qv = fmt.versions(spark, quar)
      assert(fmt.appendIdempotent(spark, main,
        Seq((99L, "x")).toDF("k", "v"), "b1").isEmpty,
        "replaying the applied batch token must be a no-op on main")
      assert(fmt.appendIdempotent(spark, quar,
        Seq((98L, "y")).toDF("k", "v").withColumn("_violated",
          array(lit("k_positive"))), "b2").isEmpty,
        "replaying the applied batch token must be a no-op on quarantine")
      assert(fmt.versions(spark, main) == mv)
      assert(fmt.versions(spark, quar) == qv)
      assert(fmt.read(spark, main).get.count() == 4L)
    } finally q.stop()
  }

  test("commitChecked/appendChecked: violations reject the stage with exact counts") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val fmt = graft.sources.CommitLogTableFormat
    val dir = Files.createTempDirectory("graft_tf_checked").toString + "/t"
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val checks = Seq(
      "k_positive" -> ($"k" > 0L),
      "v_not_null" -> $"v".isNotNull)
    // a clean commit lands normally
    fmt.commitChecked(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "c1", checks)
    assert(fmt.read(spark, dir).get.count() == 2L)
    // violations: one bad k, one NULL v (NULL predicate = violation),
    // exact per-constraint counts; the table is untouched, stage gone
    val bad = Seq((0L, "x"), (-1L, null), (3L, "ok"))
      .toDF("k", "v")
    val e = intercept[graft.sources.ConstraintViolationException](
      fmt.commitChecked(spark, dir, bad, "c2", checks))
    assert(e.violations == Map("k_positive" -> 2L, "v_not_null" -> 1L), e.violations)
    assert(fmt.versions(spark, dir) == Seq(1L), "rejected commit must not version")
    assert(fmt.read(spark, dir).get.count() == 2L)
    assert(fs.globStatus(new Path(s"$dir/data-v2-*")) == null ||
      fs.globStatus(new Path(s"$dir/data-v2-*")).isEmpty, "stage must be deleted")
    // appendChecked: valid rows append; violating batch rejected whole
    assert(fmt.appendChecked(spark, dir, Seq((3L, "c")).toDF("k", "v"), "a2", checks) == 2L)
    assert(fmt.read(spark, dir).get.count() == 3L)
    intercept[graft.sources.ConstraintViolationException](
      fmt.appendChecked(spark, dir, Seq((-5L, "d")).toDF("k", "v"), "a3", checks))
    assert(fmt.read(spark, dir).get.count() == 3L)
  }

  test("readAsOf: timestamp time travel resolves the version live at that instant") {
    import spark.implicits._
    val fmt = graft.sources.CommitLogTableFormat
    val dir = Files.createTempDirectory("graft_tf_asof").toString + "/t"
    // before the table exists: None
    assert(fmt.versionAsOf(spark, dir, System.currentTimeMillis()).isEmpty)
    fmt.commit(spark, dir, Seq((1L, "v1")).toDF("k", "v"), "c1")
    Thread.sleep(1100) // FS mtime granularity can be a full second
    val t1 = System.currentTimeMillis()
    Thread.sleep(1100)
    fmt.append(spark, dir, Seq((2L, "v2")).toDF("k", "v"), "a2")
    // asOf t1: version 1 content, not the appended row
    assert(fmt.versionAsOf(spark, dir, t1).contains(1L))
    assert(fmt.readAsOf(spark, dir, t1).get.count() == 1L)
    // asOf now: the current snapshot
    val now = System.currentTimeMillis()
    assert(fmt.versionAsOf(spark, dir, now).contains(2L))
    assert(fmt.readAsOf(spark, dir, now).get.count() == 2L)
    // a crashed-legacy EMPTY entry (even as the mtime-latest one) is
    // not a commit: asOf must skip it and resolve the newest VALID
    // version instead of misreporting "table did not exist yet"
    val fsA = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsA.create(new org.apache.hadoop.fs.Path(s"$dir/_log/99"), true).close()
    assert(fmt.versionAsOf(spark, dir, System.currentTimeMillis()).contains(2L),
      "empty log entry must not satisfy (or mask) an asOf probe")
    fsA.delete(new org.apache.hadoop.fs.Path(s"$dir/_log/99"), true)
    // before the first commit's mtime: None
    assert(fmt.versionAsOf(spark, dir, 1000L).isEmpty)
  }

  test("setRetention: depth-N time travel, age floor, reference-based sweep") {
    import spark.implicits._
    val fmt = graft.sources.CommitLogTableFormat
    val dir = Files.createTempDirectory("graft_tf_retain").toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fmt.setRetention(spark, dir, 3)
    assert(fmt.retention(spark, dir) == ((3, 0L)))
    fmt.commit(spark, dir, Seq((1L, "a")).toDF("k", "v"), "c1")
    fmt.append(spark, dir, Seq((2L, "b")).toDF("k", "v"), "a2")
    fmt.append(spark, dir, Seq((3L, "c")).toDF("k", "v"), "a3")
    fmt.append(spark, dir, Seq((4L, "d")).toDF("k", "v"), "a4")
    // depth-3 window: v1 swept, v2..v4 retained and READABLE two back
    assert(fmt.versions(spark, dir) == Seq(2L, 3L, 4L))
    assert(fmt.readVersion(spark, dir, 2L).get.count() == 2L)
    assert(fmt.readVersion(spark, dir, 1L).isEmpty)
    // age floor: everything younger than the floor survives the sweep,
    // version count notwithstanding (the readAsOf contract)
    fmt.setRetention(spark, dir, 2, minAgeMillis = 3600L * 1000L)
    fmt.append(spark, dir, Seq((5L, "e")).toDF("k", "v"), "a5")
    assert(fmt.versions(spark, dir) == Seq(2L, 3L, 4L, 5L),
      "age floor must keep fresh versions beyond the count window")
    // floor dropped: the count rules again
    fmt.setRetention(spark, dir, 2)
    fmt.commit(spark, dir, Seq((9L, "z")).toDF("k", "v"), "c6")
    assert(fmt.versions(spark, dir) == Seq(5L, 6L))
    // reference-based dir sweep: one more full commit strands every
    // append-era dir and vacuum removes exactly those
    fmt.commit(spark, dir, Seq((10L, "y")).toDF("k", "v"), "c7")
    assert(fmt.versions(spark, dir) == Seq(6L, 7L))
    val dataDirs = fs.globStatus(new org.apache.hadoop.fs.Path(s"$dir/data-v*"))
      .map(_.getPath.getName).toSet
    assert(dataDirs == Set("data-v6-c6", "data-v7-c7"), dataDirs.toString)
    // retention below the in-flight-reader floor is rejected
    intercept[IllegalArgumentException](fmt.setRetention(spark, dir, 1))
  }

  test("HilbertLayout: reference walk exact, curve is Manhattan-adjacent, prunes <= Z-order") {
    import spark.implicits._
    // order-1 U: (0,0)=0 (0,1)=1 (1,1)=2 (1,0)=3 — the reference xy2d
    val h1 = Seq((0L, 0L), (0L, 1L), (1L, 1L), (1L, 0L)).toDF("a", "b")
      .select(graft.sources.HilbertLayout.hvalue($"a", $"b", 1).as("h"))
      .collect().map(_.getLong(0)).toSeq
    assert(h1 == Seq(0L, 1L, 2L, 3L), h1.toString)
    // THE Hilbert property Morton lacks: consecutive positions are
    // ALWAYS Manhattan-distance-1 neighbors — checked on the full
    // 32x32 grid (and the walk is a bijection onto 0..1023)
    val cells = (0L until 32L).flatMap(x => (0L until 32L).map(y => (x, y)))
    val hs = cells.toDF("a", "b")
      .select($"a", $"b", graft.sources.HilbertLayout.hvalue($"a", $"b", 5).as("h"))
      .collect().map(r => r.getLong(2) -> ((r.getLong(0), r.getLong(1))))
    assert(hs.map(_._1).sorted.toSeq == (0L until 1024L), "bijection")
    val byD = hs.sortBy(_._1).map(_._2).toSeq
    byD.zip(byD.tail).foreach { case ((x1, y1), (x2, y2)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"jump between consecutive curve positions: ($x1,$y1)->($x2,$y2)")
    }
    // same grid fixture as the Z-order spec: hilbert never prunes worse,
    // and the second-key range still beats the single-key layout
    val dir = Files.createTempDirectory("graft_hilbert").toString
    val grid = (0L until 4096L).map(id => (id, id / 64L, id % 64L))
      .toDF("id", "ka", "kb")
    graft.sources.HilbertLayout.write(grid, "ka", "kb", 6, 16, s"$dir/h")
    graft.sources.ZOrderLayout.write(grid, "ka", "kb", 6, 16, s"$dir/z")
    val boxes = Seq((0L, 63L, 8L, 15L), (8L, 15L, 8L, 15L),
      (24L, 39L, 24L, 39L), (30L, 33L, 0L, 63L))
    boxes.foreach { case (la, ha, lb, hb) =>
      val (hk, ht) = graft.sources.ZOrderLayout
        .pruneCount(spark, s"$dir/h", "ka", "kb", la, ha, lb, hb)
      val (zk, _) = graft.sources.ZOrderLayout
        .pruneCount(spark, s"$dir/z", "ka", "kb", la, ha, lb, hb)
      assert(ht == 16)
      assert(hk <= zk, s"box ($la..$ha, $lb..$hb): hilbert $hk vs z $zk")
    }
    // rows survive the layout byte shuffle
    assert(spark.read.parquet(s"$dir/h").count() == 4096L)
    assert(spark.read.parquet(s"$dir/h").agg(sum($"id")).head.getLong(0) ==
      (0L until 4096L).sum)
  }

  test("CommitLogTableFormat: vacuum spares a concurrent writer's higher-version stage") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val fmt = graft.sources.CommitLogTableFormat
    val dir = Files.createTempDirectory("graft_tf_stage").toString + "/t"
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fmt.commit(spark, dir, Seq((1L, "v1")).toDF("k", "v"), "a")
    // a concurrent writer has already STAGED version 3 (between this
    // writer's publish and its vacuum in real interleavings); a stale
    // crashed stage for version 1 also lies around
    fs.create(new Path(s"$dir/_log/.tmp-3-other"), true).close()
    fs.create(new Path(s"$dir/_log/.tmp-1-dead"), true).close()
    fmt.commit(spark, dir, Seq((2L, "v2")).toDF("k", "v"), "b")
    // the v<=2 stage is swept; the v3 stage (the OTHER writer's live
    // publish attempt) must survive — deleting it would force a
    // spurious ConcurrentCommitException with no real version conflict
    assert(!fs.exists(new Path(s"$dir/_log/.tmp-1-dead")), "stale stage swept")
    assert(fs.exists(new Path(s"$dir/_log/.tmp-3-other")),
      "a higher-version stage belongs to a live writer and must survive vacuum")
    // that writer's publish then succeeds via one rename
    assert(fs.rename(new Path(s"$dir/_log/.tmp-3-other"), new Path(s"$dir/_log/3")))
  }

  test("CommitLogTableFormat.erase: deletion vectors hide rows without rewriting files") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val fmt = graft.sources.CommitLogTableFormat
    val dir = Files.createTempDirectory("graft_tf_dv").toString + "/t"
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows = (1L to 100L).map(i => (i, s"r$i"))
    fmt.commit(spark, dir, rows.toDF("k", "v").repartition(4), "base")
    def dataFiles(): Map[String, Long] =
      fs.globStatus(new Path(s"$dir/data-v1-base/*.parquet"))
        .map(s => s.getPath.getName -> s.getModificationTime).toMap
    val filesBefore = dataFiles()
    // 1. erase by key predicate: rows vanish from read()...
    val n1 = fmt.erase(spark, dir, col("k") % 10 === 0, "gdpr1")
    assert(n1 == 10L, s"newly hidden: $n1")
    val visible = fmt.read(spark, dir).get.as[(Long, String)].collect().toSeq
    assert(visible.size == 90 && visible.forall(_._1 % 10 != 0))
    // ...with ZERO data-file rewrite (same files, same mtimes) — the
    // whole point of the DV path vs a37's whole-partition rewrite
    assert(dataFiles() == filesBefore, "erase must not touch data files")
    // 2. time travel: the pre-erase version still sees every row
    assert(fmt.versions(spark, dir) == Seq(1L, 2L))
    assert(fmt.readVersion(spark, dir, 1L).get.count() == 100L,
      "the pre-erase version must still resolve the erased rows")
    // 3. erasures ACCUMULATE; schema of read() is unchanged (no leak of
    // the internal __graft columns)
    val n2 = fmt.erase(spark, dir, col("k") <= 7, "gdpr2")
    assert(n2 == 7L)
    val after2 = fmt.read(spark, dir).get
    assert(after2.columns.toSeq == Seq("k", "v"))
    assert(after2.count() == 83L)
    assert(dataFiles() == filesBefore)
    // 4. re-running a covered predicate is a no-op: no new version
    assert(fmt.erase(spark, dir, col("k") === 70, "gdpr3") == 0L)
    assert(fmt.versions(spark, dir) == Seq(2L, 3L))
    // 5. merge semantics survive a normal commit on top (full replace
    // drops the DV — new snapshot, fresh content)
    fmt.commit(spark, dir, fmt.read(spark, dir).get, "rebase")
    assert(fmt.read(spark, dir).get.count() == 83L)
    // 6. compact = the physical purge: merged rows rewritten, and the
    // old dv sidecars vacuumed once out of the retained window
    fmt.compact(spark, dir, "purge", targetFiles = 1)
    assert(fmt.read(spark, dir).get.as[(Long, String)].collect().toSeq.sorted ==
      rows.filter(r => r._1 % 10 != 0 && r._1 > 7).sorted)
    val leftoverDvs = fs.globStatus(new Path(s"$dir/dv-v*"))
    assert(leftoverDvs == null || leftoverDvs.isEmpty,
      "dv sidecars outside the retained window must be vacuumed")
  }

  test("eraseStream: streamed requests hide rows via deletion vectors, replay-safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.hadoop.fs.Path
    val fmt = graft.sources.CommitLogTableFormat
    val dir = Files.createTempDirectory("graft_erase_stream").toString + "/t"
    val ckpt = Files.createTempDirectory("graft_erase_ckpt").toString
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fmt.commit(spark, dir, (1L to 100L).map(i => (i, s"r$i")).toDF("k", "v").repartition(4), "base")
    val filesBefore = fs.globStatus(new Path(s"$dir/data-v1-base/*.parquet"))
      .map(s => s.getPath.getName -> s.getModificationTime).toMap
    val mem = MemoryStream[Long]
    val q = StreamingOps.eraseStream(mem.toDF().toDF("subject"), dir, ckpt, "subject", "k").start()
    try {
      mem.addData(10L, 20L)
      q.processAllAvailable()
      assert(fmt.read(spark, dir).get.count() == 98L)
      // batch 2: one new subject, one already covered — accumulates
      mem.addData(20L, 30L)
      q.processAllAvailable()
      val left = fmt.read(spark, dir).get.as[(Long, String)].collect().map(_._1).toSet
      assert(left.size == 97 && !left(10L) && !left(20L) && !left(30L))
      // an EMPTY batch and a fully-covered batch publish nothing new
      val versionsBefore = fmt.versions(spark, dir)
      mem.addData(30L)
      q.processAllAvailable()
      assert(fmt.versions(spark, dir) == versionsBefore, "covered request must be a no-op")
      // zero data-file IO across the whole stream
      assert(fs.globStatus(new Path(s"$dir/data-v1-base/*.parquet"))
        .map(s => s.getPath.getName -> s.getModificationTime).toMap == filesBefore)
    } finally q.stop()
  }

  test("CommitLogTableFormat.compact: same rows, fewer files, old version retained") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val fmt = graft.sources.CommitLogTableFormat
    val dir = Files.createTempDirectory("graft_tf_compact").toString + "/t"
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fmt.compact(spark, dir, "noop").isEmpty, "compact before first commit is a no-op")
    // a fragmented snapshot: 8 parquet files for 100 rows
    val rows = (1L to 100L).map(i => (i, s"r$i"))
    fmt.commit(spark, dir, rows.toDF("k", "v").repartition(8), "frag")
    def files(name: String) =
      fs.globStatus(new Path(s"$dir/$name/*.parquet")).length
    val fragDir = fmt.versions(spark, dir).max
    assert(files(s"data-v$fragDir-frag") == 8)
    val v = fmt.compact(spark, dir, "opt", targetFiles = 1)
    assert(v.contains(2L), s"compact version: $v")
    // identical content, one file
    assert(fmt.read(spark, dir).get.as[(Long, String)].collect().sorted.toSeq ==
      rows.sorted)
    assert(files("data-v2-opt") == 1, "compaction must produce the target file count")
    // the fragmented version stays readable for in-flight readers
    assert(fmt.readVersion(spark, dir, 1L).get.count() == 100L)
    assert(fmt.versions(spark, dir) == Seq(1L, 2L))
  }

  test("graft change-feed stream: per-version frames ≡ changesBetween, exactly-once across restart") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val fmt = graft.sources.CommitLogTableFormat
    val dir = Files.createTempDirectory("graft_feed").toString + "/t"
    val ckpt = Files.createTempDirectory("graft_feed_ck").toString
    fmt.commit(spark, dir, (1L to 50L).map(i => (i, i * 10L)).toDF("k", "p"), "b")
    fmt.upsertByKey(spark, dir,
      Seq((7L, 777L), (51L, 510L)).toDF("k", "p"), "k", "u1")
    val buf = collection.mutable.ArrayBuffer.empty[(Long, Long, String, Long)]
    def run(): Unit = {
      val q = spark.readStream.format("graft")
        .option("changeFeed", "true").option("startingVersion", "1")
        .load(dir)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = b.select("k", "p", "_change_type", "_commit_version")
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
          buf.synchronized { buf ++= rows }
          ()
        }.start()
      q.awaitTermination()
    }
    run()
    val got1 = buf.toSet
    // v1 = the table's birth (50 pure inserts); v2 = the upsert's
    // pre-image delete + its two inserts, each stamped _commit_version
    assert(buf.size == 53 && got1.count(_._4 == 1L) == 50)
    assert(got1.filter(_._4 == 2L) ==
      Set((7L, 70L, "delete", 2L), (7L, 777L, "insert", 2L), (51L, 510L, "insert", 2L)))
    // the stream's v1->v2 frame IS the batch changesBetween frame
    val batch = fmt.changesBetween(spark, dir, 1L, 2L).get
      .select("k", "p", "_change_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got1.filter(_._4 == 2L).map(t => (t._1, t._2, t._3)) == batch)
    // restart the SAME checkpoint after new work — an erase, i.e. a
    // DV-only transition: exactly the new transition arrives, no replay
    fmt.erase(spark, dir, col("k") === 9L, "e")
    run()
    assert(buf.size == 54, s"restart must deliver only the new transition, got ${buf.size}")
    assert(buf.toSet -- got1 == Set((9L, 90L, "delete", 3L)))
    // CDC consumer composition (the d42 admission shape): feed inserts
    // through the Bloom front door — a key already in the corpus may
    // collide (exact join decides), a guaranteed-new key admits free
    val bloom = graft.operators.DedupOps.BloomAdmission.build(
      (1L to 50L).toDF("k"), col("k"), 1000L, 1L << 16)
    val inserts = buf.toSeq.filter(t => t._3 == "insert" && t._4 > 1L)
      .map(t => (t._1, t._2)).toDF("k", "p")
    val pre = graft.operators.DedupOps.BloomAdmission.prefilter(inserts, bloom, col("k"))
    val newKeys = pre.filter(!col("maybe_dup")).select("k").as[Long].collect().toSet
    assert(newKeys.contains(51L) && !newKeys.contains(7L),
      "bloom admission over the feed: no false negatives, fresh keys admit free")
  }

  test("persisted add-file stats: pruned reads open zero live footers; sidecar-less dirs fall back") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val fmt = graft.sources.CommitLogTableFormat
    val footers = graft.sources.ParquetFooters
    val dir = Files.createTempDirectory("graft_tf_stats").toString + "/t"
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // range-clustered commit (4 disjoint-k files) + one appended dir
    fmt.commit(spark, dir, (1L to 400L).map(i => (i, s"s${i % 7}")).toDF("k", "s")
      .repartitionByRange(4, col("k")).sortWithinPartitions(col("k")), "c")
    fmt.append(spark, dir, (401L to 500L).map(i => (i, s"s${i % 7}")).toDF("k", "s")
      .coalesce(1), "a")
    val snap = fmt.currentSnapshot(spark, dir).get
    // every dir carries the commit-time sidecar, hidden from plain reads
    snap.dataDirNames.foreach { n =>
      assert(fs.exists(new Path(s"$dir/$n/_stats")), s"missing _stats sidecar in $n")
    }
    assert(fmt.read(spark, dir).get.count() == 500L,
      "_stats sidecars must be invisible to the resolved read")
    val opens0 = footers.opens.get()
    // integer prune, string prune, pruned read, and the DSv2/SQL path —
    // ALL served from persisted stats: zero footer opens on the query path
    val (kept, total) = fmt.prunedFiles(spark, dir, "k", 50L, 80L).get
    assert(total == 5 && kept.size == 1, s"kept ${kept.size} of $total")
    assert(fmt.readPruned(spark, dir, "k", 50L, 80L).get.count() == 31L)
    val (_, totalS) = fmt.prunedFilesString(spark, dir, "s", "s1", "s1").get
    assert(totalS == 5)
    spark.read.format("graft").load(dir).createOrReplaceTempView("stats_lake")
    assert(spark.sql("SELECT count(*) AS c FROM stats_lake WHERE k BETWEEN 50 AND 80")
      .head().getLong(0) == 31L)
    assert(footers.opens.get() == opens0,
      "a stats-bearing snapshot must prune without opening any data-file footer")
    // delete one dir's sidecar: the hybrid pruner falls back to LIVE
    // measurement for that dir — same answer, footers now opened.
    // (Deleting inside a committed dir violates immutability, which is
    // exactly what the snapshot-metadata cache relies on — a fixture
    // that does it must invalidate, like any byte-mutating tool.)
    fs.delete(new Path(s"$dir/${snap.dataDirNames.head}/_stats"), true)
    fmt.invalidateMetaCache()
    val (kept2, total2) = fmt.prunedFiles(spark, dir, "k", 50L, 80L).get
    assert(kept2.size == 1 && total2 == 5,
      "the fallback path must prune identically")
    assert(footers.opens.get() > opens0,
      "sidecar-less dirs must fall back to measuring live footers")
  }

  test("CommitLogTableFormat.compactDirs: subset merged with DV folded, untouched dirs byte-identical") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val fmt = graft.sources.CommitLogTableFormat
    val dir = Files.createTempDirectory("graft_tf_pcompact").toString + "/t"
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fmt.compactDirs(spark, dir, Seq("data-v1-x"), "noop").isEmpty,
      "compactDirs before first commit is a no-op")
    // three small loads — the daily-append fragmentation pattern
    fmt.commit(spark, dir, (1L to 100L).map(i => (i, s"r$i")).toDF("k", "v")
      .repartition(4), "l0")
    fmt.append(spark, dir, (101L to 200L).map(i => (i, s"r$i")).toDF("k", "v")
      .repartition(4), "l1")
    fmt.append(spark, dir, (201L to 300L).map(i => (i, s"r$i")).toDF("k", "v")
      .repartition(4), "l2")
    // erasures spanning BOTH the rewritten subset and the survivor
    fmt.erase(spark, dir, col("k").isin(7L, 150L, 250L), "e")
    val before = fmt.currentSnapshot(spark, dir).get
    assert(before.dataDirNames.size == 3)
    val Seq(d0, d1, d2) = before.dataDirNames
    val survivorFiles = fs.globStatus(new Path(s"$dir/$d2/*.parquet"))
      .map(s => s.getPath.getName -> (s.getModificationTime, s.getLen)).toMap
    // unknown dir name must throw, not silently skip
    intercept[IllegalArgumentException] {
      fmt.compactDirs(spark, dir, Seq(d0, "data-v9-ghost"), "bad")
    }
    val v = fmt.compactDirs(spark, dir, Seq(d0, d1), "pc", targetFiles = 1)
    assert(v.contains(5L), s"compactDirs version: $v")
    val after = fmt.currentSnapshot(spark, dir).get
    // exactly the survivor + the merged dir; survivor files untouched
    assert(after.dataDirNames.size == 2 && after.dataDirNames.head == d2,
      s"dirs after partial compact: ${after.dataDirNames}")
    val merged = after.dataDirNames.last
    assert(fs.globStatus(new Path(s"$dir/$d2/*.parquet"))
      .map(s => s.getPath.getName -> (s.getModificationTime, s.getLen)).toMap
      == survivorFiles, "partial compaction must not touch surviving dirs")
    assert(fs.globStatus(new Path(s"$dir/$merged/*.parquet")).length == 1)
    // content equality through the committed read — all three loads'
    // erasures still hidden (folded for d0/d1, DV-carried for d2)
    assert(fmt.read(spark, dir).get.as[(Long, String)].collect().map(_._1).sorted.toSeq
      == (1L to 300L).filterNot(Set(7L, 150L, 250L)),
      "partial compaction must preserve content exactly")
    // the rewritten rows' erasures became PHYSICAL: the merged dir
    // itself no longer holds them
    val mergedKeys = spark.read.parquet(s"$dir/$merged")
      .select("k").as[Long].collect().toSet
    assert(!mergedKeys.contains(7L) && !mergedKeys.contains(150L),
      "folded DV hits must be physically purged from the merged dir")
    // the survivor's erasure rides a rewritten DV sidecar (7/150
    // dropped, 250 kept) and still works; the raw file still has it
    assert(spark.read.parquet(s"$dir/$d2").select("k").as[Long]
      .collect().toSet.contains(250L), "survivor files must be byte-identical")
    // a rewrite set with NO DV hits: the prior sidecar is carried
    // forward by NAME (no pointless sidecar rewrite) and still hides
    // the survivor's erasures
    fmt.erase(spark, dir, col("k") === 299L, "e2") // hits only d2
    val snap2 = fmt.currentSnapshot(spark, dir).get
    val v2 = fmt.compactDirs(spark, dir, Seq(merged), "pc2")
    val after2 = fmt.currentSnapshot(spark, dir).get
    assert(v2.contains(snap2.version + 1))
    assert(after2.dvName == snap2.dvName,
      "a hit-free rewrite set must carry the prior DV sidecar forward")
    assert(fmt.read(spark, dir).get.count() == 296L) // 300 - {7,150,250,299}
  }

  test("profileMergeBatch over CommitLogTableFormat: merge + replay-skip hold") {
    import graft.jobs.Profiles
    val fmt = graft.sources.CommitLogTableFormat
    val li = Tables.lineitem(spark, sfDir)
    val cols = Seq("l_quantity", "l_extendedprice")
    val pdir = Files.createTempDirectory("graft_tf_prof").toString + "/profile"
    val b0 = li.filter(pmod(col("l_orderkey"), lit(2)) === 0)
    val b1 = li.filter(pmod(col("l_orderkey"), lit(2)) === 1)
    StreamingOps.profileMergeBatch(b0, 0L, cols, pdir, fmt)
    StreamingOps.profileMergeBatch(b1, 1L, cols, pdir, fmt)
    // replayed batch (at-least-once foreachBatch): must be skipped
    StreamingOps.profileMergeBatch(b1, 1L, cols, pdir, fmt)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("column_name")).collect().map(_.toSeq).toSeq
    val got = rows(fmt.read(spark, pdir).get.drop("_batch_id"))
    assert(got == rows(Profiles.partial(li, cols)),
      "streamed profile must equal the full-scan profile")
  }

  test("promoteStream lands micro-batches in the hive date layout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Long)]
    val df = mem.toDF().toDF("ts", "event_type", "event_id")
    val out = Files.createTempDirectory("graft_pstream").toString
    val ckpt = Files.createTempDirectory("graft_pstream_ck").toString
    val q = StreamingOps.promoteStream(df, out, ckpt).start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      mem.addData((ts("2024-01-05 10:00:00"), "click", 1L), (ts("2024-01-05 11:00:00"), "view", 2L))
      q.processAllAvailable()
      mem.addData((ts("2024-01-06 09:00:00"), "click", 3L))
      q.processAllAvailable()
      val back = spark.read.parquet(out)
      assert(back.count() == 3)
      // identical layout to the batch sink: partition dirs prune by path
      assert(new java.io.File(s"$out/source=click/y=2024/m=1/d=5").exists())
      assert(new java.io.File(s"$out/source=click/y=2024/m=1/d=6").exists())
      assert(back.filter(col("source") === "click" && col("d") === 5).count() == 1)
    } finally q.stop()
  }

  test("bucketed tables join with ZERO exchanges (write-once shuffle amortization)") {
    import graft.sources.BucketedTables
    val orders = Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey", "o_totalprice")
    val lines = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity")
    BucketedTables.writeBucketed(orders, "b_orders", "o_orderkey", 8)
    BucketedTables.writeBucketed(lines, "b_lineitem", "l_orderkey", 8)
    try {
      val joined = BucketedTables.bucketedJoin(spark, "b_orders", "b_lineitem",
        "o_orderkey", "l_orderkey")
      assert(joined.count() == lines.count()) // every lineitem matches its order
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), "bucketed join must not shuffle:\n" + plan.take(2000))
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("SourceRegistry loads the reference-shaped JSON config") {
    val cfg = Files.createTempFile("graft_cfg", ".json")
    Files.writeString(cfg,
      """{"website": {"city-data": {"url": "https://x/{}.html", "element_id": "content", "parameters": "state,city"},
        |             "usa": {"url": "http://y/{}.htm", "element_id": "content", "parameters": "state,city"}},
        | "api": {"schools": {"endpoint": "https://api/schools", "parameters": "state,zip", "api_key": "k"}}}""".stripMargin)
    val reg = SourceRegistry.fromJson(spark, cfg.toString)
    assert(reg.count() == 3)
    val row = reg.filter(col("name") === "schools").head()
    assert(row.getAs[String]("kind") == "api")
    assert(row.getAs[String]("endpoint") == "https://api/schools")
    assert(row.getSeq[String](row.fieldIndex("parameters")) == Seq("state", "zip"))
  }

  test("SourceRegistry loads the reference's scraper_config.csv shape") {
    val cfg = getClass.getResource("/scraper_config.csv").getPath
    val reg = SourceRegistry.fromCsv(spark, cfg, "website")
    assert(reg.count() == 2)
    assert(reg.filter(col("kind") === "website").count() == 2)
    val sites = reg.select("site").collect().map(_.getString(0)).toSet
    assert(sites == Set("city-data", "usa"))
  }

  test("statusWriteback merges on registry-resolved composite keys") {
    import spark.implicits._
    // the reference's greatschools_control.csv shape: rows identified
    // by (state, city) — the s3_directory columns — not by id
    val cfg = getClass.getResource("/scraper_config.csv").getPath
    val reg = SourceRegistry.fromCsv(spark, cfg, "website")
    val keys = SourceRegistry.matchCols(reg, "city-data", nameCol = "site")
    assert(keys == Seq("state", "city"))
    val control = Seq(
      (1L, "oh", "akron", "pending"),
      (2L, "oh", "toledo", "pending"),
      (3L, "tx", "akron", "pending"), // same city, other state — must NOT match
      (4L, "oh", "akron", "pending")  // composite dup — one event updates BOTH rows
    ).toDF("id", "state", "city", "status")
    val updates = Seq(("oh", "akron", "complete", "2024-01-02"))
      .toDF("u_state", "u_city", "new_status", "completed")
    val binding = Map(
      "state" -> (col("state"), col("u_state")),
      "city" -> (col("city"), col("u_city")))
    val merged = graft.operators.Etl.statusWriteback(
      control, updates, keys.map(binding), col("id"),
      col("status"), col("new_status"), col("completed"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(merged(1L) == ("complete", "2024-01-02"))
    assert(merged(4L) == ("complete", "2024-01-02")) // every matching row updates
    assert(merged(2L) == ("pending", null))
    assert(merged(3L) == ("pending", null)) // partial key match is no match
  }

  test("jsonl/csv ingest: bad lines quarantine, good rows parse typed") {
    import graft.sources.TextSources
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("text", StringType)))
    val dir = Files.createTempDirectory("graft_src").toString
    // 3 good lines, 1 broken JSON, 1 type mismatch — neither may kill the load
    Files.write(java.nio.file.Paths.get(s"$dir/docs.jsonl"), java.util.Arrays.asList(
      """{"doc_id": 1, "source": "web", "text": "alpha beta"}""",
      """{"doc_id": 2, "source": "web", "text": "gamma"}""",
      """{"doc_id": "not-a-number", "source": "web", "text": "bad type"}""",
      """{"doc_id": 4, "source": "api"""",
      """{"doc_id": 5, "source": "api", "text": "delta"}"""))
    val load = TextSources.readJsonl(spark, s"$dir/docs.jsonl", schema)
    try {
      assert(load.good.count() == 3)
      assert(load.good.schema("doc_id").dataType == LongType)
      assert(load.quarantine.count() == 2)
      // quarantine carries the raw line + the a9-style error status
      assert(load.quarantine.filter(col("status") =!= "error").count() == 0)
      assert(load.quarantine.filter(col("raw_line").contains("not-a-number")).count() == 1)
    } finally load.release()
    // CSV control-table shape under the same contract
    Files.write(java.nio.file.Paths.get(s"$dir/control.csv"), java.util.Arrays.asList(
      "id,city,status", "1,springfield,", "oops-no-id,x,pending", "3,shelbyville,done"))
    val cschema = StructType(Seq(
      StructField("id", LongType), StructField("city", StringType),
      StructField("status", StringType)))
    val cload = TextSources.readCsv(spark, s"$dir/control.csv", cschema)
    try {
      assert(cload.good.count() == 2)
      assert(cload.quarantine.count() == 1)
    } finally cload.release()
  }

  test("streaming profile maintenance equals the batch profile of all data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
    val rows = li.as[(Long, Double, Double)].collect()
    val dir = Files.createTempDirectory("graft_pstream").toString
    val mem = MemoryStream[(Long, Double, Double)]
    val q = StreamingOps.profileStream(
      mem.toDF().toDF("l_orderkey", "l_quantity", "l_extendedprice"),
      Seq("l_quantity", "l_extendedprice"), s"$dir/profile", s"$dir/ckpt")
      .start()
    try {
      rows.grouped(math.max(1, rows.length / 3)).foreach { g =>
        mem.addData(g.toIndexedSeq: _*); q.processAllAvailable()
      }
    } finally q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.drop("_batch_id").orderBy(col("column_name")).collect().map(_.toSeq).toSeq
    val expected = canon(graft.jobs.Profiles.partial(li, Seq("l_quantity", "l_extendedprice")))
    assert(canon(spark.read.parquet(s"$dir/profile")) == expected)
    // At-least-once replay: re-merging an already-merged batchId must be
    // a no-op (Profiles.merge is additive, NOT a replay fixed point —
    // the stored _batch_id is the idempotence key), and a fresh batchId
    // re-delivering the same rows must still merge. Replay the LAST
    // micro-batch's rows under its own (already stored) id:
    val snapBefore = canon(spark.read.parquet(s"$dir/profile"))
    val lastId = spark.read.parquet(s"$dir/profile")
      .agg(org.apache.spark.sql.functions.max(col("_batch_id"))).head.getLong(0)
    val replay = li.limit(10)
    StreamingOps.profileMergeBatch(replay, lastId,
      Seq("l_quantity", "l_extendedprice"), s"$dir/profile")
    assert(canon(spark.read.parquet(s"$dir/profile")) == snapBefore,
      "replayed batchId must not double-merge the additive profile")
    StreamingOps.profileMergeBatch(replay, lastId + 1,
      Seq("l_quantity", "l_extendedprice"), s"$dir/profile")
    assert(canon(spark.read.parquet(s"$dir/profile")) != snapBefore,
      "a genuinely new batch must still merge")
  }

  test("streaming out-of-order monitor flags regressions across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // user 1: in-order, then a 100s regression arriving in a LATER
    // batch; user 2: always in order. Sequential replay is the oracle.
    def ev(id: Long, uid: Long, sec: Long) =
      StreamingOps.EventRow(id, new java.sql.Timestamp(sec * 1000), uid, "view", 0.0)
    val b1 = Seq(ev(1, 1, 1000), ev(2, 1, 1200), ev(3, 2, 500))
    val b2 = Seq(ev(4, 1, 1100), ev(5, 1, 1300), ev(6, 2, 600))
    val mem = MemoryStream[StreamingOps.EventRow]
    val q = StreamingOps.outOfOrderStream(spark, mem.toDS())
      .writeStream.format("memory").queryName("ooo_test").outputMode("append").start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val got = spark.sql("select event_id, out_of_order, lag_sec from ooo_test")
        .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2))).sortBy(_._1)
      // sequential replay: event 4 (ts 1100) arrives after max 1200 → 100s behind
      val expect = Seq((1L, false, 0L), (2L, false, 0L), (3L, false, 0L),
        (4L, true, 100L), (5L, false, 0L), (6L, false, 0L))
      assert(got.toSeq == expect)
    } finally q.stop()
  }

  test("streaming curation matches the batch composition across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // real corpus rows + injected PII (d18's rule) so the scrub branch
    // actually fires; same input drives both the stream and the batch twin
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        concat(col("text"), when(pmod(col("doc_id"), lit(10)) === 0,
          concat(lit(" contact agent"), col("doc_id").cast("string"),
            lit("@example.org"))).otherwise(lit(""))).as("text"))
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val mem = MemoryStream[(Long, String, String)]
    val q = StreamingOps.curateStream(mem.toDF().toDF("doc_id", "source", "text"))
      .writeStream.format("memory").queryName("curate_test").outputMode("append").start()
    try {
      // three micro-batches — curation is stateless, so batch boundaries must not matter
      rows.grouped(math.max(1, rows.length / 3)).foreach { g =>
        mem.addData(g.toIndexedSeq: _*); q.processAllAvailable()
      }
      val streamed = spark.sql(
        "select doc_id, quality_flag, n_emails, scrubbed from curate_test")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
      val batch = StreamingOps.curateStream(docs)
        .select(col("doc_id"), col("quality_flag"), col("n_emails"), col("scrubbed"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty)
      // the scrub branch fired: injected emails were found and replaced
      assert(streamed.exists(_._3 > 0))
      assert(!streamed.exists(_._4.contains("@example.org")))
    } finally q.stop()
  }

  test("streaming corpus admission filter ≡ batch anti-join across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // corpus = docs with doc_id % 10 <> 7; the stream replays ALL docs,
    // where the % 10 = 7 split plus two VERBATIM corpus copies simulate
    // a crawl snapshot with exact re-fetches
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 7)
    val incomingDf = docs.filter(pmod(col("doc_id"), lit(10)) === 7)
      .unionByName(corpus.limit(2).withColumn("doc_id", col("doc_id") + 100000L))
    val incoming = incomingDf.collect().map(r => (r.getLong(0), r.getString(1)))
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.admitAgainstCorpus(
        mem.toDF().toDF("doc_id", "text"), corpus)
      .writeStream.format("memory").queryName("admit_test").outputMode("append").start()
    try {
      incoming.grouped(math.max(1, incoming.length / 2)).foreach { g =>
        mem.addData(g.toIndexedSeq: _*); q.processAllAvailable()
      }
      val streamed = spark.sql("select doc_id from admit_test")
        .collect().map(_.getLong(0)).toSet
      val batch = StreamingOps.admitAgainstCorpus(incomingDf, corpus)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty)
      // the two verbatim corpus re-fetches were refused admission
      assert(incoming.length - streamed.size >= 2)
    } finally q.stop()
  }

  test("streaming NEAR-dup admission ≡ batch d42 flags across micro-batch splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Same split as batch d42: corpus = doc_id % 10 <> 7, stream = the
    // % 10 = 7 snapshot. The stream side's row-local hash chain must
    // reproduce the batch LSH's band keys and exact-Jaccard values, so
    // the flags (is_dup, match_id, jaccard) must agree row-for-row
    // regardless of where the micro-batch boundaries fall.
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 7)
    val incoming = docs.filter(pmod(col("doc_id"), lit(10)) === 7)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def flagsOf(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.admitAgainstCorpusNearDup(spark,
        mem.toDF().toDF("doc_id", "text"), corpus)
      .toDF().writeStream.format("memory").queryName("neardup_admit")
      .outputMode("append").start()
    try {
      incoming.grouped(math.max(1, incoming.length / 3)).foreach { g =>
        mem.addData(g.toIndexedSeq: _*); q.processAllAvailable()
      }
      val got = flagsOf(spark.sql(
        "select doc_id, is_dup, match_id, jaccard from neardup_admit").collect())
      val want = flagsOf(DedupOps.d42IncrementalDedup(spark, sfDir).collect())
      assert(got == want)
      assert(got.size == incoming.length, "one flag row per incoming doc")
    } finally q.stop()
    DedupOps.release(spark, sfDir)
    // Planted paraphrase: a corpus doc with its first token changed is
    // NOT an exact dup (admitAgainstCorpus would admit it) but must be
    // flagged here; an unrelated fresh doc must pass. Deterministic
    // dup-branch coverage even if the real split has no near-dups.
    val donor = corpus.orderBy(col("doc_id")).limit(1)
      .collect().map(r => (r.getLong(0), r.getString(1))).head
    require(donor._2.split(" ").count(_.nonEmpty) >= 20, "donor doc too short to paraphrase")
    val para = (900001L, "zzparaphrase " + donor._2.split(" ").filter(_.nonEmpty).drop(1).mkString(" "))
    val fresh = (900002L, (1 to 30).map(i => s"uniquetok$i").mkString(" "))
    val mem2 = MemoryStream[(Long, String)]
    val q2 = StreamingOps.admitAgainstCorpusNearDup(spark,
        mem2.toDF().toDF("doc_id", "text"), corpus)
      .toDF().writeStream.format("memory").queryName("neardup_admit2")
      .outputMode("append").start()
    try {
      mem2.addData(para); q2.processAllAvailable()
      mem2.addData(fresh); q2.processAllAvailable()
      val rows = spark.sql(
        "select doc_id, is_dup, match_id, jaccard from neardup_admit2").collect()
      val byId = rows.map(r => r.getLong(0) -> r).toMap
      assert(byId(900001L).getBoolean(1), "paraphrase of a corpus doc must be flagged")
      assert(byId(900001L).getLong(2) == donor._1, "best match must be the donor")
      assert(byId(900001L).getDouble(3) >= 0.5 && byId(900001L).getDouble(3) < 1.0)
      assert(!byId(900002L).getBoolean(1), "an unrelated doc must be admitted")
    } finally q2.stop()
  }

  test("streaming daily anomaly flags match a sequential driver replay, spike caught") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingOps.EventRow]
    val q = StreamingOps.anomalyStream(spark, mem.toDS(), watermarkDelay = "1 hour")
      .writeStream.format("memory").queryName("anomaly_test").outputMode("append").start()
    def ev(id: Long, day: Int, hour: Int, typ: String) = StreamingOps.EventRow(
      id, java.sql.Timestamp.valueOf(f"2024-03-$day%02d $hour%02d:00:00"), id % 7, typ, 1.0)
    try {
      // days 1-4 steady (3/day), day 5 spikes to 12; "view" stays flat
      var id = 0L
      val batch1 = (1 to 4).flatMap { d =>
        (1 to 3).map { h => id += 1; ev(id, d, h, "click") } :+ { id += 1; ev(id, d, 1, "view") }
      }
      mem.addData(batch1: _*)
      q.processAllAvailable()
      val batch2 = (1 to 12).map { h => id += 1; ev(id, 5, h, "click") } :+
        { id += 1; ev(id, 5, 2, "view") }
      mem.addData(batch2: _*)
      q.processAllAvailable()
      // advance the watermark past day 5's end, then once more to fire timeouts
      mem.addData(ev(9001, 8, 12, "click"))
      q.processAllAvailable()
      mem.addData(ev(9002, 8, 13, "click"))
      q.processAllAvailable()
      val got = spark.sql("select event_type, day, cnt, flagged, n_prior from anomaly_test")
        .collect()
        .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2), r.getBoolean(3), r.getLong(4)))
        .toSet
      // sequential replay of the online rule over the same closed days
      val all = (batch1 ++ batch2).map(e =>
        (e.event_type, Math.floorDiv(e.ts.getTime, 86400000L)))
      val expected = all.groupBy(_._1).flatMap { case (typ, evs) =>
        val days = evs.groupBy(_._2).view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
        var (n, s, ssq) = (0L, 0L, BigInt(0))
        days.map { case (d, cnt) =>
          val dev = BigInt(cnt) * n - s
          val flagged = n >= 2 && dev * dev > 4 * (n * ssq - BigInt(s) * s)
          val r = (typ, java.time.LocalDate.ofEpochDay(d).toString, cnt, flagged, n)
          n += 1; s += cnt; ssq += BigInt(cnt) * cnt
          r
        }
      }.toSet
      assert(got == expected)
      // the planted day-5 spike is flagged; steady days are not
      assert(got.exists { case (t, day, cnt, f, _) => t == "click" && day == "2024-03-05" && cnt == 12 && f })
      assert(got.count(_._4) == 1)
    } finally q.stop()
  }

  test("streaming domain quota admits first-arrived per domain, exact cap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingOps.DomainDoc]
    val q = StreamingOps.capStream(spark, mem.toDS(), cap = 3)
      .writeStream.format("memory").queryName("cap_test").outputMode("append").start()
    try {
      // batch 1: two domains, a.com already over quota in one batch
      mem.addData(
        StreamingOps.DomainDoc("a.com", 11), StreamingOps.DomainDoc("a.com", 12),
        StreamingOps.DomainDoc("a.com", 13), StreamingOps.DomainDoc("a.com", 14),
        StreamingOps.DomainDoc("b.org", 21))
      q.processAllAvailable()
      // batch 2: later arrivals — a.com is closed, b.org has 2 slots left
      mem.addData(
        StreamingOps.DomainDoc("a.com", 10), StreamingOps.DomainDoc("b.org", 22),
        StreamingOps.DomainDoc("b.org", 23), StreamingOps.DomainDoc("b.org", 24))
      q.processAllAvailable()
      val got = spark.sql("select domain, doc_id from cap_test").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      // a.com: first batch's three lowest ids; doc 10 arrived too late.
      // b.org: 21 from batch 1, then the two lowest later arrivals.
      assert(got == Set(("a.com", 11L), ("a.com", 12L), ("a.com", 13L),
        ("b.org", 21L), ("b.org", 22L), ("b.org", 23L)))
    } finally q.stop()
  }

  test("kmvStream: sketch state equals the batch KmvAgg fold across micro-batch splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ev(t: String, u: Long) = StreamingOps.EventRow(
      u, new java.sql.Timestamp(u * 1000L), u, t, 1.0)
    // api: 30 distinct users (saturates k=8); job: 5 (sub-k, exact);
    // users 1..6 repeat in batch 2 (sketch adds are idempotent)
    val api = (1L to 30L).map(ev("api", _))
    val job = (1L to 5L).map(ev("job", _))
    val all = api ++ job
    def runSplit(splitAt: Int, name: String): Map[String, (Int, Long)] = {
      val mem = MemoryStream[StreamingOps.EventRow]
      val q = StreamingOps.kmvStream(spark, mem.toDS(), k = 8)
        .writeStream.format("memory").queryName(name).outputMode("update").start()
      try {
        mem.addData(all.take(splitAt))
        q.processAllAvailable()
        mem.addData(all.drop(splitAt) ++ all.take(6)) // replayed users
        q.processAllAvailable()
        // est is monotone nondecreasing (size grows to k, then the kth
        // min only decreases), so max = the final state's estimate
        spark.sql(s"select event_type, max(sketch_size), max(est_distinct) from $name group by 1")
          .collect().map(r => r.getString(0) -> ((r.getInt(1), r.getLong(2)))).toMap
      } finally q.stop()
    }
    val s1 = runSplit(12, "kmv_s1")
    val s2 = runSplit(27, "kmv_s2")
    assert(s1 == s2, s"split invariance: $s1 vs $s2")
    // batch truth: the KmvAgg aggregate over the same rows
    val batch = all.toDF()
      .select(col("event_type"),
        expr("cast(conv(substring(md5(cast(user_id as string)), 1, 15), 16, 10) as bigint)").as("h"))
      .groupBy(col("event_type")).agg(expr("kmv_sketch(h, 8)").as("sk"))
      .collect().map { r =>
        val sk = r.getSeq[Long](1)
        val est = if (sk.size < 8) sk.size.toLong
          else ((BigInt(7) * BigInt(1152921504606846976L)) / BigInt(sk.max)).toLong
        r.getString(0) -> ((sk.size, est))
      }.toMap
    assert(s1 == batch, s"stream vs batch: $s1 vs $batch")
    assert(s1("job") == ((5, 5L)), "sub-k key must be exact")
    assert(s1("api")._1 == 8, "api sketch must saturate at k")
  }

  test("shardStream: assignments equal the batch e2 manifest across micro-batch splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the REAL corpus at sf0.001, streamed in per-source doc order
    // (the ingest contract) — truth is the actual batch operator
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        octet_length(col("text").cast("binary")).cast("long").as("n_bytes"))
      .orderBy("doc_id")
      .as[StreamingOps.DocBlob].collect().toSeq
    val truth = graft.operators.MultimodalOps.e2BlobShard(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2).toLong, r.getLong(3), r.getLong(4))))
      .toMap
    def runSplit(splits: Seq[Int], name: String): Map[Long, (String, Long, Long, Long)] = {
      val mem = MemoryStream[StreamingOps.DocBlob]
      val q = StreamingOps.shardStream(spark, mem.toDS())
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        (splits :+ docs.size).foldLeft(0) { (from, to) =>
          mem.addData(docs.slice(from, to)); q.processAllAvailable(); to
        }
        spark.sql(s"select * from $name").collect()
          .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))))
          .toMap
      } finally q.stop()
    }
    val s1 = runSplit(Seq(100, 101, 350), "shard_s1")
    assert(s1.size == docs.size)
    assert(s1 == truth, "stream assignment must equal the batch e2 manifest")
    // a different split (including a 1-row batch) produces the same rows
    val s2 = runSplit(Seq(7), "shard_s2")
    assert(s2 == s1, "split invariance")
  }

  test("streaming dedup drops repeated keys within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val df = mem.toDF().toDF("ts", "content_key")
    val q = StreamingOps.dedupStream(df, Seq("content_key"), "ts").writeStream
      .format("memory").queryName("dedup_test").outputMode("append").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
      mem.addData((t0, "a"), (t0, "a"), (t0, "b"))
      q.processAllAvailable()
      mem.addData((t0, "a"), (t0, "c"))
      q.processAllAvailable()
      val rows = spark.sql("select content_key from dedup_test").collect().map(_.getString(0))
      assert(rows.sorted.toSeq == Seq("a", "b", "c"), rows.mkString(","))
    } finally q.stop()
  }

  test("streaming dedup collapses identical content at DIFFERENT event times") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val df = mem.toDF().toDF("ts", "content_key")
    val q = StreamingOps.dedupStream(df, Seq("content_key"), "ts").writeStream
      .format("memory").queryName("dedup_ts_test").outputMode("append").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
      val t1 = java.sql.Timestamp.valueOf("2024-01-01 10:05:00")
      mem.addData((t0, "a"), (t1, "a"), (t0, "b"))
      q.processAllAvailable()
      mem.addData((t1, "a"), (t1, "b"))
      q.processAllAvailable()
      val rows = spark.sql("select content_key from dedup_ts_test").collect().map(_.getString(0))
      assert(rows.sorted.toSeq == Seq("a", "b"), rows.mkString(","))
    } finally q.stop()
  }

  test("streaming sessionization survives a late same-user event (watermark clamp)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingOps.EventRow]
    val q = StreamingOps.sessionize(spark, mem.toDS(), gapMs = 1000, watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("sess_late_test").outputMode("append").start()
    try {
      val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
      mem.addData(StreamingOps.EventRow(1, new java.sql.Timestamp(base), 7, "click", 1.0))
      q.processAllAvailable()
      // advance the watermark FAR past user 7's lastTs + gap…
      mem.addData(StreamingOps.EventRow(2, new java.sql.Timestamp(base + 600000), 8, "click", 1.0))
      q.processAllAvailable()
      // …then a LATE event for user 7: lastTs + gap ≤ watermark. Without
      // the clamp, setTimeoutTimestamp throws and kills the query.
      mem.addData(StreamingOps.EventRow(3, new java.sql.Timestamp(base + 1), 7, "view", 1.0))
      q.processAllAvailable()
      mem.addData(StreamingOps.EventRow(4, new java.sql.Timestamp(base + 1200000), 9, "click", 1.0))
      q.processAllAvailable()
      assert(q.isActive, Option(q.exception).map(_.toString).getOrElse(""))
      val rows = spark.sql("select * from sess_late_test").collect()
      assert(rows.exists(r => r.getAs[Long]("user_id") == 7), rows.mkString(";"))
    } finally q.stop()
  }

  test("streaming funnel stage-reach counts ≡ batch funnelOf on the same events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, offsetSec: Long, uid: Long, typ: String) =
      StreamingOps.EventRow(id,
        new java.sql.Timestamp(java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
          + offsetSec * 1000), uid, typ, 1.0)
    // user 1: full ordered funnel; user 2: click BEFORE any view (click
    // never qualifies, nor the later purchase); user 3: view+click, no
    // purchase; user 4: purchase only
    val batch1 = Seq(ev(1, 0, 1, "view"), ev(2, 10, 1, "click"),
      ev(3, 5, 2, "click"), ev(4, 20, 2, "view"))
    val batch2 = Seq(ev(5, 30, 1, "purchase"), ev(6, 40, 2, "purchase"),
      ev(7, 50, 3, "view"), ev(8, 60, 3, "click"), ev(9, 70, 4, "purchase"))
    val mem = MemoryStream[StreamingOps.EventRow]
    val q = StreamingOps.funnelStages(spark, mem.toDS(), watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("funnel_test").outputMode("append").start()
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
      val reach = spark.sql("select stage, user_id from funnel_test").collect()
        .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).distinct.length.toLong).toMap
      val b = graft.operators.Events.funnelOf((batch1 ++ batch2).toDS().toDF()).head()
      assert(reach.getOrElse("view", 0L) == b.getLong(0), s"views: $reach vs $b")
      assert(reach.getOrElse("click", 0L) == b.getLong(1), s"clicks: $reach vs $b")
      assert(reach.getOrElse("purchase", 0L) == b.getLong(2), s"purchases: $reach vs $b")
      // the stage-reach stream also names WHO converted
      val purchasers = spark.sql("select user_id from funnel_test where stage = 'purchase'")
        .collect().map(_.getLong(0)).toSet
      assert(purchasers == Set(1L))
    } finally q.stop()
  }

  test("compactStream maintains the a7 latest-per-key snapshot incrementally") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val snapDir = Files.createTempDirectory("graft_cdc").toString + "/snap"
    val ckptDir = Files.createTempDirectory("graft_cdc_ckpt").toString
    def ts(sec: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime + sec * 1000L)
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val df = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = StreamingOps.compactStream(df, snapDir, ckptDir,
      keyCols = Seq("user_id"), orderCols = Seq("ts", "event_id")).start()
    try {
      mem.addData((1L, ts(10), 1L, "a", 1.0), (2L, ts(20), 2L, "b", 2.0))
      q.processAllAvailable()
      assert(spark.read.parquet(snapDir).count() == 2)
      // newer row replaces u1; OLDER row for u2 must lose; u3 is new
      mem.addData((3L, ts(30), 1L, "c", 3.0), (4L, ts(5), 2L, "d", 4.0),
        (5L, ts(1), 3L, "e", 5.0))
      q.processAllAvailable()
      val got = spark.read.parquet(snapDir)
        .select("user_id", "event_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 3L, 2L -> 2L, 3L -> 5L), s"snapshot: $got")
    } finally q.stop()
  }

  test("buffered funnel ≡ batch under cross-batch reordering where plain funnel diverges") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, offsetSec: Long, uid: Long, typ: String) =
      StreamingOps.EventRow(id,
        new java.sql.Timestamp(java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
          + offsetSec * 1000), uid, typ, 1.0)
    // the ADVICE r5 scenario: user 1's click arrives in batch 1, its
    // EARLIER view in batch 2 — within the watermark delay, merely
    // reordered across batches. Batch semantics: view then click.
    val batch1 = Seq(ev(2, 10, 1, "click"))
    val batch2 = Seq(ev(1, 5, 1, "view"))
    val flush = Seq(ev(99, 3600, 42, "view")) // advances watermark past user 1
    def run(name: String,
            f: (org.apache.spark.sql.SparkSession, org.apache.spark.sql.Dataset[StreamingOps.EventRow]) =>
              org.apache.spark.sql.Dataset[StreamingOps.StageReach]): Set[String] = {
      val mem = MemoryStream[StreamingOps.EventRow]
      val q = f(spark, mem.toDS()).writeStream
        .format("memory").queryName(name).outputMode("append").start()
      try {
        mem.addData(batch1: _*); q.processAllAvailable()
        mem.addData(batch2: _*); q.processAllAvailable()
        mem.addData(flush: _*); q.processAllAvailable()
        spark.sql(s"select stage from $name where user_id = 1")
          .collect().map(_.getString(0)).toSet
      } finally q.stop()
    }
    val plain = run("funnel_plain",
      (s, ds) => StreamingOps.funnelStages(s, ds, watermarkDelay = "60 seconds"))
    val buffered = run("funnel_buffered",
      (s, ds) => StreamingOps.funnelStagesBuffered(s, ds, watermarkDelay = "60 seconds"))
    // batch ground truth on the same events
    val b = graft.operators.Events.funnelOf((batch1 ++ batch2).toDS().toDF()).head()
    assert(b.getLong(0) == 1 && b.getLong(1) == 1, s"batch ground truth: $b")
    assert(buffered == Set("view", "click"),
      s"buffered funnel must match batch under reordering, got $buffered")
    // the plain variant's documented contract gap: the click is lost
    assert(plain == Set("view"), s"expected plain funnel to drop the click, got $plain")
  }

  test("attributionStream credits ≡ batch c11 across micro-batch splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.sql.Timestamp.valueOf("2024-02-01 10:00:00").getTime
    def ev(id: Long, offsetMin: Long, uid: Long, typ: String, v: Double = 0.0) =
      StreamingOps.EventRow(id, new java.sql.Timestamp(base + offsetMin * 60000L),
        uid, typ, v)
    val day = 24L * 60
    // u1: view then click then purchase (credit=click), then a second
    //     purchase 8 days later (credit=none — lookback expired)
    // u2: purchase with no touch at all (none)
    // u3: click and purchase at the SAME timestamp (touch sorts first
    //     in c11's window order → credit=click), purchase id < click id
    //     to prove the is_purchase key, not event_id, decides it
    // u4: two same-ts views (ids 40,41) then purchase — the higher
    //     event_id view is "last" in both engines (kind is equal here,
    //     so this exercises the tie path, and the later view at +2
    //     overrides both)
    val all = Seq(
      ev(10, 0, 1, "view"), ev(11, 5, 1, "click"), ev(12, 9, 1, "purchase", 100.0),
      ev(13, 9 + 8 * day, 1, "purchase", 50.0),
      ev(20, 3, 2, "purchase", 10.0),
      ev(31, 7, 3, "click"), ev(30, 7, 3, "purchase", 20.0),
      ev(40, 1, 4, "view"), ev(41, 1, 4, "view"), ev(42, 2, 4, "view"),
      ev(43, 4, 4, "purchase", 30.0))
    // split with cross-batch REORDERING bounded by the watermark delay
    // (beyond-watermark lateness is dropped by contract, like every
    // buffered op here): u1's purchase lands a batch before its click;
    // u3's same-ts pair splits across batches
    val b1 = Seq(all(0), all(2), all(6), all(7), all(9))
    val b2 = Seq(all(1), all(5), all(8), all(10))
    val b3 = Seq(all(3), all(4))
    val flush = Seq(ev(99, 20 * day, 42, "view"))
    val mem = MemoryStream[StreamingOps.EventRow]
    val q = StreamingOps.attributionStream(spark, mem.toDS(),
        watermarkDelay = "2 hours")
      .writeStream.format("memory").queryName("attr_test").outputMode("append").start()
    try {
      Seq(b1, b2, b3, flush).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val got = spark.sql(
        """select touch_type, count(*) as n, cast(sum(cast(value as decimal(12,2))) as double) as v
          |from attr_test group by 1 order by 1""".stripMargin)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
      // ground truth: the REAL batch operator over the same rows
      val expect = graft.operators.Events.c11AttributionOf(
          all.toDS().toDF().withColumn("ts", col("ts").cast("timestamp")))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(got == expect, s"streaming $got vs batch $expect")
      // and the scenario resolves the way the comments claim
      val byType = got.map(t => t._1 -> ((t._2, t._3))).toMap
      assert(byType("click") == ((2L, 120.0)), byType.toString)
      assert(byType("none") == ((2L, 60.0)), byType.toString)
      assert(byType("view") == ((1L, 30.0)), byType.toString)
    } finally q.stop()
  }

  test("coverageStream blocks ≡ batch c34 across micro-batch splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.sql.Timestamp.valueOf("2024-04-01 08:00:00").getTime
    def ev(id: Long, offsetMin: Long, uid: Long) =
      StreamingOps.EventRow(id, new java.sql.Timestamp(base + offsetMin * 60000L),
        uid, "view", 0.0)
    // u1: chain 0,20,45 merges into ONE block (each within 30 min of
    //     the running end) then an isolated event at 300
    // u2: two events 10 min apart (one block), where the later event
    //     arrives a micro-batch EARLIER than the first (reordering)
    // u3: single event — block closes by watermark timeout, no
    //     follow-up event ever arrives for the user
    val all = Seq(ev(1, 0, 1), ev(2, 20, 1), ev(3, 45, 1), ev(4, 300, 1),
      ev(20, 15, 2), ev(21, 5, 2), ev(30, 50, 3))
    val b1 = Seq(all(0), all(4))           // u1@0, u2@15
    val b2 = Seq(all(1), all(5), all(6))   // u1@20, u2@5 (reordered), u3@50
    val b3 = Seq(all(2), all(3))           // u1@45, u1@300
    val flush = Seq(ev(99, 3000, 42))      // watermark far past everything
    val mem = MemoryStream[StreamingOps.EventRow]
    val q = StreamingOps.coverageStream(spark, mem.toDS(), watermarkDelay = "2 hours")
      .writeStream.format("memory").queryName("cover_test").outputMode("append").start()
    try {
      Seq(b1, b2, b3, flush).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val got = spark.sql(
        """select user_id, count(*) as n_blocks,
          |  sum(block_end_us - block_start_us) as covered_us,
          |  max(block_end_us - block_start_us) as max_block_us
          |from cover_test group by 1 order by 1""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      val expect = graft.operators.Events.c34IntervalUnionOf(
          all.toDS().toDF().withColumn("ts", col("ts").cast("timestamp")))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(got == expect, s"streaming $got vs batch $expect")
      // block-level sanity: u1 merged 0-45 into one block plus the
      // isolated 300; every emitted block is closed exactly once
      val blocks = spark.sql("select user_id, block_start_us from cover_test").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(blocks.length == blocks.distinct.length, "no block may emit twice")
      assert(blocks.count(_._1 == 1L) == 2)
      assert(blocks.count(_._1 == 3L) == 1, "u3's block must close by timeout")
    } finally q.stop()
  }

  test("streaming trending top-k ≡ batch sliding-window ranking") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
    def t(min: Int) = new java.sql.Timestamp(base + min * 60000L)
    // hour 1 dominated by views, hour 2 by clicks — the trending set
    // must flip between windows; "scroll" stays out of every top-2
    val evs = Seq.tabulate(10)(i => (t(i * 5), "view")) ++
      Seq.tabulate(4)(i => (t(i * 13 + 1), "click")) ++
      Seq((t(7), "purchase"), (t(31), "scroll")) ++
      Seq.tabulate(9)(i => (t(60 + i * 6), "click")) ++
      Seq.tabulate(3)(i => (t(62 + i * 17), "view"))
    val dim = Seq("view", "click", "purchase", "scroll").toDF("event_type")
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val q = StreamingOps.trendingTopK(mem.toDF().toDF("ts", "event_type"), dim,
        k = 2, windowDur = "1 hour", slide = "30 minutes", watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("trend_test").outputMode("append").start()
    try {
      mem.addData(evs: _*); q.processAllAvailable()
      // far-future flush: watermark passes every real window's end
      mem.addData((t(600), "scroll")); q.processAllAvailable()
      val got = spark.sql(
          "select window_start, rank, event_type, n_events from trend_test").collect()
        .map(r => (r.getTimestamp(0), r.getAs[Number](1).longValue, r.getString(2), r.getLong(3)))
        .toSet
      // batch twin over the same events (minus the flush): counts per
      // sliding window, row_number under the identical tie-break
      val want = evs.toDF("ts", "event_type")
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rank", row_number().over(Window.partitionBy(col("w"))
          .orderBy(col("n").desc, xxhash64(col("event_type")))))
        .filter(col("rank") <= 2)
        .select(col("w.start"), col("rank").cast("long"), col("event_type"), col("n"))
        .collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
      assert(got == want,
        s"missing=${(want -- got).mkString(";")} extra=${(got -- want).mkString(";")}")
      assert(!got.exists(_._3 == "scroll"), "scroll must never trend into a top-2")
    } finally q.stop()
  }

  test("stream-stream interval join matches within the window, bounded state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(java.sql.Timestamp, Long)]
    val buys = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val joined = StreamingOps.intervalJoin(
      clicks.toDF().toDF("click_ts", "user_id"),
      buys.toDF().toDF("buy_ts", "user_id", "amount"),
      key = "user_id", leftTs = "click_ts", rightTs = "buy_ts",
      delay = "10 seconds", window = "5 minutes")
    val q = joined.writeStream.format("memory").queryName("ssjoin_test")
      .outputMode("append").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      clicks.addData((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:00:00"), 2L))
      buys.addData(
        (ts("2024-01-01 10:02:00"), 1L, 9.99),  // in window for user 1
        (ts("2024-01-01 10:20:00"), 2L, 5.0))   // outside the 5-min window
      q.processAllAvailable()
      // advance both watermarks so results flush
      clicks.addData((ts("2024-01-01 11:00:00"), 99L))
      buys.addData((ts("2024-01-01 11:00:00"), 98L, 1.0))
      q.processAllAvailable()
      val rows = spark.sql("select user_id, amount from ssjoin_test").collect()
      assert(rows.map(r => (r.getLong(0), r.getDouble(1))).toSet == Set((1L, 9.99)), rows.mkString(";"))
    } finally q.stop()
  }

  test("Ingest.collect drives a Connector in batches and captures per-item errors") {
    import spark.implicits._
    val items = spark.createDataset(Seq(
      graft.sources.Ingest.WorkItem(1, "city-data", "https://x/birmingham-alabama.html"),
      graft.sources.Ingest.WorkItem(2, "city-data", "https://x/invalid-city.html"),
      graft.sources.Ingest.WorkItem(3, "usa", "https://y/huntsville.htm")))
    val out = graft.sources.Ingest.collect(spark, items, new graft.sources.Ingest.StubConnector, batchSize = 2)
      .collect().sortBy(_.id)
    assert(out.map(_.status).toSeq == Seq("completed", "error", "completed"))
    assert(out(0).body.startsWith("<html>payload:city-data:"))
    assert(out(1).body.contains("fetch failed"))
    // deterministic: a second run produces identical payloads
    val again = graft.sources.Ingest.collect(spark, items, new graft.sources.Ingest.StubConnector, batchSize = 2)
      .collect().sortBy(_.id)
    assert(again.map(p => (p.id, p.status, p.body)).toSeq == out.map(p => (p.id, p.status, p.body)).toSeq)
  }

  test("Jobs.runWithRetry retries with backoff then succeeds (step-function semantics)") {
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    var calls = 0
    val out = graft.jobs.Jobs.runWithRetry(
      graft.jobs.Jobs.RetryPolicy(maxAttempts = 5, intervalMs = 30000, backoffRate = 2.0),
      sleep = sleeps += _) {
      calls += 1
      if (calls < 3) throw new RuntimeException("transient")
      "ok"
    }
    assert(out == "ok" && calls == 3)
    assert(sleeps.toSeq == Seq(30000L, 60000L))
    val ex = intercept[graft.jobs.Jobs.RetriesExhausted] {
      graft.jobs.Jobs.runWithRetry(
        graft.jobs.Jobs.RetryPolicy(maxAttempts = 2, intervalMs = 1),
        sleep = _ => ()) { throw new RuntimeException("always") }
    }
    assert(ex.attempts == 2)
  }

  test("Jobs.runWithRetry: fatal errors propagate unwrapped from the first attempt") {
    def fatal(err: Throwable): (Throwable, Int, Int) = {
      var calls = 0
      var sleeps = 0
      val thrown = intercept[Throwable] {
        graft.jobs.Jobs.runWithRetry(graft.jobs.Jobs.RetryPolicy(maxAttempts = 5, intervalMs = 1),
          sleep = _ => sleeps += 1) { calls += 1; throw err }
      }
      (thrown, calls, sleeps)
    }
    val oom = new OutOfMemoryError("heap")
    assert(fatal(oom) == ((oom, 1, 0)))
    val interrupt = new InterruptedException("cancelled")
    assert(fatal(interrupt) == ((interrupt, 1, 0)))
    // a non-fatal error the policy refuses is still wrapped, not retried
    val refused = intercept[graft.jobs.Jobs.RetriesExhausted] {
      graft.jobs.Jobs.runWithRetry(
        graft.jobs.Jobs.RetryPolicy(intervalMs = 1, retryOn = _ => false),
        sleep = _ => ()) { throw new IllegalStateException("bad input") }
    }
    assert(refused.attempts == 1 && refused.getCause.isInstanceOf[IllegalStateException])
  }

  test("Jobs.runPipeline: crash-resume skips the completed prefix; success clears the ledger") {
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("graft_pipeline").toString
    val ledger = new Path(s"$dir/_pipeline")
    val fs = ledger.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val log = scala.collection.mutable.ArrayBuffer[String]()
    var failProcess = true
    def steps: Seq[(String, () => Unit)] = Seq(
      "collect" -> (() => log += "collect"),
      "update-control" -> (() => log += "update-control"),
      "process-staging" -> (() => {
        if (failProcess) throw new RuntimeException("transient")
        log += "process-staging"
      }))
    val pol = graft.jobs.Jobs.RetryPolicy(maxAttempts = 2, intervalMs = 1)
    // run 1: first two steps complete, the third exhausts its retries
    intercept[graft.jobs.Jobs.RetriesExhausted] {
      graft.jobs.Jobs.runPipeline(fs, ledger, steps, pol, sleep = _ => ())
    }
    assert(log.toSeq == Seq("collect", "update-control"))
    assert(fs.exists(ledger), "ledger must survive the crash")
    // run 2 (the step-function restart): completed prefix SKIPPED
    failProcess = false
    val r = graft.jobs.Jobs.runPipeline(fs, ledger, steps, pol, sleep = _ => ())
    assert(r.skipped == Seq("collect", "update-control") && r.ran == Seq("process-staging"))
    assert(log.toSeq == Seq("collect", "update-control", "process-staging"))
    assert(!fs.exists(ledger), "full success must clear the ledger")
    // run 3: clean ledger reruns everything
    val r3 = graft.jobs.Jobs.runPipeline(fs, ledger, steps, pol, sleep = _ => ())
    assert(r3.skipped.isEmpty && r3.ran.size == 3)
    // a REORDERED pipeline invalidates the stale ledger suffix: complete
    // step A only, then swap the first two steps — nothing mis-skips
    var failB = true
    def ab: Seq[(String, () => Unit)] = Seq(
      "a" -> (() => log += "a"),
      "b" -> (() => { if (failB) throw new RuntimeException("boom"); log += "b" }))
    intercept[graft.jobs.Jobs.RetriesExhausted] {
      graft.jobs.Jobs.runPipeline(fs, ledger, ab, pol, sleep = _ => ())
    }
    failB = false
    val swapped = graft.jobs.Jobs.runPipeline(fs, ledger, ab.reverse, pol, sleep = _ => ())
    assert(swapped.skipped.isEmpty && swapped.ran == Seq("b", "a"),
      s"reordered pipeline must not mis-skip: $swapped")
  }

  test("Jobs.runPipeline: a crash inside the ledger publish window cannot lose the prefix") {
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("graft_pipeline_crash").toString
    val ledger = new Path(s"$dir/_pipeline")
    val tmp = new Path(s"$dir/._pipeline.tmp")
    val fs = ledger.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate the publish crash point: the content-complete tmp was
    // written and the old ledger deleted, but the rename never ran —
    // the instant the old delete-then-rename protocol would lose the
    // whole completed prefix and re-run it
    val out = fs.create(tmp, true)
    try out.write("collect\nupdate-control\n".getBytes("UTF-8")) finally out.close()
    assert(!fs.exists(ledger))
    val log = scala.collection.mutable.ArrayBuffer[String]()
    val steps: Seq[(String, () => Unit)] = Seq(
      "collect" -> (() => log += "collect"),
      "update-control" -> (() => log += "update-control"),
      "process-staging" -> (() => log += "process-staging"))
    val pol = graft.jobs.Jobs.RetryPolicy(maxAttempts = 1, intervalMs = 1)
    val r = graft.jobs.Jobs.runPipeline(fs, ledger, steps, pol, sleep = _ => ())
    assert(r.skipped == Seq("collect", "update-control") && r.ran == Seq("process-staging"),
      s"the tmp fallback must preserve the resume guarantee: $r")
    assert(log.toSeq == Seq("process-staging"), "the completed prefix must not re-run")
    assert(!fs.exists(ledger) && !fs.exists(tmp), "full success starts the next run clean")
  }

  test("streaming hourly window aggregates incrementally") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val q = StreamingOps.hourlyWindow(df).writeStream
      .format("memory").queryName("hourly_test").outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:15:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 10:45:00")
    val late = java.sql.Timestamp.valueOf("2024-01-01 20:00:00") // advances watermark past 10:00 window
    mem.addData((t0, "click", 1.0), (t1, "click", 2.0))
    q.processAllAvailable()
    mem.addData((late, "view", 5.0))
    q.processAllAvailable()
    val rows = spark.sql("select * from hourly_test").collect()
    q.stop()
    assert(rows.exists(r => r.getAs[String]("event_type") == "click" && r.getAs[Long]("n_events") == 2))
  }

  test("native session_window sessionization agrees with the batch sessionizer") {
    // batch mode: session_window works on static frames — per-user
    // session counts must equal c2's lag-based computation exactly
    val dir = "/root/testdata/sf0.001"
    val batch = graft.operators.Events.c2Sessionize(spark, dir)
      .select(col("user_id"), col("n_sessions"))
    val windowed = StreamingOps.sessionizeWindowed(
        Tables.events(spark, dir).select(col("user_id"), col("ts")))
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_sessions_w"))
    val joined = batch.join(windowed, "user_id")
    assert(joined.count() == batch.count())
    val disagree = joined.filter(col("n_sessions") =!= col("n_sessions_w"))
    assert(disagree.count() == 0, disagree.take(5).mkString(";"))
  }

  test("native session_window sessionization runs incrementally on a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val df = mem.toDF().toDF("ts", "user_id")
    val q = StreamingOps.sessionizeWindowed(df, gap = "1 second", watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("sessw_test").outputMode("append").start()
    try {
      val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
      mem.addData((new java.sql.Timestamp(base), 7L), (new java.sql.Timestamp(base + 500), 7L))
      q.processAllAvailable()
      // watermark far past user 7's session → the merged session emits
      mem.addData((new java.sql.Timestamp(base + 60000), 8L))
      q.processAllAvailable()
      mem.addData((new java.sql.Timestamp(base + 120000), 9L))
      q.processAllAvailable()
      val rows = spark.sql("select * from sessw_test").collect()
      assert(rows.exists(r => r.getAs[Long]("user_id") == 7 && r.getAs[Long]("n_events") == 2),
        rows.mkString(";"))
    } finally q.stop()
  }

  test("streaming sessionization closes a session after the gap (event time)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingOps.EventRow]
    val q = StreamingOps.sessionize(spark, mem.toDS(), gapMs = 1000, watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("sess_test").outputMode("append").start()
    try {
      val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
      mem.addData(
        StreamingOps.EventRow(1, new java.sql.Timestamp(base), 7, "click", 1.0),
        StreamingOps.EventRow(2, new java.sql.Timestamp(base + 500), 7, "view", 1.0))
      q.processAllAvailable()
      // advance the watermark far past user 7's gap; next batch fires its timeout
      mem.addData(StreamingOps.EventRow(3, new java.sql.Timestamp(base + 60000), 8, "click", 1.0))
      q.processAllAvailable()
      mem.addData(StreamingOps.EventRow(4, new java.sql.Timestamp(base + 120000), 9, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.sql("select * from sess_test").collect()
      assert(rows.exists(r => r.getAs[Long]("user_id") == 7 && r.getAs[Long]("n_events") == 2), rows.mkString(";"))
    } finally q.stop()
  }

  test("streaming burst flags ≡ c25's trailing-window rule, split across micro-batches") {
    import spark.implicits._
    import graft.operators.Events
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingOps.EventRow]
    val q = StreamingOps.burstStream(spark, mem.toDS(), watermarkDelay = "30 minutes")
      .writeStream.format("memory").queryName("burst_test").outputMode("append").start()
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    def ev(id: Long, hour: Int, typ: String) = StreamingOps.EventRow(
      id, new java.sql.Timestamp(base + hour * 3600000L + (id % 50) * 60000L),
      id % 7, typ, 1.0)
    try {
      // hours 0-27 steady (2/hour for click, view every 3rd hour — a
      // sparse type exercising missing-baseline-hours accounting)
      var id = 0L
      val batch1 = (0 to 27).flatMap { h =>
        (1 to 2).map { _ => id += 1; ev(id, h, "click") } ++
          (if (h % 3 == 0) { id += 1; Seq(ev(id, h, "view")) } else Nil)
      }
      mem.addData(batch1: _*)
      q.processAllAvailable()
      // hour 28 floods to 12 (the planted burst), 29-30 steady again
      val batch2 = (1 to 12).map { _ => id += 1; ev(id, 28, "click") } ++
        (29 to 30).flatMap { h => (1 to 2).map { _ => id += 1; ev(id, h, "click") } }
      mem.addData(batch2: _*)
      q.processAllAvailable()
      // advance the watermark far past hour 30, then again to fire timeouts
      mem.addData(ev(90001, 60, "click")); q.processAllAvailable()
      mem.addData(ev(90002, 61, "click")); q.processAllAvailable()
      val got = spark.sql(
          "select event_type, hour_idx, cnt, base_hours, base_cnt, burst from burst_test")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getBoolean(5))).toSet
      // sequential replay of c25's batch rule (same trailing-RANGE
      // semantics the c25 spec proves against the batch operator) over
      // the closed hours — the watermark-advance events never close
      // and are excluded from the replay, like the stream's output
      val all = (batch1 ++ batch2).map(e =>
        (e.event_type, Math.floorDiv(e.ts.getTime, 3600000L)))
      val expected = all.groupBy(_._1).flatMap { case (typ, evs) =>
        val hmap = evs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
        hmap.toSeq.sortBy(_._1).map { case (h, cnt) =>
          val baseKeys = (h - Events.BurstBaselineHours to h - 1).filter(hmap.contains)
          val bh = baseKeys.size.toLong
          val bc = baseKeys.map(hmap).sum
          (typ, h, cnt, bh, bc,
            bh >= Events.BurstMinBaseline && cnt * bh > 3 * bc)
        }
      }.toSet
      assert(got == expected)
      // the planted hour-28 flood is flagged; nothing else bursts
      val baseHour = Math.floorDiv(base, 3600000L)
      assert(got.exists { case (t, h, cnt, _, _, f) =>
        t == "click" && h == baseHour + 28 && cnt == 12 && f })
      assert(got.count(_._6) == 1)
    } finally q.stop()
  }

  test("ColumnarSources: ORC round-trip, pushdown, pruning, schema enforcement") {
    import org.apache.spark.sql.types._
    val out = Files.createTempDirectory("graft_orc").toString
    val orders = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    ColumnarSources.writeOrc(orders, out)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_totalprice", DoubleType), StructField("o_orderpriority", StringType)))
    val back = ColumnarSources.readOrc(spark, out, schema)
    assert(back.count() == orders.count())
    assert(back.exceptAll(orders).isEmpty && orders.exceptAll(back).isEmpty)
    // pushdown + pruning reach the ORC scan exactly like parquet
    val q = back.filter(col("o_orderkey") === 42L).select("o_orderkey", "o_totalprice")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,42)"),
      plan.take(1500))
    assert(plan.contains("ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>"),
      plan.take(1500))
    // additive evolution reads fine; a retyped column fails fast
    val subset = ColumnarSources.readOrc(spark, out,
      StructType(Seq(StructField("o_orderkey", LongType))))
    assert(subset.columns.toSeq == Seq("o_orderkey"))
    val bad = intercept[IllegalArgumentException] {
      ColumnarSources.readOrc(spark, out,
        StructType(Seq(StructField("o_orderkey", StringType))))
    }
    assert(bad.getMessage.contains("o_orderkey"))
    // Hive-era uppercase file columns satisfy a lowercase declared schema
    // under the session's default case-insensitive resolution
    val upperOut = Files.createTempDirectory("graft_orc_upper").toString
    ColumnarSources.writeOrc(
      orders.select(orders.columns.map(c => col(c).as(c.toUpperCase)).toIndexedSeq: _*),
      upperOut)
    val viaUpper = ColumnarSources.readOrc(spark, upperOut,
      StructType(Seq(StructField("o_orderkey", LongType))))
    assert(viaUpper.count() == orders.count())
  }

  test("e13 shard checksum: order-sensitive digest replayed locally") {
    import graft.operators.MultimodalOps
    val got = MultimodalOps.e13ShardChecksum(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getString(4)))
      .toMap
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def md5hex(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("MD5").digest(b)
        .map("%02x".format(_)).mkString
    val placed: Seq[(String, Long, Long, Long, String)] =
      docs.groupBy(_._2).toSeq.flatMap { case (src, ds) =>
        var off = 0L
        ds.sortBy(_._1).toSeq.map { case (id, _, text) =>
          val bytes = text.getBytes("UTF-8")
          val row = (src, id, off / MultimodalOps.ShardBytes, bytes.length.toLong, md5hex(bytes))
          off += bytes.length
          row
        }
      }
    val want = placed.groupBy(r => (r._1, r._3)).map { case (k, rows) =>
      val ordered = rows.sortBy(_._2)
      k -> (ordered.length.toLong, ordered.map(_._4).sum,
        md5hex(ordered.map(_._5).mkString.getBytes("UTF-8")))
    }
    assert(got == want, s"checksum ledger mismatch: got=${got.size} want=${want.size}")
    // order sensitivity: permuting two digests changes the rollup
    val (k0, (_, _, digest)) = want.head
    val rows0 = placed.filter(r => (r._1, r._3) == k0).sortBy(_._2)
    if (rows0.length >= 2) {
      val perm = rows0.take(2).reverse ++ rows0.drop(2)
      val permDigest = md5hex(perm.map(_._5).mkString.getBytes("UTF-8"))
      assert(permDigest != digest)
    }
  }

  test("pitStream enriches each event with the version valid at its event time") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val scd2 = graft.operators.Etl.a24Scd2Build(spark, sfDir).persist()
    val probe = Tables.events(spark, sfDir)
      .filter(col("user_id") < 20).select("event_id", "ts", "user_id").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
    val (b1, b2) = probe.splitAt(probe.length / 2)
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val df = mem.toDF().toDF("event_id", "ts", "user_id")
    val q = StreamingOps.pitStream(df, scd2).writeStream
      .format("memory").queryName("pit_test").outputMode("append").start()
    try {
      mem.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
      val got = spark.sql("select event_id, version, state from pit_test").collect()
        .map(r => r.getLong(0) -> (r.getInt(1), r.getString(2))).toMap
      val vers = scd2.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getTimestamp(3).getTime,
        if (r.isNullAt(4)) Long.MaxValue else r.getTimestamp(4).getTime))
      assert(got.size == probe.length, "exactly one enriched row per event")
      probe.foreach { case (eid, ts, uid) =>
        val want = vers.filter(v => v._1 == uid && ts.getTime >= v._4 && ts.getTime < v._5)
        assert(want.length == 1)
        assert(got(eid) == ((want.head._2, want.head._3)), s"event $eid")
      }
    } finally { q.stop(); scd2.unpersist() }
  }

  test("dauStream: closed days equal batch DAU across micro-batch splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    def ev(day: Int, hour: Int, user: Long) =
      (new java.sql.Timestamp(base + day * 86400000L + hour * 3600000L), user)
    // day 0: users 1,2,3 (user 1 twice); day 1: users 2,4; day 2 closes the watermark
    val b1 = Seq(ev(0, 1, 1L), ev(0, 2, 2L), ev(0, 3, 1L))
    val b2 = Seq(ev(0, 4, 3L), ev(1, 1, 2L), ev(1, 2, 4L))
    val b3 = Seq(ev(3, 1, 9L)) // advances watermark past days 0 and 1
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val df = mem.toDF().toDF("ts", "user_id")
    val q = StreamingOps.dauStream(df).writeStream
      .format("memory").queryName("dau_test").outputMode("append").start()
    try {
      mem.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
      mem.addData(b3.toIndexedSeq: _*); q.processAllAvailable()
      val got = spark.sql("select day, dau from dau_test").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val d0 = base / 86400000L
      assert(got.get(d0).contains(3L), s"day0: $got")
      assert(got.get(d0 + 1).contains(2L), s"day1: $got")
    } finally q.stop()
  }

  test("gapFillStream: closed prefix == batch gap-fill rows across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingOps.EventRow]
    val q = StreamingOps.gapFillStream(spark, mem.toDS())
      .writeStream.format("memory").queryName("gapfill_test").outputMode("append").start()
    val day0 = 19800L
    def ev(id: Long, day: Long, typ: String, k: Int = 1) = StreamingOps.EventRow(
      id, new java.sql.Timestamp(day * 86400000L + 12 * 3600000L + k * 60000L),
      id % 3, typ, 1.0)
    try {
      // type A: days 0,1,4 (gap 2-3); type B: days 0,5 (gap 1-4) — split
      // so a gap's endpoints land in different micro-batches
      var id = 0L
      def add(es: Seq[StreamingOps.EventRow]): Unit = { mem.addData(es: _*); q.processAllAvailable() }
      add(Seq(ev({ id += 1; id }, day0, "A"), ev({ id += 1; id }, day0, "A", 2),
        ev({ id += 1; id }, day0 + 1, "A"), ev({ id += 1; id }, day0, "B")))
      add(Seq(ev({ id += 1; id }, day0 + 4, "A")))
      add(Seq(ev({ id += 1; id }, day0 + 5, "B"), ev({ id += 1; id }, day0 + 5, "B", 2)))
      // watermark driver: push far past day0+5 end so all interior days close
      add(Seq(ev({ id += 1; id }, day0 + 9, "A")))
      add(Seq(ev({ id += 1; id }, day0 + 10, "A")))
      val got = spark.sql("select event_type, day, n_events, is_gap, filled_n from gapfill_test")
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getBoolean(3), r.getLong(4)))).toMap
      // batch replay: interior spine with zeros + ffill, closed prefix only
      // (final watermark = last event ts - 1h => days through day0+8 closed)
      val expect = Map(
        ("A", day0) -> ((2L, false, 2L)), ("A", day0 + 1) -> ((1L, false, 1L)),
        ("A", day0 + 2) -> ((0L, true, 1L)), ("A", day0 + 3) -> ((0L, true, 1L)),
        ("A", day0 + 4) -> ((1L, false, 1L)),
        ("A", day0 + 5) -> ((0L, true, 1L)), ("A", day0 + 6) -> ((0L, true, 1L)),
        ("A", day0 + 7) -> ((0L, true, 1L)), ("A", day0 + 8) -> ((0L, true, 1L)),
        // the final no-data micro-batch (watermark = day0+10 11:11) closes
        // the observed day0+9; day0+10 stays open past the last watermark
        ("A", day0 + 9) -> ((1L, false, 1L)),
        ("B", day0) -> ((1L, false, 1L)),
        ("B", day0 + 1) -> ((0L, true, 1L)), ("B", day0 + 2) -> ((0L, true, 1L)),
        ("B", day0 + 3) -> ((0L, true, 1L)), ("B", day0 + 4) -> ((0L, true, 1L)),
        ("B", day0 + 5) -> ((2L, false, 2L)))
      assert(got == expect, s"got ${got.toSeq.sortBy(_._1)}")
      // every emitted row must match what batch c33 computes on the same
      // rows: zero days carry the last observed count, observed days their own
      got.foreach { case ((_, _), (n, gap, filled)) =>
        assert(if (gap) n == 0L else filled == n)
      }
    } finally q.stop()
  }

  test("diurnalityStream: final closed-prefix row == batch c51 across micro-batch splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val day0 = 19800L
    var id = 0L
    def ev(day: Long, hod: Int, typ: String, k: Int) = { id += 1; StreamingOps.EventRow(
      id, new java.sql.Timestamp(day * 86400000L + hod * 3600000L + k * 60000L),
      id % 3, typ, 1.0) }
    def hour(day: Long, hod: Int, typ: String, n: Int) = (1 to n).map(ev(day, hod, typ, _))
    // "rush": 9am-heavy with noise hours; "mix": spread; gap day 2 for rush
    def dayRows(d: Long) =
      hour(day0 + d, 9, "rush", 6) ++ (if (d % 2 == 0) hour(day0 + d, 15, "rush", 1) else Seq()) ++
        (0 until 8).flatMap(h => hour(day0 + d, h * 3, "mix", 1 + ((d + h) % 3).toInt))
    val batches = Seq(
      dayRows(0) ++ dayRows(1),
      dayRows(3), // day 2 is a gap for both types
      dayRows(4) ++ dayRows(5),
      hour(day0 + 9, 0, "rush", 1), // watermark driver: closes through day 8
      hour(day0 + 10, 0, "rush", 1))
    def run(name: String, groups: Seq[Seq[StreamingOps.EventRow]]) = {
      val mem = MemoryStream[StreamingOps.EventRow]
      val q = StreamingOps.diurnalityStream(spark, mem.toDS())
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        groups.foreach { g => if (g.nonEmpty) mem.addData(g: _*); q.processAllAvailable() }
        spark.sql(s"select * from $name").collect()
          .map(r => (r.getString(0), r.getLong(1)) ->
            ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
      } finally q.stop()
    }
    val fed = batches.flatten
    val got = run("diurnal_a", batches)
    // different split boundaries, same rows — prefix splits of the
    // ts-SORTED feed, so no row can land behind the 1h watermark
    val sorted = fed.sortBy(_.ts.getTime)
    val got2 = run("diurnal_b", Seq(sorted.take(7), sorted.slice(7, 30), sorted.drop(30)))
    assert(got == got2, "split invariance")
    val finalRows = got.groupBy(_._1._1).map { case (t, m) =>
      t -> ((m.keySet.map(_._2).max, m.maxBy(_._1._2)._2))
    }
    // mix's data ENDS exactly at its last closed day, so its final row
    // equals the REAL batch c51 over its rows verbatim
    val mixBatch = graft.operators.Events.c51DiurnalityOf(
        fed.filter(_.event_type == "mix").toDF())
      .collect().map(r => ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).head
    assert(finalRows("mix")._2 == mixBatch, s"mix ${finalRows("mix")} vs $mixBatch")
    // rush's closed prefix ends in TRAILING interior gap days (days 6-8
    // are zeros only because the day-9 driver proves them interior — a
    // truncated batch cannot know that); replay the formula with the
    // stream's span instead
    val (rushLast, rushRow) = finalRows("rush")
    val cellsR = fed.filter(e => e.event_type == "rush" &&
        Math.floorDiv(e.ts.getTime, 86400000L) <= rushLast)
      .groupBy(e => (Math.floorDiv(e.ts.getTime, 86400000L),
        Math.floorDiv(e.ts.getTime, 3600000L) % 24))
      .view.mapValues(_.size.toLong).toMap
    val dR = rushLast - cellsR.keys.map(_._1).min + 1
    val byH = cellsR.toSeq.groupBy(_._1._2).view.mapValues(_.map(_._2).sum).toMap
    val sR = BigInt(byH.values.sum)
    val ssqR = cellsR.values.map(c => BigInt(c) * BigInt(c)).sum
    val sh2R = byH.values.map(v => BigInt(v) * BigInt(v)).sum
    val etaR = (1000 * (576 * sh2R - 24 * sR * sR)) /
      (24 * (24 * BigInt(dR) * ssqR - sR * sR))
    assert(rushRow == ((dR, sR.toLong, byH.size.toLong, etaR.toLong)),
      s"rush $rushRow vs (${dR}, $sR, ${byH.size}, $etaR)")
    // the gap day is a real day: n_days advances across day 2
    assert(got.contains(("mix", day0 + 3)) &&
      got(("mix", day0 + 3))._1 == 4L, s"${got.get(("mix", day0 + 3))}")
  }

  test("ewmaStream: closed prefix == the real batch c41 across micro-batch splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingOps.EventRow]
    val q = StreamingOps.ewmaStream(spark, mem.toDS())
      .writeStream.format("memory").queryName("ewma_test").outputMode("append").start()
    val day0 = 19800L
    var id = 0L
    def ev(day: Long, typ: String, k: Int = 1) = { id += 1; StreamingOps.EventRow(
      id, new java.sql.Timestamp(day * 86400000L + 12 * 3600000L + k * 60000L),
      id % 3, typ, 1.0) }
    def evs(day: Long, typ: String, n: Int) = (1 to n).map(k => ev(day, typ, k))
    // A: burn-in days 0-7 with a gap at day 4, a judged quiet day 8, a
    // 30x spike day 9, gaps 10, a recovery day 11; B: a shorter steady
    // series proving per-type burn-in. Split so the lag window and the
    // spike cross micro-batch boundaries.
    val fed = Seq.newBuilder[StreamingOps.EventRow]
    def add(es: Seq[StreamingOps.EventRow]): Unit = {
      fed ++= es; mem.addData(es: _*); q.processAllAvailable()
    }
    try {
      // feed in day order: a day behind the global watermark is LATE and
      // drops (the documented batch/stream delta, not what this spec tests)
      add(evs(day0, "A", 1) ++ evs(day0, "B", 1) ++ evs(day0 + 1, "A", 2) ++
        evs(day0 + 1, "B", 1) ++ evs(day0 + 2, "A", 1) ++ evs(day0 + 2, "B", 1))
      add(evs(day0 + 3, "A", 1) ++ evs(day0 + 3, "B", 1) ++ evs(day0 + 4, "B", 1))
      add(evs(day0 + 5, "A", 1) ++ evs(day0 + 5, "B", 1) ++
        evs(day0 + 6, "A", 1) ++ evs(day0 + 6, "B", 1))
      add(evs(day0 + 7, "A", 2) ++ evs(day0 + 7, "B", 1) ++
        evs(day0 + 8, "A", 1) ++ evs(day0 + 8, "B", 1))
      add(evs(day0 + 9, "A", 30) ++ evs(day0 + 9, "B", 1))
      add(evs(day0 + 11, "A", 2))
      // watermark drivers: first advances wm past day 10, second past day 15
      add(evs(day0 + 15, "A", 1))
      add(evs(day0 + 16, "A", 1))
      val got = spark.sql(
          "select event_type, day, n_events, baseline_milli, spike from ewma_test")
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
      // the REAL batch operator over every fed row, restricted to the
      // closed prefix (final watermark passed day 15's end; day 16 open)
      val expect = graft.operators.Events.c41EwmaControlOf(fed.result().toDF())
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getBoolean(4))))
        .filter(_._1._2 <= day0 + 15).toMap
      assert(got == expect,
        s"ewma ${got.toSeq.diff(expect.toSeq)} / ${expect.toSeq.diff(got.toSeq)}")
      assert(got(("A", day0 + 9))._3, "the 30x day must flag")
      assert(got.count(_._2._3) == 1, "only the planted spike flags")
    } finally q.stop()
  }

  test("mannKendallStream: every closed day == the real batch c53 on that prefix; verdicts turn") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingOps.EventRow]
    val q = StreamingOps.mannKendallStream(spark, mem.toDS())
      .writeStream.format("memory").queryName("mk_test").outputMode("append").start()
    val day0 = 19900L
    var id = 0L
    def evs(day: Long, typ: String, n: Int) = (1 to n).map { k =>
      id += 1
      StreamingOps.EventRow(id,
        new java.sql.Timestamp(day * 86400000L + 12 * 3600000L + k * 60000L),
        id % 3, typ, 1.0)
    }
    val fed = Seq.newBuilder[StreamingOps.EventRow]
    def add(es: Seq[StreamingOps.EventRow]): Unit = {
      fed ++= es; mem.addData(es: _*); q.processAllAvailable()
    }
    try {
      // G grows 1..12 (the verdict must flip no_trend -> trend_up as
      // evidence accumulates); F is flat 3s (all-tie degenerate); Z
      // zigzags around an interior gap day that closes as a real zero.
      // Splits land mid-series so S accumulates across micro-batches;
      // every type advances in event-time lockstep (rows behind the
      // global watermark would be DROPPED as late — that is the
      // operator's contract, not a spec harness freedom)
      add((0 to 3).flatMap(i => evs(day0 + i, "G", 1 + i)) ++
        (0 to 3).flatMap(i => evs(day0 + i, "F", 3)) ++
        evs(day0, "Z", 2) ++ evs(day0 + 1, "Z", 1) ++ evs(day0 + 3, "Z", 2))
      add((4 to 8).flatMap(i => evs(day0 + i, "G", 1 + i)) ++
        evs(day0 + 4, "F", 3) ++ evs(day0 + 4, "Z", 1))
      add((9 to 12).flatMap(i => evs(day0 + i, "G", 1 + i)))
      // watermark driver on its OWN type (W never closes, emits
      // nothing): G/F/Z close exactly their observed spines — appending
      // a G driver would rightly extend G's spine with trailing zeros
      add(evs(day0 + 14, "W", 1))
      val got = spark.sql(
          "select event_type, day_idx, n_days, s_stat, var18, verdict from mk_test")
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5)))).toMap
      // every type's LAST closed row equals the real batch operator on
      // the same prefix (the fed rows minus the open watermark driver)
      val allFed = fed.result()
      for (typ <- Seq("G", "F", "Z")) {
        val prefix = allFed.filter(e =>
          e.event_type == typ && e.ts.getTime < (day0 + 13) * 86400000L)
        val batch = graft.operators.Events.c53MannKendallOf(prefix.toDF())
          .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
          .head
        val lastDay = got.keys.filter(_._1 == typ).map(_._2).max
        assert(got((typ, lastDay)) == batch, s"$typ: ${got((typ, lastDay))} vs $batch")
      }
      // interior prefix: G at day0+8 equals batch over days 0..8 only —
      // the incremental S identity, not just the final state
      val gPrefix = allFed.filter(e =>
        e.event_type == "G" && e.ts.getTime < (day0 + 9) * 86400000L)
      val gBatch = graft.operators.Events.c53MannKendallOf(gPrefix.toDF())
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
        .head
      assert(got(("G", day0 + 8)) == gBatch, s"${got(("G", day0 + 8))} vs $gBatch")
      // the story the operator exists for: early uncertainty, later verdict
      assert(got(("G", day0 + 3))._4 == "no_trend")
      assert(got(("G", day0 + 12))._4 == "trend_up")
      assert(got(("F", day0 + 4))._4 == "degenerate")
      assert(got(("Z", day0 + 4))._4 == "no_trend")
      // the interior gap day closed as a real zero on Z's spine
      assert(got.contains(("Z", day0 + 2)) && got(("Z", day0 + 2))._1 == 3L)
      assert(!got.keys.exists(_._1 == "W"), "the driver type never closes a day")
    } finally q.stop()
  }

  test("drawdownStream: per-day peaks/depths replay; worst rows track the real batch c55") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingOps.EventRow]
    val q = StreamingOps.drawdownStream(spark, mem.toDS())
      .writeStream.format("memory").queryName("dd_test").outputMode("append").start()
    val day0 = 19900L
    var id = 0L
    def evs(day: Long, typ: String, n: Int) = (1 to n).map { k =>
      id += 1
      StreamingOps.EventRow(id,
        new java.sql.Timestamp(day * 86400000L + 12 * 3600000L + k * 60000L),
        id % 3, typ, 1.0)
    }
    val fed = Seq.newBuilder[StreamingOps.EventRow]
    def add(es: Seq[StreamingOps.EventRow]): Unit = {
      fed ++= es; mem.addData(es: _*); q.processAllAvailable()
    }
    try {
      // V: [5,3,7,2,6] (worst dd 5 at day 3); O: [4,<gap>,5] (gap day
      // closes as the 10000 bp outage); splits land mid-series
      add(evs(day0, "V", 5) ++ evs(day0, "O", 4) ++ evs(day0 + 1, "V", 3))
      add(evs(day0 + 2, "V", 7) ++ evs(day0 + 2, "O", 5))
      add(evs(day0 + 3, "V", 2) ++ evs(day0 + 4, "V", 6))
      add(evs(day0 + 6, "W", 1)) // watermark driver on its own type
      val got = spark.sql(
          "select event_type, day_idx, n_events, peak_n, drawdown, drawdown_bp, is_worst" +
            " from dd_test")
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6)))).toMap
      assert(got(("V", day0 + 2)) == ((7L, 7L, 0L, 0L, false)))
      assert(got(("V", day0 + 3)) == ((2L, 7L, 5L, 7142L, true)))
      assert(got(("V", day0 + 4)) == ((6L, 7L, 1L, 1428L, false)))
      assert(got(("O", day0 + 1)) == ((0L, 4L, 4L, 10000L, true)),
        got(("O", day0 + 1)).toString)
      // the last is_worst row per type IS the batch c55 row (trough
      // day, peak at that moment, depth, bp) on the same prefix
      val batch = graft.operators.Events.c55DrawdownOf(
        fed.result().filter(_.event_type != "W").toDF())
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
      for (typ <- Seq("V", "O")) {
        val worstDay = got.keys.filter(k => k._1 == typ && got(k)._5).map(_._2).max
        val w = got((typ, worstDay))
        assert(batch(typ) == ((worstDay, w._2, w._1, w._3, w._4)),
          s"$typ: ${batch(typ)} vs stream worst $w at $worstDay")
      }
    } finally q.stop()
  }

  test("turnoverStream: closed days equal batch c59 across micro-batch splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingOps.EventRow]
    val q = StreamingOps.turnoverStream(spark, mem.toDS())
      .writeStream.format("memory").queryName("to_test").outputMode("append").start()
    val day0 = 19900L
    var id = 0L
    def ev(day: Long, users: Seq[Long]) = users.map { u =>
      id += 1
      StreamingOps.EventRow(id,
        new java.sql.Timestamp(day * 86400000L + 7200000L + id * 1000L), u, "X", 1.0)
    }
    val fed = Seq.newBuilder[StreamingOps.EventRow]
    def add(es: Seq[StreamingOps.EventRow]): Unit = {
      fed ++= es; mem.addData(es: _*); q.processAllAvailable()
    }
    try {
      // day0 {1,2,3} -> day1 {2,3,4,5} (retained 2), dark day2,
      // day3 {9} (null prev); splits land mid-day
      add(ev(day0, Seq(1L, 2L)))
      add(ev(day0, Seq(3L)) ++ ev(day0 + 1, Seq(2L, 3L)))
      add(ev(day0 + 1, Seq(4L, 5L)) ++ ev(day0 + 3, Seq(9L)))
      add(ev(day0 + 9, Seq(99L))) // watermark driver
      val got = spark.sql(
          "select day, dau, prev_dau, common, retained_bp, new_users, churned_users" +
            " from to_test")
        .collect().map(r => r.getLong(0) -> r).toMap
      assert(got(day0 + 1).getLong(1) == 4L && got(day0 + 1).getLong(2) == 3L)
      assert(got(day0 + 1).getLong(3) == 2L && got(day0 + 1).getLong(4) == 6666L)
      assert(got(day0 + 1).getLong(5) == 2L && got(day0 + 1).getLong(6) == 1L)
      assert(got(day0).isNullAt(2) && got(day0 + 3).isNullAt(2))
      // every closed row equals the real batch operator on the same data
      val batch = graft.operators.Events.c59UserTurnoverOf(
        fed.result().filter(_.user_id != 99L).toDF())
        .collect().map(r => r.getLong(0) -> r).toMap
      got.foreach { case (d, s) =>
        val b = batch(d)
        assert(b.getLong(1) == s.getLong(1))
        assert(b.isNullAt(2) == s.isNullAt(2), s"day $d null mismatch")
        if (!b.isNullAt(2))
          (2 to 6).foreach(i => assert(b.getLong(i) == s.getLong(i), s"day $d col $i"))
      }
    } finally q.stop()
  }

  test("peakStream: closed days equal batch c61 across micro-batch splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingOps.EventRow]
    val q = StreamingOps.peakStream(spark, mem.toDS())
      .writeStream.format("memory").queryName("peak_test").outputMode("append").start()
    val day0 = 20100L
    var id = 0L
    def ev(day: Long, n: Int): Seq[StreamingOps.EventRow] = (0 until n).map { _ =>
      id += 1
      StreamingOps.EventRow(id,
        new java.sql.Timestamp(day * 86400000L + 3600000L + id * 1000L), id, "X", 1.0)
    }
    val fed = Seq.newBuilder[StreamingOps.EventRow]
    def add(es: Seq[StreamingOps.EventRow]): Unit = {
      fed ++= es; mem.addData(es: _*); q.processAllAvailable()
    }
    try {
      // counts 5,5,5,5,5,5,5,6,5,9,5 (c61's planted shape: day7 is a
      // budget-rejected local max, day9 the real peak), split mid-day;
      // the driver event is the SAME type 30 days out, so the batch
      // grid ends there and its zero-filled tail matches the stream's
      val counts = Seq(5, 5, 5, 5, 5, 5, 5, 6, 5, 9, 5)
      counts.zipWithIndex.foreach { case (c, i) =>
        if (c > 2) { add(ev(day0 + i, 2)); add(ev(day0 + i, c - 2)) }
        else add(ev(day0 + i, c))
      }
      add(ev(day0 + 30, 1)) // watermark driver, same type
      val got = spark.sql(
          "select event_type, day, n_events, prev_cnt, next_cnt, trailing7 from peak_test")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSeq.sortBy(_._2)
      assert(got == Seq(("X", day0 + 9, 9L, 5L, 5L, 40L)), got.mkString(", "))
      // the batch twin on the full fed data agrees on every emitted day
      val batch = graft.operators.Events.c61PeakDetectOf(fed.result().toDF())
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
        .filter(_._2 <= day0 + 28) // stream can only judge watermark-closed days
      assert(batch == got, s"batch $batch vs stream $got")
    } finally q.stop()
  }

  test("weightedSampleStream: the K-row reservoir ends exactly at batch d111") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextOps
    val mem = MemoryStream[StreamingOps.SampleDoc]
    val lastBatch = scala.collection.mutable.Map.empty[String, Seq[(Long, Long, Long, Long)]]
    val q = StreamingOps.weightedSampleStream(spark, mem.toDS())
      .writeStream.outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[StreamingOps.SampleOut],
                       _: Long) =>
        batch.collect().groupBy(_.source).foreach { case (src, rows) =>
          lastBatch(src) = rows.map(r => (r.rank, r.doc_id, r.weight, r.priority))
            .sortBy(_._1).toSeq
        }
      }.start()
    // 30 docs across 2 sources, scrambled arrival over 3 batches
    val docs = (1L to 30L).map(i => StreamingOps.SampleDoc(i, s"s${i % 2}", 10 + (i % 7)))
    val scrambled = docs.sortBy(d => Math.floorMod(d.doc_id * 37L, 30L))
    try {
      scrambled.grouped(10).foreach { g => mem.addData(g: _*); q.processAllAvailable() }
      // every source re-emits in SOME batch; the reservoir's final
      // content must equal the batch sampler on the same corpus
      val batchDf = docs.map(d => (d.doc_id, d.source, "a" * d.weight.toInt))
        .toDF("doc_id", "source", "text")
      val expect = TextOps.d111WeightedSampleOf(batchDf).collect()
        .map(r => (r.getString(0), (r.getInt(1).toLong, r.getLong(2), r.getLong(3),
          r.getLong(4)))).groupBy(_._1).map { case (s, rs) => s -> rs.map(_._2).toSeq }
      assert(lastBatch.keySet == expect.keySet)
      expect.foreach { case (src, rows) =>
        assert(lastBatch(src) == rows, s"$src: ${lastBatch(src)} vs $rows")
      }
    } finally q.stop()
  }

  test("stickinessStream: closed weeks equal batch c56 across micro-batch splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingOps.EventRow]
    val q = StreamingOps.stickinessStream(spark, mem.toDS())
      .writeStream.format("memory").queryName("stick_test").outputMode("append").start()
    val day0 = 19901L // first day of week 2843
    var id = 0L
    def ev(day: Long, user: Long) = {
      id += 1
      StreamingOps.EventRow(id,
        new java.sql.Timestamp(day * 86400000L + 3600000L + id * 1000L), user, "X", 1.0)
    }
    val fed = Seq.newBuilder[StreamingOps.EventRow]
    def add(es: Seq[StreamingOps.EventRow]): Unit = {
      fed ++= es; mem.addData(es: _*); q.processAllAvailable()
    }
    try {
      // week 2843: day0 users {1 (twice), 2}, day0+1 users {2,3}
      //   -> dau 2+2, wau 3, 5 events, 6666 bp; split lands mid-week
      // week 2844: one day, one user -> 10000 bp
      add(Seq(ev(day0, 1L), ev(day0, 1L), ev(day0, 2L)))
      add(Seq(ev(day0 + 1, 2L), ev(day0 + 1, 3L)))
      add(Seq(ev(day0 + 7, 5L)))
      add(Seq(ev(day0 + 19, 9L))) // watermark driver closes both weeks
      val got = spark.sql(
          "select week, n_days, n_events, wau, dau_sum, stickiness_bp from stick_test")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
      assert(got(2843L) == ((2L, 5L, 3L, 4L, 6666L)), got.toString)
      assert(got(2844L) == ((1L, 1L, 1L, 1L, 10000L)), got.toString)
      // every emitted week row equals the real batch c56 on the same data
      val batch = graft.operators.Events.c56WeeklyStickinessOf(fed.result().toDF())
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3),
          r.getLong(2), r.getLong(4), r.getLong(5)))).toMap
      got.foreach { case (wk, (nd, ne, wau, ds, bp)) =>
        assert(batch(wk) == ((nd, wau, ne, ds, bp)), s"week $wk: ${batch(wk)}")
      }
    } finally q.stop()
  }

  test("cusumStream: closed prefix == the real batch c44 across micro-batch splits; shift alarms") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingOps.EventRow]
    val q = StreamingOps.cusumStream(spark, mem.toDS())
      .writeStream.format("memory").queryName("cusum_test").outputMode("append").start()
    val day0 = 19900L
    var id = 0L
    def evs(day: Long, typ: String, n: Int) = (1 to n).map { k =>
      id += 1
      StreamingOps.EventRow(id,
        new java.sql.Timestamp(day * 86400000L + 12 * 3600000L + k * 60000L),
        id % 3, typ, 1.0)
    }
    val fed = Seq.newBuilder[StreamingOps.EventRow]
    def add(es: Seq[StreamingOps.EventRow]): Unit = {
      fed ++= es; mem.addData(es: _*); q.processAllAvailable()
    }
    try {
      // A: 3/day baseline with a burn-in gap at day 2 (a real zero that
      // lowers the target), quiet judged days 7-8, then a sustained +4
      // shift from day 9 — small enough that no single day spikes, the
      // exact case CUSUM exists for; B: 6 days only (burn-in, no rows).
      // Splits put the baseline/judged boundary and the accumulating
      // shift across micro-batch boundaries.
      add(evs(day0, "A", 3) ++ evs(day0, "B", 2) ++ evs(day0 + 1, "A", 3) ++
        evs(day0 + 1, "B", 2))
      add(evs(day0 + 3, "A", 3) ++ evs(day0 + 3, "B", 2) ++ evs(day0 + 4, "A", 3))
      add(evs(day0 + 5, "A", 3) ++ evs(day0 + 5, "B", 2) ++ evs(day0 + 6, "A", 3))
      add(evs(day0 + 7, "A", 3) ++ evs(day0 + 8, "A", 3))
      add(evs(day0 + 9, "A", 7) ++ evs(day0 + 10, "A", 7))
      add(evs(day0 + 11, "A", 7) ++ evs(day0 + 12, "A", 7))
      add(evs(day0 + 13, "A", 7) ++ evs(day0 + 15, "A", 3))
      // watermark driver: closes days through day0+15; day0+16 stays open
      add(evs(day0 + 16, "A", 1))
      val got = spark.sql(
          "select event_type, day_idx, cnt, target, slack, s_cusum, alarm from cusum_test")
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6)))).toMap
      val expect = graft.operators.Events.c44CusumShiftOf(fed.result().toDF())
        .collect().map(r => (r.getString(0), r.getAs[Number](1).longValue()) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6))))
        .filter(_._1._2 <= day0 + 15).toMap
      assert(got == expect,
        s"cusum ${got.toSeq.diff(expect.toSeq)} / ${expect.toSeq.diff(got.toSeq)}")
      // the planted shift must alarm once S crosses h, and not before:
      // target 18/7=2, slack 1, y(7)=+4 => S after days 9,10,11 = 4,8,12
      assert(!got(("A", day0 + 9))._5 && !got(("A", day0 + 10))._5)
      assert(got(("A", day0 + 11))._5, "the accumulated shift must alarm")
      assert(got.keys.forall(_._1 == "A"), "B is burn-in only")
    } finally q.stop()
  }

  test("sloBurnStream: closed hours == the real batch c43 across micro-batch splits; storm pages") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingOps.EventRow]
    val q = StreamingOps.sloBurnStream(spark, mem.toDS())
      .writeStream.format("memory").queryName("slo_test").outputMode("append").start()
    val hr0 = 480000L
    var id = 0L
    def evs(off: Long, n: Int, errs: Int) = (1 to n).map { k =>
      id += 1
      StreamingOps.EventRow(id,
        new java.sql.Timestamp((hr0 + off) * 3600000L + k * 60000L),
        id % 5, if (k <= errs) "error" else "view", 1.0)
    }
    val fed = Seq.newBuilder[StreamingOps.EventRow]
    def add(es: Seq[StreamingOps.EventRow]): Unit = {
      fed ++= es; mem.addData(es: _*); q.processAllAvailable()
    }
    try {
      // steady 5% error baseline, a 2-hour observation gap (hours 5-6,
      // interior zeros on the batch spine), then a 3-hour 80% error
      // storm split across micro-batches, then recovery
      add(evs(0, 20, 1) ++ evs(1, 20, 1) ++ evs(2, 20, 1))
      add(evs(3, 20, 1) ++ evs(4, 20, 1))
      add(evs(7, 20, 1) ++ evs(8, 30, 24))
      add(evs(9, 30, 24))
      add(evs(10, 30, 24) ++ evs(11, 20, 1))
      add(evs(12, 20, 1))
      // watermark drivers: the trailing empty batch after the second
      // closes hours through hr0+14 (the ewmaStream precedent)
      add(evs(15, 1, 0))
      add(evs(16, 1, 0))
      val got = spark.sql("select * from slo_test").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getBoolean(6)))).toMap
      // the REAL batch operator over every fed row, closed prefix only
      val expect = graft.operators.Events.c43SloBurnOf(fed.result().toDF())
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6))))
        .filter(_._1 <= hr0 + 14).toMap
      assert(got == expect,
        s"slo ${got.toSeq.diff(expect.toSeq)} / ${expect.toSeq.diff(got.toSeq)}")
      // flag-for-flag: both engines page the storm's tail, where fast
      // (>50% hourly) AND slow (6h window) burn exceed budget
      assert(got(hr0 + 10)._6, "the storm's third hour must page")
      assert(got.filter(_._2._6).keys.toSet == Set(hr0 + 9, hr0 + 10),
        "exactly the storm tail pages")
      // gap hours are real zeros in the slow window, same as the spine
      assert(got(hr0 + 5)._1 == 0L && got(hr0 + 6)._1 == 0L)
    } finally q.stop()
  }

  test("silenceStream: one silent alert per outage, resumed with measured downtime") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingOps.EventRow]
    val q = StreamingOps.silenceStream(spark, mem.toDS(), silenceMs = 3600000L)
      .writeStream.format("memory").queryName("silence_test").outputMode("append").start()
    val base = java.sql.Timestamp.valueOf("2024-04-01 00:00:00").getTime
    def ev(id: Long, minute: Long, typ: String) = StreamingOps.EventRow(
      id, new java.sql.Timestamp(base + minute * 60000L), id % 5, typ, 1.0)
    try {
      // hb beats every 10 min through minute 60; other keeps the watermark moving
      mem.addData(((0 to 60 by 10).zipWithIndex.map { case (m, i) => ev(i + 1, m, "hb") } ++
        (0 to 90 by 30).map(m => ev(100 + m, m, "other"))): _*)
      q.processAllAvailable()
      // hb goes dark; other advances the watermark past hb's last+1h
      mem.addData((120 to 300 by 30).map(m => ev(100 + m, m, "other")): _*)
      q.processAllAvailable()
      mem.addData(ev(430, 330, "other")); q.processAllAvailable()
      // hb resumes at minute 360 -> resumed with the measured 5h downtime
      mem.addData(ev(8, 360, "hb")); q.processAllAvailable()
      mem.addData(ev(520, 420, "other")); q.processAllAvailable()
      val got = spark.sql(
          "select event_type, kind, last_seen, n_events, downtime_ms from silence_test")
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getTimestamp(2).getTime,
          r.getLong(3), r.getLong(4))).toSet
      val lastSeen = base + 60 * 60000L
      assert(got == Set(
        ("hb", "silent", lastSeen, 7L, 3600000L),
        ("hb", "resumed", lastSeen, 7L, base + 360 * 60000L - lastSeen)), s"got $got")
    } finally q.stop()
  }

  test("graft SQL write path: INSERT through the commit protocol; CHECK rejects whole; concurrent insert loses") {
    val fmt = graft.sources.CommitLogTableFormat
    val wh = Files.createTempDirectory("graft_sqlw").toString
    spark.conf.set("spark.sql.catalog.wcat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.wcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS wcat.db")
    spark.sql(
      """CREATE TABLE wcat.db.t (k BIGINT, v STRING) USING graft
        |TBLPROPERTIES ('check.k_pos' = 'k > 0')""".stripMargin)
    val root = s"$wh/db/t"
    // INSERT INTO appends one version per statement (appendChecked)
    spark.sql("INSERT INTO wcat.db.t VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO wcat.db.t SELECT id + 10, concat('x', id) FROM range(3)")
    assert(spark.sql("SELECT count(*) AS c FROM wcat.db.t").head().getLong(0) == 5L)
    assert(fmt.currentSnapshot(spark, root).get.version == 2L)
    assert(spark.sql("SELECT count(*) AS c FROM wcat.db.t VERSION AS OF 1")
      .head().getLong(0) == 2L)
    // a violating INSERT rejects WHOLE — no rows, no version, no stage
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    val err = intercept[Exception] {
      spark.sql("INSERT INTO wcat.db.t VALUES (5, 'ok'), (-1, 'bad')")
    }
    assert(chain(err).exists(_.isInstanceOf[graft.sources.ConstraintViolationException]),
      s"expected ConstraintViolationException in ${chain(err).map(_.getClass.getName)}")
    assert(fmt.currentSnapshot(spark, root).get.version == 2L)
    assert(spark.sql("SELECT count(*) AS c FROM wcat.db.t").head().getLong(0) == 5L)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = fs.globStatus(new org.apache.hadoop.fs.Path(root, "data-v3-*"))
    assert(staged == null || staged.isEmpty,
      "a rejected INSERT must sweep its staged dir")
    // INSERT OVERWRITE = full-replacement commit; history stays
    spark.sql("INSERT OVERWRITE wcat.db.t VALUES (7, 'z')")
    assert(spark.sql("SELECT k, v FROM wcat.db.t").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((7L, "z")))
    assert(spark.sql("SELECT count(*) AS c FROM wcat.db.t VERSION AS OF 2")
      .head().getLong(0) == 5L)
    // CONCURRENT insert loses cleanly: an interloper publishes the next
    // log entry while the insert is staging (fired from inside the
    // insert's own projection — deterministically inside the OCC
    // window between recoverLatest and publish)
    SqlWriteRace.reset(root)
    spark.udf.register("sqlw_interfere", (k: Long) => { SqlWriteRace.interfere(); k })
    val race = intercept[Exception] {
      spark.sql("INSERT INTO wcat.db.t SELECT sqlw_interfere(id + 100), 'c' FROM range(2)")
    }
    assert(chain(race).exists(_.isInstanceOf[graft.sources.ConcurrentCommitException]),
      s"expected ConcurrentCommitException in ${chain(race).map(_.getClass.getName)}")
    // the interloper's version stands; the loser left no stage behind
    assert(fmt.currentSnapshot(spark, root).get.version == 4L)
    val staged4 = fs.globStatus(new org.apache.hadoop.fs.Path(root, "data-v4-sql-*"))
    assert(staged4 == null || staged4.isEmpty,
      "a lost-race INSERT must sweep its staged dir")
    assert(spark.sql("SELECT count(*) AS c FROM wcat.db.t").head().getLong(0) == 1L)
    // a clean retry (new query, new latest) lands
    spark.sql("INSERT INTO wcat.db.t VALUES (9, 'r')")
    assert(spark.sql("SELECT count(*) AS c FROM wcat.db.t").head().getLong(0) == 2L)
    // path-addressed writes ride the same builder
    spark.range(2).selectExpr("id + 20 AS k", "'p' AS v")
      .write.format("graft").mode("append").save(root)
    assert(spark.sql("SELECT count(*) AS c FROM wcat.db.t").head().getLong(0) == 4L)
    // read-only surfaces refuse: time travel and the change feed
    val tt = intercept[Exception] {
      spark.range(1).selectExpr("id AS k", "'t' AS v").write.format("graft")
        .option("versionAsOf", "1").mode("append").save(root)
    }
    assert(chain(tt).exists(_.getMessage != null), tt.toString)
  }
}

/** Deterministic OCC-race helper for the SQL write spec: fired from a
  * registered UDF inside the INSERT's own projection, so the
  * interloping log entry lands strictly between the insert's
  * recoverLatest and its publish. */
object SqlWriteRace {
  private val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
  @volatile private var root: String = _
  def reset(tableRoot: String): Unit = { root = tableRoot; fired.set(false) }
  def interfere(): Unit = if (fired.compareAndSet(false, true)) {
    val conf = new org.apache.hadoop.conf.Configuration()
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(conf)
    val log = new org.apache.hadoop.fs.Path(rootPath, "_log")
    val latest = fs.listStatus(log).map(_.getPath.getName)
      .filter(_.forall(_.isDigit)).map(_.toLong).max
    val content = {
      val in = fs.open(new org.apache.hadoop.fs.Path(log, latest.toString))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    val out = fs.create(new org.apache.hadoop.fs.Path(log, (latest + 1L).toString), false)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }
}
