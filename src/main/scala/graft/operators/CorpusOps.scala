package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-construction operators for a training-data pipeline
  * (SURVEY.md §2.D): span-level dedup, sequence packing, and dup-group
  * clustering — the steps between "filtered documents" and "training
  * shards".
  */
object CorpusOps {
  import graft.Cols.countIf

  /** Non-overlapping word chunks of this size drive d23. */
  val ChunkWords = 10

  /** Sequence length budget (tokens) for d24 packing. */
  val SeqLen = 512L

  /** Fixed-size non-overlapping token chunks per document, 1-based
    * slices; the last chunk may be partial. Row-local, codegen'd. */
  private[graft] def chunksOf(t: Column, w: Int): Column =
    when(size(t) > 0,
      transform(sequence(lit(0), floor((size(t) + lit(w - 1)) / lit(w)).cast("int") - 1),
        i => concat_ws(" ", slice(t, i * w + 1, lit(w)))))
      .otherwise(array().cast("array<string>"))

  /** d23: chunk-level duplication profile (boilerplate detection). Each
    * document is cut into non-overlapping 10-word chunks; a chunk
    * occurrence is "duplicated" when its exact text occurs anywhere
    * else in the corpus (including again in the same document). Output
    * is the per-document occurrence counts + dup ratio + keep flag —
    * the span-level complement to d5/d6/d7's whole-document dedup.
    *
    * Shape: ONE corpus scan explodes chunks; multiplicity is a count
    * over an unordered window partitioned by the chunk string — the
    * same single chunk-keyed exchange the groupBy(chunk)+join-back
    * form needs TWICE (it also re-scans the corpus for the probe
    * side); then one doc_id exchange for the per-doc aggregate. The
    * chunk dictionary is corpus-sized at 100 TB — a shuffle either
    * way, never broadcast-assumed. */
  def d23ChunkDedup(spark: SparkSession, dir: String): DataFrame = {
    val occ = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(chunksOf(TextOps.tokens(col("text")), ChunkWords)).as("chunk"))
    val ratio = col("n_dup_chunks").cast("double") / col("n_chunks")
    occ.withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("chunk"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        count(when(col("cnt") > 1, lit(1))).as("n_dup_chunks"))
      .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
        ratio.as("dup_chunk_ratio"),
        (ratio <= 0.3).as("keep"))
      .orderBy(col("doc_id"))
  }

  val d23Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
       |occ AS (
       |  SELECT doc_id, unnest(list_transform(range(0, CAST((len(t) + ${ChunkWords - 1}) // $ChunkWords AS INT)),
       |    i -> array_to_string(t[i * $ChunkWords + 1 : i * $ChunkWords + $ChunkWords], ' '))) AS chunk
       |  FROM toks WHERE len(t) > 0),
       |counts AS (SELECT chunk, count(*) AS cnt FROM occ GROUP BY chunk),
       |per AS (
       |  SELECT doc_id, count(*) AS n_chunks,
       |    count(CASE WHEN cnt > 1 THEN 1 END) AS n_dup_chunks
       |  FROM occ JOIN counts USING (chunk) GROUP BY doc_id)
       |SELECT doc_id, n_chunks, n_dup_chunks,
       |  CAST(n_dup_chunks AS DOUBLE) / n_chunks AS dup_chunk_ratio,
       |  CAST(n_dup_chunks AS DOUBLE) / n_chunks <= 0.3 AS keep
       |FROM per ORDER BY doc_id""".stripMargin

  /** d24: sequence packing — the concat-and-chunk layout an LLM data
    * loader uses: documents are concatenated in (source, doc_id) order
    * and cut into fixed SeqLen-token training sequences; a document may
    * straddle sequences. Output per doc: its token offset and the
    * [first_seq, last_seq] range it lands in.
    *
    * Scale shape: the running offset is a window per SOURCE (each
    * source packs independently) — parallelism = #sources, never one
    * global ordered cumsum. At 100 TB each source further sub-shards
    * (e.g. by d22's deterministic shard key) before packing; the math
    * is unchanged because only in-shard offsets matter. All integer
    * arithmetic — bit-stable at any parallelism and in any engine. */
  /** Packing over any (doc_id, source, text) frame — the library-
    * composition form (a curated subset packs with the same math). */
  def packOf(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), col("source"), size(TextOps.tokens(col("text"))).as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("end_tok", sum(col("n_tokens").cast("long")).over(w))
      // `div` is TRUE integer division (long → long); floor(a / n) would
      // route through a double and only stay exact below 2^53 offsets
      .select(col("doc_id"), col("source"), col("n_tokens"),
        (col("end_tok") - col("n_tokens")).as("start_tok"),
        expr(s"(end_tok - n_tokens) div $SeqLen").as("first_seq"),
        expr(s"(end_tok - 1) div $SeqLen").as("last_seq"))
      .orderBy(col("doc_id"))
  }

  def d24SequencePack(spark: SparkSession, dir: String): DataFrame =
    packOf(Tables.documents(spark, dir))

  val d24Sql: String =
    s"""WITH sized AS (
       |  SELECT doc_id, source,
       |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INTEGER) AS n_tokens
       |  FROM documents),
       |packed AS (
       |  SELECT doc_id, source, n_tokens,
       |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS end_tok
       |  FROM sized WHERE n_tokens > 0)
       |SELECT doc_id, source, n_tokens,
       |  end_tok - n_tokens AS start_tok,
       |  (end_tok - n_tokens) // $SeqLen AS first_seq,
       |  (end_tok - 1) // $SeqLen AS last_seq
       |FROM packed ORDER BY doc_id""".stripMargin

  /** Connected components over an undirected edge list via min-label
    * propagation: every node starts as its own label; each round a node
    * takes the min of its own and its neighbors' labels; fixed point =
    * every node carries the min doc_id of its component. Convergence
    * needs diameter(component) rounds — near-dup groups are dense
    * (diameter ≲ 3), so this settles in 2–4 rounds; for high-diameter
    * graphs the pointer-doubling (large-star/small-star) variant halves
    * the exponent but is overkill here. The per-round driver action is
    * ONE aggregated count (the convergence test) — no row data ever
    * reaches the driver.
    *
    * Each round's labels are `localCheckpoint`ed, not merely persisted:
    * every round references the previous labels TWICE (the union and
    * the message join), so without lineage truncation the logical plan
    * doubles per round and Catalyst re-analysis turns exponential —
    * measured at sf0.1: 29 s build / 6 s PER REUSE un-truncated vs
    * ~6 s build / 0.2 s reuse truncated (build is the d6 pair pipeline
    * plus a few tiny settled rounds).
    * On a cluster, swap localCheckpoint for a reliable checkpoint dir;
    * the algorithm is unchanged. Checkpoint blocks are tracked by RDD
    * id: intermediate rounds are dropped as soon as they're replaced,
    * and the final round's blocks are freed by [[release]]. */
  private def persistedIds(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def dropIds(spark: SparkSession, ids: Set[Int]): Unit =
    ids.foreach(id =>
      spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = true)))

  /** Truncate lineage + materialize; report which RDD ids it pinned.
    *
    * `reliable = false` (the local-mode default) uses `localCheckpoint`:
    * fast, but the blocks live on executors — ONE lost executor kills
    * the whole iterative job past the point of recomputation. On a real
    * cluster callers set `spark.sparkContext.setCheckpointDir(...)` (an
    * HDFS/object-store path) and pass `reliable = true`: each round is
    * written to fault-tolerant storage via `Dataset.checkpoint`, so an
    * executor loss replays from the last round, not from scratch.
    * Reliable checkpoints are FILES, not cached blocks — nothing to
    * unpersist (we return an empty id set); stale round files are
    * GC-cleaned when `spark.cleaner.referenceTracking.cleanCheckpoints`
    * is on, or swept with the checkpoint dir at job end. */
  private def settleCheckpoint(spark: SparkSession, df: DataFrame,
                               reliable: Boolean = false): (DataFrame, Set[Int]) = {
    if (reliable) {
      require(spark.sparkContext.getCheckpointDir.isDefined,
        "reliable checkpointing needs spark.sparkContext.setCheckpointDir(...) first")
      (df.checkpoint(eager = true), Set.empty[Int])
    } else {
      val before = persistedIds(spark)
      val out = df.localCheckpoint(eager = true)
      (out, persistedIds(spark) -- before)
    }
  }

  private[graft] def connectedComponents(spark: SparkSession, pairs: DataFrame,
                                             maxRounds: Int = 25,
                                             reliable: Boolean = false): (DataFrame, Set[Int]) = {
    def drop(ids: Set[Int]): Unit = dropIds(spark, ids)
    def settle(df: DataFrame): (DataFrame, Set[Int]) = settleCheckpoint(spark, df, reliable)
    // settle the pair derivation FIRST: both union branches below read
    // the checkpoint, so the (expensive) pair pipeline runs exactly once
    val (fwd, edgeIds) = settle(
      pairs.select(col("doc_a").cast("long").as("src"), col("doc_b").cast("long").as("dst")))
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
    var (labels, labelIds) = settle(
      edges.select(col("src").as("node")).distinct().select(col("node"), col("node").as("lab")))
    var round = 0
    var changed = 1L
    while (changed > 0 && round < maxRounds) {
      val msgs = edges.join(labels.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), col("lab"))
      val (next, nextIds) = settle(
        labels.union(msgs).groupBy(col("node")).agg(min(col("lab")).as("lab")))
      changed = next.as("n")
        .join(labels.as("o"), col("n.node") === col("o.node"))
        .filter(col("n.lab") =!= col("o.lab"))
        .count()
      drop(labelIds)
      labels = next
      labelIds = nextIds
      round += 1
    }
    drop(edgeIds)
    // Unconverged labels are WRONG cluster ids — never hand them back
    // silently. Propagation needs diameter(component) rounds; a graph
    // deeper than maxRounds must raise the cap or switch to
    // [[connectedComponentsDoubling]] (O(log n) rounds on any topology).
    require(changed == 0,
      s"connected components did not converge in $maxRounds rounds " +
        s"($changed labels still changing); raise maxRounds or use the doubling variant")
    (labels, labelIds)
  }

  /** Connected components via alternating LARGE-STAR / SMALL-STAR edge
    * contractions (the public MapReduce CC algorithm of Kiveris et al.,
    * "Connected Components in MapReduce and Beyond") — the
    * POINTER-DOUBLING scale path [[connectedComponents]]'s min-label
    * propagation lacks: propagation needs diameter(component) rounds
    * (a 10⁶-long chain = 10⁶ rounds), star contraction converges in
    * O(log n) rounds on any topology because each round rewires nodes
    * directly to (near-)roots rather than one hop closer.
    *
    * Per round: large-star points each node's LARGER neighbors at its
    * current minimum (incl. itself); small-star then rewires each
    * node and its SMALLER neighbors to their minimum. Both are
    * groupBy-min + equi-join shapes — no adjacency-list collection, so
    * a high-degree node never materializes a fat row. Fixed point =
    * every edge is (node, component-root); convergence is an EXACT
    * set comparison (count + anti-join count, two aggregated scalars).
    * Same checkpoint-per-round lineage discipline as the propagation
    * variant. Returns (labels, pinned RDD ids, rounds used).
    *
    * d25 stays on min-label propagation — near-dup groups are dense,
    * diameter ≲ 3, so 2–4 cheap rounds beat the two-phase contraction;
    * this variant is for adversarial/high-diameter graphs. */
  private[graft] def connectedComponentsDoubling(spark: SparkSession, pairs: DataFrame,
                                                 maxRounds: Int = 40,
                                                 reliable: Boolean = false): (DataFrame, Set[Int], Int) = {
    def settle(df: DataFrame): (DataFrame, Set[Int]) = settleCheckpoint(spark, df, reliable)
    def bothDir(e: DataFrame): DataFrame =
      e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    // min over Γ(u) ∪ {u}, from an adjacency DIRECTION frame (u=src)
    def minsOf(adj: DataFrame): DataFrame =
      adj.groupBy(col("src").as("u")).agg(min(col("dst")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
    def canonical(e: DataFrame): DataFrame =
      e.filter(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("src"), greatest(col("a"), col("b")).as("dst"))
        .distinct()
    def largeStar(e: DataFrame): DataFrame = {
      val adj = bothDir(e)
      adj.filter(col("dst") > col("src"))
        .join(minsOf(adj), col("src") === col("u"))
        .select(col("dst").as("a"), col("m").as("b"))
        .transform(canonical)
    }
    def smallStar(e: DataFrame): DataFrame = {
      val smaller = bothDir(e).filter(col("dst") < col("src"))
      val m = minsOf(smaller)
      smaller.join(m, col("src") === col("u"))
        .select(col("dst").as("a"), col("m").as("b"))
        .union(m.select(col("u").as("a"), col("m").as("b")))
        .transform(canonical)
    }
    var (edges, edgeIds) = settle(canonical(
      pairs.select(col("doc_a").cast("long").as("a"), col("doc_b").cast("long").as("b"))))
    var round = 0
    var stable = false
    while (!stable && round < maxRounds) {
      val (next, nextIds) = settle(smallStar(largeStar(edges)))
      // exact set equality: same cardinality and no edge outside the old set
      stable = next.count() == edges.count() &&
        next.join(edges, Seq("src", "dst"), "left_anti").count() == 0
      dropIds(spark, edgeIds)
      edges = next
      edgeIds = nextIds
      round += 1
    }
    // Same contract as the propagation variant: an unstable edge set
    // means the labels below would be wrong — refuse to return them.
    require(stable,
      s"star-contraction CC did not converge in $maxRounds rounds; raise maxRounds")
    val adj = bothDir(edges)
    val (labels, labelIds) = settle(
      adj.groupBy(col("src").as("node")).agg(min(col("dst")).as("mn"))
        .select(col("node"), least(col("mn"), col("node")).as("lab")))
    dropIds(spark, edgeIds)
    (labels, labelIds, round)
  }

  /** One materialized component labeling per (session, dir) — d25 is
    * iterative, so rebuilding it per reference would redo the loop.
    * Releasing the entry ([[SessionMemo.release]]) frees the final
    * round's checkpoint blocks. */
  private def sharedClusters(spark: SparkSession, dir: String): DataFrame =
    SessionMemo.value(spark, dir, "corpus.cc")(
      connectedComponents(spark, DedupOps.sharedVerifiedPairs(spark, dir)))(
      built => dropIds(spark, built._2))._1

  /** Releases every operator family's shared artifacts for (session, dir). */
  def release(spark: SparkSession, dir: String): Unit = SessionMemo.release(spark, dir)

  /** d25: duplicate-group clustering — connected components over the
    * verified MinHash near-dup pairs (d6), labeling every involved
    * document with its group's min doc_id and the group size. This is
    * the step that turns pairwise near-dup output into "keep one doc
    * per group": canonical = (doc_id == cluster_id). Transitivity
    * matters: A≈B and B≈C must collapse to ONE group even when A and C
    * are not direct near-dups — pairwise output alone can't say that. */
  def d25DedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val labels = sharedClusters(spark, dir)
    val sizes = labels.groupBy(col("lab")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "lab")
      .select(col("node").as("doc_id"), col("lab").as("cluster_id"), col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** Shared DuckDB CTE chain replaying the cluster labels: the d6 pair
    * derivation verbatim, then a recursive label closure (node reaches
    * lab) reduced by min — the same fixed point the distributed
    * propagation converges to. Ends at `labs(doc_id, cluster_id)` and
    * `sizes(cluster_id, cluster_size)`; d25/d50 append their SELECTs. */
  private val ccSqlPrefix: String =
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      |  FROM toks WHERE len(t) >= 3),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |    / len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
      |edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs
      |  UNION ALL SELECT doc_b, doc_a FROM pairs),
      |cc AS (
      |  SELECT DISTINCT src AS node, src AS lab FROM edges
      |  UNION
      |  SELECT e.dst AS node, cc.lab FROM cc JOIN edges e ON e.src = cc.node),
      |labs AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM cc GROUP BY node),
      |sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM labs GROUP BY cluster_id)""".stripMargin

  val d25Sql: String = ccSqlPrefix +
    """
      |SELECT doc_id, cluster_id, cluster_size
      |FROM labs JOIN sizes USING (cluster_id) ORDER BY doc_id""".stripMargin

  def d118ClusterCohesion(spark: SparkSession, dir: String): DataFrame = {
    val labels = sharedClusters(spark, dir)
      .select(col("node").as("doc_id"), col("lab").as("cluster_id"))
    val pairs = graft.operators.DedupOps.sharedVerifiedPairs(spark, dir)
      .select(col("doc_a"), col("doc_b"))
    // every verified pair's endpoints share a cluster BY CONSTRUCTION
    // (components were built from these edges), so one label join on
    // doc_a prices the per-cluster edge count
    val edges = pairs
      .join(labels.select(col("doc_id").as("doc_a"), col("cluster_id")), Seq("doc_a"))
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("n_edges"))
    labels.groupBy(col("cluster_id")).agg(count(lit(1)).as("size"))
      .join(edges, Seq("cluster_id"))
      .select(col("size"),
        col("n_edges"),
        // all-integer forms: 2·edges = size·(size−1) ⟺ clique, and
        // 10⁴·edges div C(size,2) = 2·10⁴·edges div (size·(size−1))
        (col("n_edges") * 2 === col("size") * (col("size") - 1)).as("is_clique"))
      .groupBy(col("size"))
      .agg(count(lit(1)).cast("bigint").as("n_clusters"),
        sum(col("n_edges")).cast("bigint").as("total_edges"),
        sum(when(col("is_clique"), 1L).otherwise(0L)).cast("bigint").as("n_cliques"),
        min(expr("(n_edges * 20000) div (size * (size - 1))"))
          .cast("bigint").as("min_density_bp"))
      .select(col("size").cast("bigint").as("cluster_size"), col("n_clusters"),
        col("total_edges"), col("n_cliques"), col("min_density_bp"))
      .orderBy(col("cluster_size"))
  }

  /** d118: dedup-cluster COHESION audit — d25 labels the components;
    * this prices how tight each one is. A near-dup "cluster" built by
    * transitive closure can chain A≈B≈C where A and C share nothing
    * (the dedup-by-components overreach every corpus owner eventually
    * debugs at scale): per cluster SIZE, how many components exist,
    * their direct-edge totals, how many are true CLIQUES (every pair
    * verified ≥ τ), and the worst edge density observed — density
    * 10⁴·edges div C(size,2), exact integers end-to-end. min density
    * near 10⁴ ⇒ components ≈ cliques (safe to keep-one-per-cluster);
    * low min density at large sizes ⇒ chains (keep-best d50 needs a
    * second look). Cost: two label-grain reduces + one pairs⋈labels
    * equi-join — never corpus grain. */
  val d118Sql: String = ccSqlPrefix +
    """,
      |ecnt AS (
      |  SELECT l.cluster_id, count(*) AS n_edges
      |  FROM pairs p JOIN labs l ON p.doc_a = l.doc_id GROUP BY 1),
      |per AS (
      |  SELECT s.cluster_size AS size, e.n_edges,
      |    e.n_edges * 2 = s.cluster_size * (s.cluster_size - 1) AS is_clique
      |  FROM sizes s JOIN ecnt e USING (cluster_id))
      |SELECT CAST(size AS BIGINT) AS cluster_size,
      |  CAST(count(*) AS BIGINT) AS n_clusters,
      |  CAST(sum(n_edges) AS BIGINT) AS total_edges,
      |  CAST(sum(CASE WHEN is_clique THEN 1 ELSE 0 END) AS BIGINT) AS n_cliques,
      |  CAST(min(n_edges * 20000 // (size * (size - 1))) AS BIGINT) AS min_density_bp
      |FROM per GROUP BY size ORDER BY cluster_size""".stripMargin

  /** d50: dedup-cluster representative selection — the execution step
    * after d25's clustering: within each near-dup cluster keep ONE doc,
    * drop the rest. The keep rule is integer-deterministic: longest doc
    * (token count) wins, ties to the smallest doc_id — an argmax that
    * cannot flip with parallelism or engine (no float quality in the
    * ranking key; d3's float score would tie-break on double dust).
    * Reads the SHARED cluster labels (one closure per session/dir —
    * the d25/d29 lifecycle); the only new work is a label⋈token-count
    * equi-join and two cluster-partitioned windows over LABEL rows
    * (bounded by cluster fan-out, never corpus-wide). */
  def d50ClusterKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val labels = sharedClusters(spark, dir)
    val ntok = Tables.documents(spark, dir)
      .select(col("doc_id"), size(TextOps.tokens(col("text"))).as("n_tokens"))
    val wSize = Window.partitionBy(col("lab"))
    val wRank = Window.partitionBy(col("lab")).orderBy(col("n_tokens").desc, col("node"))
    labels.join(ntok, col("node") === col("doc_id"))
      .withColumn("cluster_size", count(lit(1)).over(wSize))
      .withColumn("rn", row_number().over(wRank))
      .select(col("node").as("doc_id"), col("lab").as("cluster_id"),
        col("cluster_size"), col("n_tokens"), (col("rn") === 1).as("kept"))
      .orderBy(col("doc_id"))
  }

  val d50Sql: String = ccSqlPrefix +
    """,
      |nt AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INTEGER) AS n_tokens
      |  FROM documents),
      |r AS (
      |  SELECT l.doc_id, l.cluster_id, s.cluster_size, nt.n_tokens,
      |    row_number() OVER (PARTITION BY l.cluster_id
      |      ORDER BY nt.n_tokens DESC, l.doc_id) AS rn
      |  FROM labs l JOIN sizes s USING (cluster_id) JOIN nt USING (doc_id))
      |SELECT doc_id, cluster_id, cluster_size, n_tokens, rn = 1 AS kept
      |FROM r ORDER BY doc_id""".stripMargin

  /** Corpus document-frequency at or below which a token is "rare". */
  val RareDf = 2L

  /** d26: rare-token profile — the OOV/rarity signal data curation uses
    * to spot noisy or misencoded documents (and to protect genuinely
    * novel text from over-filtering): per doc, the fraction of token
    * occurrences whose corpus document-frequency is ≤ RareDf, plus the
    * distinct rare-type count. Rarity is defined by exact integer df
    * (not an IDF float), so the profile is bit-stable cross-engine;
    * only the final ratio divides. Shape: one exploded pass, a
    * token-keyed df aggregate, an equi-join back on token (the df
    * dictionary is corpus-sized at 100 TB — shuffle-bucketed, never
    * broadcast-assumed), one doc-keyed final aggregate. */
  /** Rare-token profile over any (doc_id, text) frame — see
    * [[d26RareTokens]]. Single-scan shape: reduce occurrences to
    * (doc, token, count) first, then document frequency is a count
    * over a token-partitioned window on those (distinct by
    * construction) rows — the dictionary-join form scans the corpus
    * twice and shuffles the full occurrence stream on the token for
    * the probe side; this moves only the reduced (doc, token) pairs. */
  private[graft] def rareTokenProfile(docs: DataFrame, rareDf: Long = RareDf): DataFrame = {
    val per = docs.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
    per.withColumn("df", count(lit(1)).over(Window.partitionBy(col("tok"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_occ"),
        sum(when(col("df") <= rareDf, col("c")).otherwise(lit(0L))).as("n_rare_occ"),
        count(when(col("df") <= rareDf, lit(1))).as("n_rare_types"))
      .select(col("doc_id"), col("n_occ"), col("n_rare_occ"), col("n_rare_types"),
        (col("n_rare_occ").cast("double") / col("n_occ")).as("rare_ratio"))
      .orderBy(col("doc_id"))
  }

  def d26RareTokens(spark: SparkSession, dir: String): DataFrame =
    rareTokenProfile(Tables.documents(spark, dir))

  val d26Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
       |occ AS (SELECT doc_id, unnest(t) AS tok FROM toks),
       |dfreq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM occ GROUP BY tok),
       |per AS (
       |  SELECT doc_id, count(*) AS n_occ,
       |    count(CASE WHEN df <= $RareDf THEN 1 END) AS n_rare_occ,
       |    count(DISTINCT CASE WHEN df <= $RareDf THEN tok END) AS n_rare_types
       |  FROM occ JOIN dfreq USING (tok) GROUP BY doc_id)
       |SELECT doc_id, n_occ, n_rare_occ, n_rare_types,
       |  CAST(n_rare_occ AS DOUBLE) / n_occ AS rare_ratio
       |FROM per ORDER BY doc_id""".stripMargin

  /** d32: deduplicated-corpus materialization — the final "keep one doc
    * per group" rewrite every training-data pipeline ends with. A doc
    * survives iff it is BOTH the canonical copy under d5's exact rule
    * (min doc_id per normalized-text hash) AND the canonical member of
    * its d25 near-dup cluster (cluster_id == doc_id; docs in no cluster
    * pass). Composes the shared caches the way d29 learned to: the
    * cluster labels come from the memoized CC build over the cached
    * verified pairs, so this prices as one corpus scan + one ids-only
    * join — never a recompute of the dedup pipeline. */
  def d32DedupCorpus(spark: SparkSession, dir: String): DataFrame = {
    val wDup = Window.partitionBy(md5(trim(lower(col("text")))))
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        (col("doc_id") === min(col("doc_id")).over(wDup)).as("exact_canonical"))
    val labels = sharedClusters(spark, dir)
      .select(col("node").as("doc_id"), col("lab"))
    base.join(labels, Seq("doc_id"), "left_outer")
      .filter(col("exact_canonical") && (col("lab").isNull || col("lab") === col("doc_id")))
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  val d32Sql: String =
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      |  FROM toks WHERE len(t) >= 3),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |    / len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
      |edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs
      |  UNION ALL SELECT doc_b, doc_a FROM pairs),
      |cc AS (
      |  SELECT DISTINCT src AS node, src AS lab FROM edges
      |  UNION
      |  SELECT e.dst AS node, cc.lab FROM cc JOIN edges e ON e.src = cc.node),
      |labs AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM cc GROUP BY node),
      |canon AS (
      |  SELECT doc_id, source, n_chars,
      |    doc_id = min(doc_id) OVER (PARTITION BY md5(trim(lower(text)))) AS exact_canonical
      |  FROM documents)
      |SELECT c.doc_id, c.source, c.n_chars
      |FROM canon c LEFT JOIN labs l ON c.doc_id = l.doc_id
      |WHERE exact_canonical AND (l.cluster_id IS NULL OR l.cluster_id = c.doc_id)
      |ORDER BY c.doc_id""".stripMargin

  /** Context-window size / stride (tokens) for d33. Stride < size ⇒
    * consecutive windows overlap by WinTokens − WinStride tokens.
    * (Sized so the test corpus — ≤ 99-token docs — actually exercises
    * the multi-window overlap path; a real pipeline would run 2048/1536
    * or similar. The arithmetic is scale-free.) */
  val WinTokens = 32
  val WinStride = 24

  /** d33: overlapping context-window manifest — the long-document
    * split every context-bounded training/eval pipeline needs (d24
    * packs SHORT docs into sequences; this cuts LONG docs into
    * overlapping windows, the sliding-window counterpart). Per doc:
    * n_win = 1 + ⌈(n_tok − W)/S⌉ windows (all-integer ceiling — no
    * float division anywhere), window i covering tokens
    * [i·S, min(i·S + W, n_tok)). Row-local: one scan, sequence+explode
    * per doc, zero shuffles — the manifest partitions wherever its
    * consumer wants it. The derivation guarantees full coverage (first
    * window starts at 0, last ends exactly at n_tok, adjacent windows
    * overlap by W−S > 0) — asserted in the spec. */
  def d33TrainWindows(spark: SparkSession, dir: String): DataFrame = {
    val sized = Tables.documents(spark, dir)
      .select(col("doc_id"), size(TextOps.tokens(col("text"))).as("n_tok"))
      .filter(col("n_tok") > 0)
      .withColumn("n_win", when(col("n_tok") <= WinTokens, lit(1))
        .otherwise(expr(s"CAST((n_tok - $WinTokens + $WinStride - 1) div $WinStride AS INT) + 1")))
    sized
      .select(col("doc_id"), col("n_tok"),
        explode(sequence(lit(0), col("n_win") - 1)).as("win_id"))
      .select(col("doc_id"), col("win_id"),
        (col("win_id") * WinStride).as("start_tok"),
        least(col("win_id") * WinStride + WinTokens, col("n_tok")).as("end_tok"),
        col("n_tok"))
      .orderBy(col("doc_id"), col("win_id"))
  }

  val d33Sql: String =
    s"""WITH sized AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INTEGER) AS n_tok
       |  FROM documents),
       |nw AS (
       |  SELECT doc_id, n_tok,
       |    CASE WHEN n_tok <= $WinTokens THEN 1
       |         ELSE (n_tok - $WinTokens + $WinStride - 1) // $WinStride + 1 END AS n_win
       |  FROM sized WHERE n_tok > 0),
       |w AS (
       |  SELECT doc_id, n_tok, unnest(generate_series(0, n_win - 1)) AS win_id FROM nw)
       |SELECT doc_id, win_id,
       |  win_id * $WinStride AS start_tok,
       |  least(win_id * $WinStride + $WinTokens, n_tok) AS end_tok,
       |  n_tok
       |FROM w ORDER BY doc_id, win_id""".stripMargin

  /** Integer idf scale and list size for d34. */
  val IdfScale = 1000000L
  val TopTerms = 5

  /** d34: characteristic terms per source — the "what makes this
    * source distinctive" dashboard behind mixture decisions (d21/d31
    * tell you HOW MUCH of each source; this says WHAT each source
    * contributes). Classic tf-idf ranking re-expressed bit-stable: the
    * score is (tf · 10⁶) div df — integer division on exact integer
    * term/document frequencies, so ranking never depends on float log
    * rounding and both engines agree exactly. Shape: one corpus scan
    * reduces occurrences to (source, token, tf) map-side; source-level
    * df is a count over a token-partitioned window on that REDUCED
    * frame (d26's idiom — only reduced pairs re-exchange); the
    * per-source top-K rank filter compiles to WindowGroupLimit
    * (map-side per-group limit before the final exchange, d30's
    * shape). */
  def d34IdfTerms(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy(col("tok"))))
      .withColumn("score", expr(s"(tf * $IdfScale) div df"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("score").desc, col("tok"))))
      .filter(col("rank") <= TopTerms)
      .select(col("source"), col("rank"), col("tok").as("token"),
        col("tf"), col("df"), col("score"))
      .orderBy(col("source"), col("rank"))
  }

  val d34Sql: String =
    s"""WITH toks AS (
       |  SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
       |  FROM documents),
       |tf AS (SELECT source, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
       |d AS (SELECT *, count(*) OVER (PARTITION BY tok) AS df FROM tf),
       |s AS (SELECT *, (tf * $IdfScale) // df AS score FROM d),
       |r AS (SELECT *, row_number() OVER (PARTITION BY source
       |    ORDER BY score DESC, tok) AS rank FROM s)
       |SELECT source, rank, tok AS token, tf, df, score
       |FROM r WHERE rank <= $TopTerms ORDER BY source, rank""".stripMargin

  /** d35: corpus-curation funnel — the stage-by-stage survival report
    * every pipeline owner reads before a training run: how many docs
    * remain after language ID (d2), quality (d3), exact-dedup
    * canonicality (d5), near-dup cluster canonicality (d25), and
    * eval-set hygiene (held-out docs removed + d20 contamination).
    * Stages are CUMULATIVE (each ANDs onto the previous), so the
    * report reads as the funnel it is. Every signal is the SAME
    * deterministic rule its standalone operator runs — the cluster
    * labels come from the memoized CC build over the cached verified
    * pairs, contamination joins back by id only — so the funnel
    * prices as composition, not recomputation, and inherits the
    * component oracles' guarantees. The 1-row wide aggregate stacks
    * to per-stage rows (a12's idiom): 6 rows out, one corpus-scan
    * base + the component passes. */
  def d35CorpusFunnel(spark: SparkSession, dir: String): DataFrame = {
    val wDup = Window.partitionBy(md5(trim(lower(col("text")))))
    val nTok = size(TextOps.tokens(col("text")))
    val avgTokLen = length(translate(col("text"), " ", "")).cast("double") / nTok
    val base = Tables.documents(spark, dir).select(
      col("doc_id"), col("text"),
      (col("doc_id") === min(col("doc_id")).over(wDup)).as("exact_canonical"),
      (nTok.between(5, 1000) && avgTokLen.between(2.0, 12.0)).as("quality_ok"))
    val flagged = TextOps.withLangPred(base, "doc_id", "text")
      .select(col("doc_id"), (col("lang_pred") === "en").as("lang_ok"),
        col("quality_ok"), col("exact_canonical"))
    val labels = sharedClusters(spark, dir)
      .select(col("node").as("doc_id"), col("lab"))
    val contam = TextOps.sharedContamination(spark, dir)
      .select(col("doc_id"), lit(true).as("contaminated"))
    val wide = flagged
      .join(labels, Seq("doc_id"), "left_outer")
      .join(contam, Seq("doc_id"), "left_outer")
      .withColumn("s3", col("lang_ok") && col("quality_ok"))
      .withColumn("s4", col("s3") && col("exact_canonical"))
      .withColumn("s5", col("s4") && (col("lab").isNull || col("lab") === col("doc_id")))
      .withColumn("s6", col("s5") && pmod(col("doc_id"), lit(97)) =!= 0 &&
        coalesce(col("contaminated"), lit(false)) === false)
      .agg(
        count(lit(1)).as("n1"),
        count(when(col("lang_ok"), 1)).as("n2"),
        count(when(col("s3"), 1)).as("n3"),
        count(when(col("s4"), 1)).as("n4"),
        count(when(col("s5"), 1)).as("n5"),
        count(when(col("s6"), 1)).as("n6"))
    def stage(id: Int, name: String, n: Column, total: Column) =
      struct(lit(id).as("stage_id"), lit(name).as("stage"), n.as("n_docs"),
        (n.cast("double") / total.cast("double")).as("pct"))
    wide.select(explode(array(
        stage(1, "total", col("n1"), col("n1")),
        stage(2, "lang_ok", col("n2"), col("n1")),
        stage(3, "quality_ok", col("n3"), col("n1")),
        stage(4, "exact_canonical", col("n4"), col("n1")),
        stage(5, "near_dup_canonical", col("n5"), col("n1")),
        stage(6, "eval_clean", col("n6"), col("n1")))).as("s"))
      .select(col("s.stage_id"), col("s.stage"), col("s.n_docs"), col("s.pct"))
      .orderBy(col("stage_id"))
  }

  val d35Sql: String = {
    val clusterCtes =
      """ctoks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
        |csh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        |  FROM ctoks WHERE len(t) >= 3),
        |cpairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM csh a JOIN csh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
        |cedges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM cpairs
        |  UNION ALL SELECT doc_b, doc_a FROM cpairs),
        |ccc AS (
        |  SELECT DISTINCT src AS node, src AS lab FROM cedges
        |  UNION
        |  SELECT e.dst AS node, ccc.lab FROM ccc JOIN cedges e ON e.src = ccc.node),
        |labs AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM ccc GROUP BY node)""".stripMargin
    s"""WITH RECURSIVE lang AS (SELECT doc_id, lang_pred FROM (${TextOps.d2Sql})),
       |q AS (SELECT doc_id, quality_flag FROM (${TextOps.d3Sql})),
       |canon AS (
       |  SELECT doc_id,
       |    doc_id = min(doc_id) OVER (PARTITION BY md5(trim(lower(text)))) AS exact_canonical
       |  FROM documents),
       |$clusterCtes,
       |cont AS (SELECT doc_id FROM (${TextOps.d20Sql})),
       |per AS (
       |  SELECT d.doc_id,
       |    (lang_pred = 'en') AS s2,
       |    (lang_pred = 'en' AND quality_flag = 'ok') AS s3,
       |    (lang_pred = 'en' AND quality_flag = 'ok' AND exact_canonical) AS s4,
       |    (lang_pred = 'en' AND quality_flag = 'ok' AND exact_canonical
       |      AND (cluster_id IS NULL OR cluster_id = d.doc_id)) AS s5,
       |    (lang_pred = 'en' AND quality_flag = 'ok' AND exact_canonical
       |      AND (cluster_id IS NULL OR cluster_id = d.doc_id)
       |      AND d.doc_id % 97 <> 0 AND cont.doc_id IS NULL) AS s6
       |  FROM documents d
       |  JOIN lang ON d.doc_id = lang.doc_id
       |  JOIN q ON d.doc_id = q.doc_id
       |  JOIN canon ON d.doc_id = canon.doc_id
       |  LEFT JOIN labs ON d.doc_id = labs.doc_id
       |  LEFT JOIN cont ON d.doc_id = cont.doc_id),
       |wide AS (
       |  SELECT count(*) AS n1,
       |    count(CASE WHEN s2 THEN 1 END) AS n2,
       |    count(CASE WHEN s3 THEN 1 END) AS n3,
       |    count(CASE WHEN s4 THEN 1 END) AS n4,
       |    count(CASE WHEN s5 THEN 1 END) AS n5,
       |    count(CASE WHEN s6 THEN 1 END) AS n6
       |  FROM per)
       |SELECT * FROM (
       |  SELECT 1 AS stage_id, 'total' AS stage, n1 AS n_docs,
       |    CAST(n1 AS DOUBLE) / n1 AS pct FROM wide
       |  UNION ALL SELECT 2, 'lang_ok', n2, CAST(n2 AS DOUBLE) / n1 FROM wide
       |  UNION ALL SELECT 3, 'quality_ok', n3, CAST(n3 AS DOUBLE) / n1 FROM wide
       |  UNION ALL SELECT 4, 'exact_canonical', n4, CAST(n4 AS DOUBLE) / n1 FROM wide
       |  UNION ALL SELECT 5, 'near_dup_canonical', n5, CAST(n5 AS DOUBLE) / n1 FROM wide
       |  UNION ALL SELECT 6, 'eval_clean', n6, CAST(n6 AS DOUBLE) / n1 FROM wide)
       |ORDER BY stage_id""".stripMargin
  }

  /** d37: per-source document-length profile — the length-distribution
    * dashboard curation reads before choosing truncation/packing
    * budgets (d24/d33's W and S come from exactly this table). Exact
    * discrete percentiles by rank selection (q21's idiom, c8's
    * per-group form): value at rank ⌈q·n⌉ of the source's n_chars
    * order — integers both engines agree on bit-for-bit, no
    * interpolation. One scan; the rank window and the final aggregate
    * share the source partitioning. Per-source exact order is the
    * right price at |source| group sizes; corpus-wide percentile at
    * 100 TB is q22's sketch. */
  def d37LengthProfile(spark: SparkSession, dir: String): DataFrame = {
    val wS = Window.partitionBy(col("source"))
    Tables.documents(spark, dir)
      .select(col("source"), col("n_chars"), col("doc_id"))
      .withColumn("rn", row_number().over(wS.orderBy(col("n_chars"), col("doc_id"))))
      .withColumn("cnt", count(lit(1)).over(wS))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        sum(col("n_chars")).as("total_chars"),
        max(when(col("rn") === ceil(col("cnt") / lit(10.0)), col("n_chars"))).as("p10_chars"),
        max(when(col("rn") === ceil(col("cnt") / 2.0), col("n_chars"))).as("p50_chars"),
        max(when(col("rn") === ceil(col("cnt") * 9 / lit(10.0)), col("n_chars"))).as("p90_chars"))
      .orderBy(col("source"))
  }

  val d37Sql: String =
    """WITH r AS (
      |  SELECT source, n_chars,
      |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
      |    count(*) OVER (PARTITION BY source) AS cnt
      |  FROM documents)
      |SELECT source, count(*) AS n_docs,
      |  min(n_chars) AS min_chars, max(n_chars) AS max_chars,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  max(CASE WHEN rn = CAST(ceil(cnt / 10.0) AS BIGINT) THEN n_chars END) AS p10_chars,
      |  max(CASE WHEN rn = CAST(ceil(cnt / 2.0) AS BIGINT) THEN n_chars END) AS p50_chars,
      |  max(CASE WHEN rn = CAST(ceil(cnt * 9 / 10.0) AS BIGINT) THEN n_chars END) AS p90_chars
      |FROM r GROUP BY source ORDER BY source""".stripMargin

  /** d41: packing-efficiency report — the ROI table behind choosing
    * d24's concat-and-chunk over naive one-doc-per-sequence batching:
    * per source, the sequence count and padding waste of BOTH layouts
    * at SeqLen. Packed needs ⌈Σtok/L⌉ sequences (docs share
    * sequences); padded needs Σ⌈tok_i/L⌉ (each doc pads its own
    * last sequence). All-integer arithmetic (`div` ceilings) until
    * the two final waste ratios; one corpus scan, one source
    * exchange. */
  def d41PackingEfficiency(spark: SparkSession, dir: String): DataFrame = {
    val L = SeqLen
    Tables.documents(spark, dir)
      .select(col("source"), size(TextOps.tokens(col("text"))).as("n_tok"))
      .filter(col("n_tok") > 0)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok").cast("long")).as("total_tokens"),
        sum(expr(s"CAST((n_tok + ${L - 1}) div $L AS BIGINT)")).as("padded_seqs"))
      .withColumn("packed_seqs", expr(s"(total_tokens + ${L - 1}) div $L"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("packed_seqs"), col("padded_seqs"),
        ((col("packed_seqs") * L - col("total_tokens")).cast("double") /
          (col("packed_seqs") * L)).as("packed_waste"),
        ((col("padded_seqs") * L - col("total_tokens")).cast("double") /
          (col("padded_seqs") * L)).as("padded_waste"))
      .orderBy(col("source"))
  }

  val d41Sql: String =
    s"""WITH sized AS (
       |  SELECT source,
       |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INTEGER) AS n_tok
       |  FROM documents),
       |per AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       |    CAST(sum((n_tok + ${SeqLen - 1}) // $SeqLen) AS BIGINT) AS padded_seqs
       |  FROM sized WHERE n_tok > 0 GROUP BY source),
       |w AS (SELECT *, (total_tokens + ${SeqLen - 1}) // $SeqLen AS packed_seqs FROM per)
       |SELECT source, n_docs, total_tokens, packed_seqs, padded_seqs,
       |  CAST(packed_seqs * $SeqLen - total_tokens AS DOUBLE) / (packed_seqs * $SeqLen) AS packed_waste,
       |  CAST(padded_seqs * $SeqLen - total_tokens AS DOUBLE) / (padded_seqs * $SeqLen) AS padded_waste
       |FROM w ORDER BY source""".stripMargin

  /** d46: leakage-free train/val/test split — the assignment step every
    * training pipeline runs, made DUP-AWARE: a near-identical document
    * in train with its twin in test silently inflates eval, so the
    * split must be decided per duplicate GROUP, never per document.
    * Group key = near-dup cluster label (d25's memoized CC over the
    * cached verified pairs) when present, else the exact-dup canonical
    * min id (d5's md5 rule — covers sub-3-token docs that cannot
    * shingle), else the doc's own id; the two rules agree on overlap
    * because identical text yields identical shingle sets and thus
    * identical cluster membership. The split itself is d16's salted-md5
    * bucket of the GROUP key (row-local, rerun- and engine-stable):
    * buckets 0–7 train, 8 val, 9 test.
    *
    * Shape: one corpus scan (md5-key window for the exact canonical =
    * one exchange), ids-only left join against the cached labels, then
    * row-local hashing — no per-doc RNG state, no global sort. */
  def d46LeakageSplit(spark: SparkSession, dir: String): DataFrame = {
    val wDup = Window.partitionBy(md5(trim(lower(col("text")))))
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        min(col("doc_id")).over(wDup).as("exact_min"))
    val labels = sharedClusters(spark, dir)
      .select(col("node").as("doc_id"), col("lab"))
    base.join(labels, Seq("doc_id"), "left_outer")
      .withColumn("group_key", coalesce(col("lab"), col("exact_min")))
      .withColumn("split_bucket", pmod(
        conv(substring(md5(concat(lit("graft-split:"), col("group_key").cast("string"))), 1, 8),
          16, 10).cast("long"),
        lit(10L)))
      .select(col("doc_id"), col("source"), col("group_key"), col("split_bucket"),
        when(col("split_bucket") < 8, lit("train"))
          .when(col("split_bucket") === 8, lit("val"))
          .otherwise(lit("test")).as("split"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB replay: d32's recursive label closure + the d16 hex-digit
    * md5 arithmetic (DuckDB lacks conv(hex, 16, 10)) over the group
    * key. */
  val d46Sql: String = {
    val pow16 = Seq(268435456L, 16777216L, 1048576L, 65536L, 4096L, 256L, 16L, 1L)
    val digit = pow16.zipWithIndex.map { case (p, i) =>
      s"CAST(strpos('0123456789abcdef', (md5(concat('graft-split:', CAST(group_key AS VARCHAR))))[${i + 1}]) - 1 AS BIGINT) * $p"
    }.mkString(" + ")
    s"""WITH RECURSIVE toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
       |sh AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
       |  FROM toks WHERE len(t) >= 3),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |    / len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |cc AS (
       |  SELECT DISTINCT src AS node, src AS lab FROM edges
       |  UNION
       |  SELECT e.dst AS node, cc.lab FROM cc JOIN edges e ON e.src = cc.node),
       |labs AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM cc GROUP BY node),
       |base AS (
       |  SELECT doc_id, source,
       |    min(doc_id) OVER (PARTITION BY md5(trim(lower(text)))) AS exact_min
       |  FROM documents),
       |keyed AS (
       |  SELECT b.doc_id, b.source, coalesce(l.cluster_id, b.exact_min) AS group_key
       |  FROM base b LEFT JOIN labs l ON b.doc_id = l.doc_id),
       |h AS (
       |  SELECT doc_id, source, group_key, ($digit) % 10 AS split_bucket FROM keyed)
       |SELECT doc_id, source, group_key, split_bucket,
       |  CASE WHEN split_bucket < 8 THEN 'train'
       |       WHEN split_bucket = 8 THEN 'val' ELSE 'test' END AS split
       |FROM h ORDER BY doc_id""".stripMargin
  }

  /** d47: cross-split contamination audit — the check that CLOSES the
    * d46 leakage story: the split is leak-free at the near-dup layer by
    * construction (no verified pair straddles splits), but eval docs
    * can still share raw word-3-grams with train docs (quotes,
    * boilerplate, below-τ overlap), and a training run wants that
    * surface measured before it trusts its eval numbers. Per non-train
    * doc: distinct shared 3-grams, distinct train docs sharing them,
    * and the contaminated flag — d20's shingle equi-join oriented at
    * the EVAL side, with d46's split as the partition.
    *
    * Shape: the split frame prices as d46 (cached CC labels, ids-only
    * join); shingles explode once per side and meet in one
    * shingle-keyed shuffle equi-join (never broadcast-assumed — at
    * 100 TB even the eval side's exploded shingles can exceed memory);
    * the left join back is ids-only. */
  def d47SplitContamination(spark: SparkSession, dir: String): DataFrame = {
    val split = d46LeakageSplit(spark, dir).select(col("doc_id"), col("split"))
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      .join(split, "doc_id")
    val hits = TextOps.contaminationAgainst(
        docs.filter(col("split") =!= "train").select(col("doc_id"), col("text")),
        docs.filter(col("split") === "train").select(col("doc_id"), col("text")))
      .withColumnRenamed("n_eval_docs", "n_train_docs")
    split.filter(col("split") =!= "train")
      .join(hits, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("split"),
        coalesce(col("n_shared_ngrams"), lit(0L)).as("n_shared_ngrams"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"),
        (coalesce(col("n_train_docs"), lit(0L)) > 0).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB replay: d46's split CTEs + d20's shingle join, eval side. */
  val d47Sql: String = {
    val pow16 = Seq(268435456L, 16777216L, 1048576L, 65536L, 4096L, 256L, 16L, 1L)
    val digit = pow16.zipWithIndex.map { case (p, i) =>
      s"CAST(strpos('0123456789abcdef', (md5(concat('graft-split:', CAST(group_key AS VARCHAR))))[${i + 1}]) - 1 AS BIGINT) * $p"
    }.mkString(" + ")
    s"""WITH RECURSIVE toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
       |sh AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
       |  FROM toks WHERE len(t) >= 3),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |    / len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |cc AS (
       |  SELECT DISTINCT src AS node, src AS lab FROM edges
       |  UNION
       |  SELECT e.dst AS node, cc.lab FROM cc JOIN edges e ON e.src = cc.node),
       |labs AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM cc GROUP BY node),
       |base AS (
       |  SELECT doc_id, source,
       |    min(doc_id) OVER (PARTITION BY md5(trim(lower(text)))) AS exact_min
       |  FROM documents),
       |keyed AS (
       |  SELECT b.doc_id, coalesce(l.cluster_id, b.exact_min) AS group_key
       |  FROM base b LEFT JOIN labs l ON b.doc_id = l.doc_id),
       |spl AS (
       |  SELECT doc_id,
       |    CASE WHEN ($digit) % 10 < 8 THEN 'train'
       |         WHEN ($digit) % 10 = 8 THEN 'val' ELSE 'test' END AS split
       |  FROM keyed),
       |shingles AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
       |ev AS (
       |  SELECT g.doc_id, g.shingle FROM shingles g JOIN spl USING (doc_id)
       |  WHERE spl.split <> 'train'),
       |tr AS (
       |  SELECT g.doc_id AS train_id, g.shingle FROM shingles g JOIN spl USING (doc_id)
       |  WHERE spl.split = 'train'),
       |hits AS (
       |  SELECT e.doc_id, count(DISTINCT e.shingle) AS n_shared_ngrams,
       |    count(DISTINCT t.train_id) AS n_train_docs
       |  FROM ev e JOIN tr t ON e.shingle = t.shingle GROUP BY e.doc_id)
       |SELECT s.doc_id, s.split,
       |  coalesce(h.n_shared_ngrams, 0) AS n_shared_ngrams,
       |  coalesce(h.n_train_docs, 0) AS n_train_docs,
       |  coalesce(h.n_train_docs, 0) > 0 AS contaminated
       |FROM spl s LEFT JOIN hits h ON s.doc_id = h.doc_id
       |WHERE s.split <> 'train' ORDER BY s.doc_id""".stripMargin
  }

  /** d52: frequency-of-frequencies corpus profile (the Good–Turing
    * N_r table): for each occurrence count r, how many token TYPES
    * occur exactly r times, the token mass r·N_r they carry, and the
    * cumulative mass in basis points walking from the rarest bucket
    * up. This is the vocabulary-saturation / Zipf-shape card a corpus
    * build reads before choosing vocab size and smoothing (N_1 is the
    * Good–Turing estimate of unseen-type mass), and it prices exactly:
    * all counts are integers, only the running share divides — and as
    * basis points via integer cross-multiplication, so the table is
    * bit-identical at any parallelism.
    *
    * Shape: one corpus scan explodes tokens → token-keyed count
    * (map-side partial) → freq-keyed count. The frame is ≤ #distinct
    * frequencies (hundreds) after the second reduce, so the cumsum
    * window is unpartitioned over a tiny frame (the adjudicated q11
    * idiom — never a window over corpus-sized keys). */
  def d52FreqOfFreqs(spark: SparkSession, dir: String): DataFrame = {
    val nr = Tables.documents(spark, dir)
      .select(explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .groupBy(col("freq")).agg(count(lit(1)).as("n_types"))
      .withColumn("token_mass", col("freq") * col("n_types"))
    val w = Window.partitionBy().orderBy(col("freq"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    nr.withColumn("cum_mass", sum(col("token_mass")).over(w))
      .withColumn("total_mass", sum(col("token_mass")).over(wAll))
      .select(col("freq"), col("n_types"), col("token_mass"),
        expr("(cum_mass * 10000) div total_mass").as("cum_mass_bp"))
      .orderBy(col("freq"))
  }

  val d52Sql: String =
    """WITH toks AS (
      |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
      |occ AS (SELECT unnest(t) AS tok FROM toks),
      |tf AS (SELECT tok, count(*) AS freq FROM occ GROUP BY tok),
      |nr AS (SELECT freq, count(*) AS n_types, freq * count(*) AS token_mass
      |       FROM tf GROUP BY freq)
      |SELECT freq, n_types, token_mass,
      |  CAST((sum(token_mass) OVER (ORDER BY freq
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 10000)
      |    // (sum(token_mass) OVER ()) AS BIGINT) AS cum_mass_bp
      |FROM nr ORDER BY freq""".stripMargin

  /** Target source for d54 (the registry-designated exemplar domain a
    * selection run wants MORE of; any source works — src0 is ~1/5 of
    * the synthetic corpus at every SF). */
  val TargetSource = "src0"

  /** d54: target-domain affinity scoring — the data-selection step of a
    * DSIR-style pipeline (Xie et al. 2023, "Data Selection for Language
    * Models via Importance Resampling", arXiv:2302.03169): score every
    * document by how strongly its hashed token features lean toward a
    * TARGET domain versus the rest of the corpus, then keep/resample by
    * that score. DSIR weighs each feature by log(p_target/p_raw); the
    * cross-engine EXACT twin of the per-feature decision is the SIGN of
    * that log-ratio, decided in integers with no logs and no division:
    * feature f leans target  iff  cnt_t(f)·total_rest > cnt_rest(f)·total_t
    * (DECIMAL cross-multiplication — BIGINT·BIGINT overflows at 100 TB
    * token counts). Per doc, affinity_bp = 10000·(target-leaning token
    * occurrences) div (token occurrences) — an integer rank a resampler
    * thresholds or samples against.
    *
    * Features are 256 buckets keyed by the first two hex chars of
    * md5(token) — the paper's hashed-feature trick, carried as a plain
    * string key so any engine hashes identically (the d49 md5 idiom).
    *
    * Shape: 2 corpus scans (the adjudicated d15 budget). Scan A
    * explodes tokens and reduces MAP-SIDE to the ≤256-row per-bucket
    * (target, rest) count frame; the global totals it needs are an
    * unpartitioned window over those 256 rows (q11 idiom), never over
    * corpus keys. The classified map broadcasts. Scan B explodes again,
    * joins the broadcast per token, and reduces to one row per doc via
    * the single doc-keyed exchange. No corpus-sized window, no
    * driver-side data, nothing interpreted. */
  def d54DomainAffinity(spark: SparkSession, dir: String): DataFrame = {
    def toks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        explode(TextOps.tokens(col("text"))).as("tok"))
      .withColumn("bucket", substring(md5(col("tok")), 1, 2))
    val wAll = Window.partitionBy()
    val cls = toks
      .groupBy(col("bucket"))
      .agg(sum(when(col("source") === TargetSource, 1L).otherwise(0L)).as("cnt_t"),
        sum(when(col("source") =!= TargetSource, 1L).otherwise(0L)).as("cnt_r"))
      .withColumn("total_t", sum(col("cnt_t")).over(wAll))
      .withColumn("total_r", sum(col("cnt_r")).over(wAll))
      .select(col("bucket"),
        (col("cnt_t").cast("decimal(19,0)") * col("total_r").cast("decimal(19,0)") >
          col("cnt_r").cast("decimal(19,0)") * col("total_t").cast("decimal(19,0)"))
          .as("leans_target"))
    toks.join(broadcast(cls), "bucket")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("leans_target"), 1L).otherwise(0L)).as("target_tok"))
      .select(col("doc_id"), col("source"), col("n_tok"), col("target_tok"),
        expr("(target_tok * 10000) div n_tok").as("affinity_bp"))
      .orderBy(col("doc_id"))
  }

  val d54Sql: String =
    s"""WITH occ AS (
       |  SELECT doc_id, source,
       |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
       |  FROM documents),
       |b AS (
       |  SELECT doc_id, source, substr(md5(tok), 1, 2) AS bucket FROM occ),
       |stats AS (
       |  SELECT bucket,
       |    CAST(count(CASE WHEN source = '$TargetSource' THEN 1 END) AS BIGINT) AS cnt_t,
       |    CAST(count(CASE WHEN source <> '$TargetSource' THEN 1 END) AS BIGINT) AS cnt_r
       |  FROM b GROUP BY bucket),
       |cls AS (
       |  SELECT bucket,
       |    CAST(cnt_t AS HUGEINT) * (SELECT CAST(sum(cnt_r) AS HUGEINT) FROM stats)
       |      > CAST(cnt_r AS HUGEINT) * (SELECT CAST(sum(cnt_t) AS HUGEINT) FROM stats)
       |      AS leans_target
       |  FROM stats),
       |d AS (
       |  SELECT doc_id, source, count(*) AS n_tok,
       |    CAST(count(CASE WHEN leans_target THEN 1 END) AS BIGINT) AS target_tok
       |  FROM b JOIN cls USING (bucket) GROUP BY doc_id, source)
       |SELECT doc_id, source, n_tok, target_tok,
       |  (target_tok * 10000) // n_tok AS affinity_bp
       |FROM d ORDER BY doc_id""".stripMargin

  /** d55: source-overlap similarity card — the pairwise complement to
    * d31's per-source-vs-corpus drift: for every SOURCE PAIR, the exact
    * Jaccard (integer basis points) between the sources' distinct word
    * 3-gram sets, plus both set sizes and the shared count. This is the
    * card a mixture designer reads before weighting sources (near-clone
    * sources waste mixture mass) and the corpus-level twin of d8's
    * per-document-pair n-gram Jaccard.
    *
    * Shape: ONE corpus scan (d8/d20 need a corpus-wide self-join for
    * their doc grain; at source grain we can do better). Explode
    * shingles → distinct (source, shingle) → per-shingle sorted source
    * set (≤|sources| elements) → ordered pairs generated ROW-LOCALLY
    * (indexed transform × slice), with the diagonal (s,s) emitted
    * alongside so set sizes ride the same frame → ONE tiny pair reduce
    * (≤|sources|² rows). Sizes are recovered from the diagonal via two
    * windows over that reduced frame — no second corpus scan, no
    * corpus-sized self-join, no recompute. Zero-overlap pairs have no
    * row (exact, documented). */
  def d55SourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val pairsWithDiag = {
      val srcs = col("srcs")
      val pairs = flatten(transform(srcs, (x, i) =>
        transform(slice(srcs, i + lit(2), size(srcs)),
          y => struct(x.as("a"), y.as("b")))))
      val diag = transform(srcs, x => struct(x.as("a"), x.as("b")))
      concat(pairs, diag)
    }
    // One corpus exchange, not two: collect_set dedups (source) per
    // shingle map-side, so a prior (source, shingle) DISTINCT is a
    // wasted corpus-wide shuffle; and the shuffle carries 8-byte
    // xxhash64 keys, not ~25-byte shingle strings (the d8 discipline —
    // 2^-64 collision odds, counts unchanged).
    val red = Tables.documents(spark, dir)
      .select(col("source"),
        explode(TextOps.shingles(TextOps.tokens(col("text")))).as("shs"))
      .select(col("source"), xxhash64(col("shs")).as("sh"))
      .groupBy(col("sh")).agg(sort_array(collect_set(col("source"))).as("srcs"))
      .select(explode(pairsWithDiag).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("cnt"))
    val wa = Window.partitionBy(col("a"))
    val wb = Window.partitionBy(col("b"))
    red
      .withColumn("n_a", max(when(col("a") === col("b"), col("cnt"))).over(wa))
      .withColumn("n_b", max(when(col("a") === col("b"), col("cnt"))).over(wb))
      .filter(col("a") < col("b"))
      .select(col("a").as("src_a"), col("b").as("src_b"),
        col("cnt").as("n_shared"), col("n_a"), col("n_b"),
        expr("(cnt * 10000) div (n_a + n_b - cnt)").as("jaccard_bp"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val d55Sql: String =
    """WITH toks AS (
      |  SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS t
      |  FROM documents),
      |sv AS (
      |  SELECT DISTINCT source,
      |    unnest(list_transform(range(1, len(t) - 1),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      |  FROM toks WHERE len(t) >= 3),
      |sz AS (SELECT source, count(*) AS n FROM sv GROUP BY 1),
      |pr AS (
      |  SELECT x.source AS src_a, y.source AS src_b, count(*) AS n_shared
      |  FROM sv x JOIN sv y ON x.sh = y.sh AND x.source < y.source
      |  GROUP BY 1, 2)
      |SELECT src_a, src_b, n_shared,
      |  za.n AS n_a, zb.n AS n_b,
      |  (n_shared * 10000) // (za.n + zb.n - n_shared) AS jaccard_bp
      |FROM pr
      |JOIN sz za ON src_a = za.source
      |JOIN sz zb ON src_b = zb.source
      |ORDER BY src_a, src_b""".stripMargin

  /** d56: quarantine expansion through near-dup clusters — the
    * decontamination rule real pipelines apply but d20 alone cannot
    * express: if a doc shares eval n-grams (d20 direct hit), its
    * near-duplicate TWINS are contaminated too even when paraphrasing
    * broke their own n-gram overlap. Quarantined = d20's direct set ∪
    * every doc sharing a d25 cluster with a direct doc; `reason` says
    * which rule fired ('direct' wins when both).
    *
    * Shape: pure composition over the SHARED cached frames (zero new
    * corpus scans): d20's (doc, counts) via sharedContamination, d25's
    * labels via sharedClusters. Hit-cluster ids reduce to ≤#clusters
    * rows; the expansion is an equi-join on the label — never
    * broadcast-assumed (at 100 TB the contaminated-cluster set can be
    * corpus-shaped). Union → one doc-keyed reduce ('direct' > 'cluster'
    * lexicographically, so max picks the stronger reason). */
  def d56QuarantineExpand(spark: SparkSession, dir: String): DataFrame = {
    val direct = TextOps.sharedContamination(spark, dir).select(col("doc_id"))
    val labels = sharedClusters(spark, dir)
    val hitClusters = labels
      .join(direct, labels("node") === direct("doc_id"))
      .select(col("lab")).distinct()
    val viaCluster = labels.join(hitClusters, "lab")
      .select(col("node").as("doc_id"))
    direct.withColumn("reason", lit("direct"))
      .unionByName(viaCluster.withColumn("reason", lit("cluster")))
      .groupBy(col("doc_id"))
      .agg(max(col("reason")).as("reason"))
      .orderBy(col("doc_id"))
  }

  val d56Sql: String = ccSqlPrefix +
    """,
      |shu AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
      |ev AS (SELECT doc_id AS eval_id, shingle FROM shu WHERE doc_id % 97 = 0),
      |corp AS (SELECT doc_id, shingle FROM shu WHERE doc_id % 97 <> 0),
      |direct AS (SELECT DISTINCT c.doc_id FROM corp c JOIN ev e USING (shingle)),
      |hitc AS (SELECT DISTINCT cluster_id FROM labs JOIN direct USING (doc_id)),
      |via AS (SELECT doc_id FROM labs WHERE cluster_id IN (SELECT cluster_id FROM hitc)),
      |u AS (
      |  SELECT doc_id, 'direct' AS reason FROM direct
      |  UNION ALL
      |  SELECT doc_id, 'cluster' AS reason FROM via)
      |SELECT doc_id, max(reason) AS reason
      |FROM u GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Sliding-window gram width for d57 (matches ChunkWords so the two
    * span grains are comparable). */
  val SpanGram = 10

  /** d57: exact repeated-SPAN detection — the overlapping-window
    * refinement of d23's fixed-chunk profile, after the exact-substring
    * dedup of Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better", arXiv:2107.06499; their suffix-array span
    * finder re-expressed relationally): every OVERLAPPING 10-token
    * window that occurs verbatim anywhere else in the corpus marks its
    * positions; overlapping/adjacent marked windows merge into maximal
    * repeated spans (what a span-cutting dedup pass would actually
    * excise). d23 cannot see a duplicated span that straddles its fixed
    * chunk boundary; d57 can. Per doc: span count, covered tokens,
    * integer-bp coverage — docs with no repeated span have no row.
    *
    * Shape: the gram stream (scan + explode) feeds a gram-keyed
    * groupBy reduced map-side, and the ≥2 KEYS semi-join back against
    * the stream. The semi-join re-derives the explode (Catalyst does
    * not CSE self-joins) — accepted deliberately: the explode is
    * map-only and scales linearly, while the previous gram-partitioned
    * count window pinned a mega-repeated boilerplate gram onto ONE
    * window partition that AQE cannot split; the join form is
    * AQE-skew-splittable (r7 verdict watch item). Islands via ONE
    * doc-keyed ordered window (lag-gap break + running sum — fixed
    * width makes interval union a gap test: spans merge iff
    * pos − prev ≤ width); then the per-doc reduce rides the same
    * doc partitioning. All integer. */
  def d57RepeatedSpans(spark: SparkSession, dir: String): DataFrame = {
    val t = TextOps.tokens(col("text"))
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"), size(t).as("n_tok"),
        explode(when(size(t) >= SpanGram,
          transform(sequence(lit(1), size(t) - (SpanGram - 1)),
            i => struct(i.as("pos"), concat_ws(" ", slice(t, i, lit(SpanGram))).as("gram"))))
          .otherwise(array().cast("array<struct<pos:int,gram:string>>"))).as("g"))
      // hash the gram BEFORE the corpus-frequency shuffle: the window
      // partitions on this key, and 8-byte longs beat ~30-byte strings
      // through the exchange (d8/d55 discipline, counts unchanged)
      .select(col("doc_id"), col("n_tok"), col("g.pos").as("pos"),
        xxhash64(col("g.gram")).as("gram"))
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val wdRun = wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // corpus multiplicity via reduce + semi-join-back, NOT a
    // gram-partitioned count window: a mega-repeated boilerplate gram
    // is a hot window partition AQE cannot split, whereas the groupBy
    // takes map-side partials and the semi-join is AQE-skew-splittable
    // (r7 verdict watch item). Only the >= 2 KEYS survive the reduce.
    val repeated = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .select(col("gram"))
    grams
      .join(repeated, Seq("gram"), "left_semi")
      .withColumn("brk",
        when(lag(col("pos"), 1).over(wd).isNull ||
          col("pos") - lag(col("pos"), 1).over(wd) > SpanGram, 1).otherwise(0))
      .withColumn("island", sum(col("brk")).over(wdRun))
      .groupBy(col("doc_id"), col("n_tok"), col("island"))
      .agg(min(col("pos")).as("s"), max(col("pos")).as("e"))
      .groupBy(col("doc_id"), col("n_tok"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + lit(SpanGram)).as("covered_tok"))
      .select(col("doc_id"), col("n_spans"), col("covered_tok"), col("n_tok"),
        expr("(covered_tok * 10000) div n_tok").as("covered_bp"))
      .orderBy(col("doc_id"))
  }

  val d57Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tok,
       |    unnest(list_transform(range(1, len(toks) - ${SpanGram - 2}),
       |      i -> {'pos': i, 'gram': array_to_string(toks[i:i+${SpanGram - 1}], ' ')})) AS gs
       |  FROM t WHERE len(toks) >= $SpanGram),
       |p AS (SELECT doc_id, n_tok, gs.pos AS pos, gs.gram AS gram FROM g),
       |r AS (SELECT *, count(*) OVER (PARTITION BY gram) AS cnt FROM p),
       |f AS (SELECT doc_id, n_tok, pos FROM r WHERE cnt >= 2),
       |i AS (
       |  SELECT *, CASE WHEN lag(pos) OVER w IS NULL
       |      OR pos - lag(pos) OVER w > $SpanGram THEN 1 ELSE 0 END AS brk
       |  FROM f WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |isl AS (
       |  SELECT *, CAST(sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
       |  FROM i),
       |sp AS (
       |  SELECT doc_id, n_tok, island, min(pos) AS s, max(pos) AS e
       |  FROM isl GROUP BY 1, 2, 3)
       |SELECT doc_id, count(*) AS n_spans,
       |  CAST(sum(e - s + $SpanGram) AS BIGINT) AS covered_tok, n_tok,
       |  (CAST(sum(e - s + $SpanGram) AS BIGINT) * 10000) // n_tok AS covered_bp
       |FROM sp GROUP BY doc_id, n_tok ORDER BY doc_id""".stripMargin

  /** Curriculum phases for d58. */
  val CurriculumPhases = 4

  /** d58: length-curriculum phase assignment — the schedule-construction
    * step of length-based curriculum learning (the standard cheap
    * difficulty proxy: train short-and-easy before long-and-hard;
    * Bengio et al. 2009's curriculum framing, arXiv-era practice for
    * LLM pretraining): within each SOURCE, docs sort by (token count,
    * doc_id) and split into `CurriculumPhases` equal ntile phases.
    * Per-source stratification keeps every phase's mixture composition
    * equal to d21's weights — a global sort would let one verbose
    * source dominate late phases. All integer, deterministic.
    *
    * Shape: ONE scan; the only exchange is the per-source window sort
    * (the d22/d49 adjudicated shape — sources parallelize, never a
    * global ordered window). ntile's rank arithmetic is engine-portable
    * given the total (n_tokens, doc_id) order. */
  def d58CurriculumPhases(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_tokens"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).as("n_tokens"))
      .withColumn("phase", ntile(CurriculumPhases).over(w))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("phase"))
      .orderBy(col("doc_id"))
  }

  val d58Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INTEGER) AS n_tokens
       |  FROM documents)
       |SELECT doc_id, source, n_tokens,
       |  CAST(ntile($CurriculumPhases) OVER (PARTITION BY source
       |    ORDER BY n_tokens, doc_id) AS INTEGER) AS phase
       |FROM d ORDER BY doc_id""".stripMargin

  /** d66: per-source length-outlier audit — Tukey fences on token
    * counts (the robust truncation/garbage detector: a source whose
    * docs fall outside [q1 − 1.5·IQR, q3 + 1.5·IQR] has scraper
    * failures or concatenation bugs; d37 profiles the distribution,
    * this flags its tails). Everything integer and division-free: the
    * exact discrete quartiles come from crossing-pattern WINDOW
    * aggregates over the reduced (source, n_tok) frame — `min(case
    * when 4·cum ≥ total)` evaluates over the whole source partition,
    * so the fences attach to every row WITHOUT a self-join (the c21
    * lesson: joining a frame to its own aggregate re-evaluates the
    * lineage) — and the fence tests cross-multiply by 2 to absorb the
    * 1.5 factor.
    *
    * Shape: one scan → (source, n_tok) reduce → per-source windows
    * over the reduced frame → per-source reduce. */
  def d66LengthOutliers(spark: SparkSession, dir: String): DataFrame = {
    val byLen = graft.Tables.documents(spark, dir)
      .select(col("source"), size(TextOps.tokens(col("text"))).as("n_tok"))
      .groupBy(col("source"), col("n_tok")).agg(count(lit(1)).as("n"))
    val wCum = Window.partitionBy(col("source")).orderBy(col("n_tok"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("source"))
    byLen
      .withColumn("cum", sum(col("n")).over(wCum))
      .withColumn("total", sum(col("n")).over(wAll))
      .withColumn("q1", min(when(col("cum") * 4 >= col("total"), col("n_tok"))).over(wAll))
      .withColumn("q3", min(when(col("cum") * 4 >= col("total") * 3, col("n_tok"))).over(wAll))
      .groupBy(col("source"))
      .agg(max(col("total")).as("n_docs"),
        max(col("q1")).cast("long").as("q1_tok"),
        max(col("q3")).cast("long").as("q3_tok"),
        sum(when(col("n_tok") * 2 < col("q1") * 2 - (col("q3") - col("q1")) * 3, col("n"))
          .otherwise(0L)).as("n_low"),
        sum(when(col("n_tok") * 2 > col("q3") * 2 + (col("q3") - col("q1")) * 3, col("n"))
          .otherwise(0L)).as("n_high"))
      .select(col("source"), col("n_docs"), col("q1_tok"), col("q3_tok"),
        col("n_low"), col("n_high"),
        expr("((n_low + n_high) * 10000) div n_docs").as("outlier_bp"))
      .orderBy(col("source"))
  }

  val d66Sql: String =
    """WITH d AS (
      |  SELECT source,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INTEGER) AS n_tok
      |  FROM documents),
      |v AS (SELECT source, n_tok, count(*) AS n FROM d GROUP BY 1, 2),
      |r AS (
      |  SELECT *,
      |    CAST(sum(n) OVER (PARTITION BY source ORDER BY n_tok
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
      |    CAST(sum(n) OVER (PARTITION BY source) AS BIGINT) AS total
      |  FROM v),
      |q AS (
      |  SELECT *,
      |    min(CASE WHEN cum * 4 >= total THEN n_tok END)
      |      OVER (PARTITION BY source) AS q1,
      |    min(CASE WHEN cum * 4 >= total * 3 THEN n_tok END)
      |      OVER (PARTITION BY source) AS q3
      |  FROM r),
      |a AS (
      |  SELECT source, max(total) AS n_docs,
      |    CAST(max(q1) AS BIGINT) AS q1_tok, CAST(max(q3) AS BIGINT) AS q3_tok,
      |    CAST(sum(CASE WHEN n_tok * 2 < q1 * 2 - (q3 - q1) * 3 THEN n ELSE 0 END) AS BIGINT) AS n_low,
      |    CAST(sum(CASE WHEN n_tok * 2 > q3 * 2 + (q3 - q1) * 3 THEN n ELSE 0 END) AS BIGINT) AS n_high
      |  FROM q GROUP BY source)
      |SELECT source, n_docs, q1_tok, q3_tok, n_low, n_high,
      |  ((n_low + n_high) * 10000) // n_docs AS outlier_bp
      |FROM a ORDER BY source""".stripMargin

  /** Global token budget for d73's curated selection (production sets
    * this to the mixture's target token count; 800/source exercises
    * partial-source truncation at test SF — the d49 calibration). */
  val AffinityBudget = 800L

  /** d73: affinity-ranked curation — the EXECUTION step closing d54's
    * DSIR story (d54 scores target-domain affinity; a data-selection
    * run must then pick the docs): per source, the greedy
    * highest-affinity prefix until [[AffinityBudget]] tokens, ties at
    * equal affinity broken by the d49 salted hash (unbiased and
    * reproducible within an affinity level, never doc-id-ordered —
    * id order correlates with crawl order). Per-source stratification
    * keeps d21's mixture composition (a global rank would let the
    * target source swallow the budget). The output manifest carries
    * the running token count — exactly what a downstream packer (d24)
    * consumes.
    *
    * Shape: d54's scoring pipeline (2 reduced corpus scans) + ONE
    * per-source window sort over the ≤#docs scored frame (d49's
    * shape) — the selection adds no corpus-grain exchange beyond the
    * sort, and the sort key is 4 integers. */
  def d73AffinityCuration(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("affinity_bp").desc, col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d54DomainAffinity(spark, dir)
      .withColumn("h", md5(concat(lit("graft-affinity:"), col("doc_id").cast("string"))))
      .withColumn("cum_tok", sum(col("n_tok")).over(w))
      .filter(col("cum_tok") <= AffinityBudget)
      .select(col("doc_id"), col("source"), col("n_tok"), col("affinity_bp"),
        col("cum_tok"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB replay: d54's full scoring SQL verbatim + the d49 cum
    * window (the d15 composition idiom). */
  val d73Sql: String =
    s"""WITH scored AS (SELECT * FROM ($d54Sql)),
       |h AS (
       |  SELECT *, md5(concat('graft-affinity:', CAST(doc_id AS VARCHAR))) AS hh
       |  FROM scored),
       |c AS (
       |  SELECT doc_id, source, n_tok, affinity_bp,
       |    CAST(sum(n_tok) OVER (PARTITION BY source
       |      ORDER BY affinity_bp DESC, hh, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok
       |  FROM h)
       |SELECT doc_id, source, n_tok, affinity_bp, cum_tok
       |FROM c WHERE cum_tok <= $AffinityBudget ORDER BY doc_id""".stripMargin

  /** d89: duplicated-n-gram coverage per source — the memorization-risk
    * dashboard from the dedup literature (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL 2022: token spans
    * repeated across documents are what models memorize): per source,
    * the share of 3-gram occurrences whose gram also appears in ≥ 2
    * DISTINCT documents corpus-wide, plus the distinct duplicated gram
    * vocabulary the source touches. d57 surfaces the hot spans
    * themselves; this is the per-source exposure rollup a curation run
    * tracks before/after dedup (d29's dashboard sibling at gram grain).
    *
    * Shape — the adjudicated d57 budget: TWO map-only explode scans
    * (grams inline via transform+slice, keys pre-hashed to 8-byte
    * longs for the exchanges — the d8/d55 discipline; counts are
    * hash-collision-exact at 2⁻⁶⁴). Scan A reduces (gram, doc) →
    * gram doc-frequency with map-side partials (never a gram-
    * partitioned window — a boilerplate gram would pin one partition,
    * the d57 lesson) and keeps only the ≥2-doc KEYS; scan B reduces to
    * the (source, gram) occurrence frame; the flag join runs between
    * the two REDUCED frames, g-keyed and AQE-skew-splittable. On the
    * joined frame each (source, gram) row is unique, so the duplicated
    * vocabulary count is a plain conditional sum — no count_distinct. */
  def d89DupNgramCoverage(spark: SparkSession, dir: String): DataFrame = {
    val t = TextOps.tokens(col("text"))
    def grams = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        explode(when(size(t) >= 3,
          transform(sequence(lit(1), size(t) - 2),
            i => concat_ws(" ", slice(t, i, lit(3)))))
          .otherwise(array().cast("array<string>"))).as("gram"))
      .select(col("doc_id"), col("source"), xxhash64(col("gram")).as("g"))
    val dup = grams.groupBy(col("g"), col("doc_id")).agg(count(lit(1)).as("c"))
      .groupBy(col("g")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("g"), lit(true).as("is_dup"))
    grams.groupBy(col("source"), col("g")).agg(count(lit(1)).as("c"))
      .join(dup, Seq("g"), "left")
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_gram_occ"),
        sum(when(col("is_dup"), col("c")).otherwise(0L)).as("n_dup_occ"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_types"))
      .select(col("source"), col("n_gram_occ"), col("n_dup_occ"),
        expr("(n_dup_occ * 10000) div greatest(1, n_gram_occ)").as("dup_bp"),
        col("n_dup_types"))
      .orderBy(col("source"))
  }

  val d89Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS t
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, source,
      |    unnest(list_transform(range(1, len(t) - 1),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
      |  FROM toks WHERE len(t) >= 3),
      |dup AS (
      |  SELECT gram FROM (SELECT gram, doc_id FROM g GROUP BY 1, 2)
      |  GROUP BY gram HAVING count(*) >= 2),
      |occ AS (SELECT source, gram, count(*) AS c FROM g GROUP BY 1, 2),
      |j AS (
      |  SELECT o.source, o.c, d.gram IS NOT NULL AS is_dup
      |  FROM occ o LEFT JOIN dup d ON o.gram = d.gram),
      |s AS (
      |  SELECT source, CAST(sum(c) AS BIGINT) AS n_gram_occ,
      |    CAST(sum(CASE WHEN is_dup THEN c ELSE 0 END) AS BIGINT) AS n_dup_occ,
      |    CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_types
      |  FROM j GROUP BY 1)
      |SELECT source, n_gram_occ, n_dup_occ,
      |  CAST((n_dup_occ * 10000) // greatest(1, n_gram_occ) AS BIGINT) AS dup_bp,
      |  n_dup_types
      |FROM s ORDER BY source""".stripMargin

  /** d90: Good–Turing missing mass per source (Good 1953; the simple
    * Gale & Sampson 1995 estimator) — the "how much of this source's
    * distribution have we NOT seen yet" readout that tells a crawl
    * scheduler which sources still pay to fetch: the probability the
    * next token drawn from a source is a NEVER-SEEN type is estimated
    * by its singleton share N₁/N. Per source: token mass N, vocabulary
    * V, singletons N₁, missing mass (ppm), its complement coverage,
    * and the singleton share of the vocabulary (a fat-tail indicator —
    * d52 slices the same tail globally by frequency; this prices it
    * per-source as an actionable crawl signal).
    *
    * Exact integer ppm/bp throughout (truncating div both engines).
    *
    * Shape: one corpus scan → token explode → (source, token) count
    * (map-side partial) → per-source conditional agg. The output is
    * ≤|sources| rows; nothing wider than the (source, token) reduce
    * ever shuffles. */
  def d90MissingMass(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("freq"))
    tf.groupBy(col("source"))
      .agg(sum(col("freq")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        countIf(col("freq") === 1L).as("n_singletons"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("n_singletons"),
        expr("(n_singletons * 1000000) div n_tokens").as("missing_mass_ppm"),
        expr("1000000 - (n_singletons * 1000000) div n_tokens").as("coverage_ppm"),
        expr("(n_singletons * 10000) div n_types").as("singleton_vocab_bp"))
      .orderBy(col("source"))
  }

  val d90Sql: String =
    """WITH occ AS (
      |  SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      |  FROM documents),
      |tf AS (SELECT source, tok, count(*) AS freq FROM occ GROUP BY 1, 2),
      |s AS (
      |  SELECT source, sum(freq) AS n_tokens, count(*) AS n_types,
      |    count(CASE WHEN freq = 1 THEN 1 END) AS n_singletons
      |  FROM tf GROUP BY 1)
      |SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens, n_types,
      |  CAST(n_singletons AS BIGINT) AS n_singletons,
      |  CAST((n_singletons * 1000000) // n_tokens AS BIGINT) AS missing_mass_ppm,
      |  CAST(1000000 - (n_singletons * 1000000) // n_tokens AS BIGINT) AS coverage_ppm,
      |  CAST((n_singletons * 10000) // n_types AS BIGINT) AS singleton_vocab_bp
      |FROM s ORDER BY source""".stripMargin

  /** Minimum chunk length for d91: a gear boundary closer than this
    * to the previous cut is skipped (FastCDC's min clamp — it thins
    * boundary density and bounds per-chunk overhead at 100 TB). */
  val CdcMinChunk = 16L

  /** Maximum chunk length for d91: a cut is FORCED every this many
    * chars when the gear rule stays silent (FastCDC's max clamp — it
    * bounds worst-case chunk size on low-entropy runs). */
  val CdcMaxChunk = 256L

  /** d91: content-defined chunking (CDC) dedup profile per source —
    * the rolling-boundary chunking of LBFS (Muthitacharoen et al.
    * SOSP 2001) / FastCDC (Xia et al. ATC 2016) that storage and
    * corpus dedup both use because FIXED chunks (d23) break at every
    * insertion: a gear boundary falls after char i iff the fingerprint
    * of the trailing 4-gram lands in 1/64 of hash space (substr(md5,
    * 1,2) < '04' — md5 so the oracle replays the SAME boundaries, the
    * d4 discipline), so an edit only redraws the chunks it touches.
    * FastCDC's clamps are applied greedily over the sorted candidate
    * list: a candidate closer than CdcMinChunk to the last cut is
    * skipped, and a cut is forced every CdcMaxChunk chars when no
    * candidate lands (the final remainder chunk is exempt from the
    * min clamp, as in FastCDC). Per source: chunk count, distinct
    * chunks, duplicated-chunk share (bp), mean chunk length
    * (milli-chars). Empty docs carry no chunks (the d83 corpus
    * assumption: n_chars > 0 throughout).
    *
    * Shape (the d2/§8 restructure — the round-9 form evaluated an
    * INTERPRETED filter lambda with an md5 per character, 77 s at
    * sf0.1): the per-char gear test now runs as a codegen'd
    * Generate(explode position spine) → Filter(md5 projection) — the
    * whole hot pass is WholeStageCodegen, asserted by spec. Position
    * len is always a candidate, so every doc survives the filter and
    * the single per-doc reduce (collect_list of surviving positions +
    * the text once) needs no join-back second scan. The clamp fold,
    * ends array, and chunk hashing are row-local HOFs over the
    * BOUNDED candidate array (~len/64 elements — interpreted is fine
    * there, the d57 budget). Exchanges: one doc_id reduce (text
    * crosses once), one (source, chunk-hash) distinct reduce.
    * sequence(least(4,len), len) stays ascending for len < 4 (Spark's
    * sequence(4, len) runs DESCENDING when len < 4 — a silent
    * wrong-boundary bug, not an error). */
  def d91CdcChunks(spark: SparkSession, dir: String): DataFrame = {
    val mn = CdcMinChunk
    val mx = CdcMaxChunk
    val perDoc = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"),
        length(col("text")).cast("long").as("len"))
      .filter(col("len") > 0)
      .select(col("doc_id"), col("source"), col("text"), col("len"),
        explode(expr("sequence(least(4L, len), len)")).as("i"))
      .filter(expr(
        """i = len or (i >= 4 and
             substring(md5(substring(text, cast(i - 3 as int), 4)), 1, 2) < '04')"""))
      .groupBy(col("doc_id"))
      .agg(first(col("source")).as("source"), first(col("text")).as("text"),
        first(col("len")).as("len"),
        sort_array(collect_list(col("i"))).as("cand"))
    // Greedy clamp fold over the candidate array: acc starts [0] (the
    // virtual cut before char 1); per candidate c, force cuts every
    // CdcMaxChunk until c is in range, then accept c iff >= CdcMinChunk
    // past the last cut. len is always the final candidate, so after
    // the fold the only possible tail is the min-exempt remainder.
    val chunks = perDoc
      .withColumn("cuts", expr(
        s"""aggregate(cand, array(0L), (acc, c) -> concat(
              acc,
              if(c - element_at(acc, -1) > ${mx}L,
                 sequence(element_at(acc, -1) + ${mx}L,
                   element_at(acc, -1)
                     + ((c - element_at(acc, -1) - 1L) div ${mx}L) * ${mx}L,
                   ${mx}L),
                 cast(array() as array<bigint>)),
              if(c - element_at(acc, -1)
                   - (if(c - element_at(acc, -1) > ${mx}L,
                         ((c - element_at(acc, -1) - 1L) div ${mx}L) * ${mx}L,
                         0L)) >= ${mn}L,
                 array(c), cast(array() as array<bigint>))))"""))
      .withColumn("ends", expr(
        """case when element_at(cuts, -1) = len then slice(cuts, 2, size(cuts) - 1)
                else concat(slice(cuts, 2, size(cuts) - 1), array(len)) end"""))
      .withColumn("ch", expr(
        """transform(ends, (e, i) -> named_struct(
             'h', md5(substring(text, cast(if(i = 0, 0L, element_at(ends, i)) + 1 as int),
                      cast(e - if(i = 0, 0L, element_at(ends, i)) as int))),
             'clen', e - if(i = 0, 0L, element_at(ends, i))))"""))
    chunks
      .select(col("source"), explode(col("ch")).as("c"))
      .select(col("source"), col("c.h").as("h"), col("c.clen").as("clen"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("h")).as("n_uniq"),
        sum(col("clen")).as("total_len"))
      .select(col("source"), col("n_chunks"), col("n_uniq"),
        expr("((n_chunks - n_uniq) * 10000) div n_chunks").as("dup_bp"),
        expr("(total_len * 1000) div n_chunks").as("avg_len_milli"))
      .orderBy(col("source"))
  }

  val d91Sql: String =
    """WITH d AS (
      |  SELECT doc_id, source, text, CAST(length(text) AS BIGINT) AS len
      |  FROM documents WHERE length(text) > 0),
      |c AS (
      |  SELECT doc_id, source, text, len,
      |    list_sort(list_filter(CAST(generate_series(least(4, len), len) AS BIGINT[]),
      |      i -> i = len OR (i >= 4 AND
      |        substr(md5(substring(text, CAST(i - 3 AS INT), 4)), 1, 2) < '04'))) AS cand
      |  FROM d),
      |f AS (
      |  SELECT doc_id, source, text, len,
      |    list_reduce(list_concat([[CAST(0 AS BIGINT)]], list_transform(cand, c -> [c])),
      |      (acc, x) -> list_concat(list_concat(acc,
      |        CASE WHEN x[1] - acc[-1] > 256 THEN
      |          CAST(generate_series(acc[-1] + 256,
      |            acc[-1] + ((x[1] - acc[-1] - 1) // 256) * 256, 256) AS BIGINT[])
      |        ELSE CAST([] AS BIGINT[]) END),
      |        CASE WHEN x[1] - acc[-1] -
      |          (CASE WHEN x[1] - acc[-1] > 256 THEN ((x[1] - acc[-1] - 1) // 256) * 256
      |           ELSE 0 END) >= 16
      |        THEN [x[1]] ELSE CAST([] AS BIGINT[]) END)) AS cuts
      |  FROM c),
      |e AS (
      |  SELECT doc_id, source, text, len,
      |    CASE WHEN cuts[-1] = len THEN cuts[2:]
      |         ELSE list_append(cuts[2:], len) END AS ends
      |  FROM f),
      |u AS (
      |  SELECT source, text, ends, unnest(ends) AS en, generate_subscripts(ends, 1) AS i
      |  FROM e),
      |ch AS (
      |  SELECT source,
      |    md5(substring(text, CAST(coalesce(ends[i-1], 0) + 1 AS INT),
      |      CAST(en - coalesce(ends[i-1], 0) AS INT))) AS h,
      |    en - coalesce(ends[i-1], 0) AS clen
      |  FROM u)
      |SELECT source, count(*) AS n_chunks, count(DISTINCT h) AS n_uniq,
      |  CAST(((count(*) - count(DISTINCT h)) * 10000) // count(*) AS BIGINT) AS dup_bp,
      |  CAST((sum(clen) * 1000) // count(*) AS BIGINT) AS avg_len_milli
      |FROM ch GROUP BY 1 ORDER BY source""".stripMargin

  def d101NgramCardinality(spark: SparkSession, dir: String): DataFrame =
    d101NgramCardinalityOf(Tables.documents(spark, dir))

  /** d101: n-gram cardinality sketch AUDIT — the calibration run for
    * the vocabulary-scale question ("how many distinct 3-grams does
    * each source contribute?") whose exact answer is a corpus-wide
    * DISTINCT that gets expensive precisely when it matters (d26/d52
    * pay it exactly; at 100 TB you want the [[graft.functions.KmvAgg]]
    * sketch instead — this operator proves, per source, how far the
    * sketch lands from truth). Per source: exact distinct-gram count
    * (the audit baseline, computed in the SAME aggregate — one scan,
    * one exchange), the KMV estimate (k=256, the c50 machinery on a
    * key that genuinely does NOT reduce), and the error in bp.
    * Production runs the sketch alone; this audit is the evidence the
    * estimate deserves trust.
    *
    * Determinism: the d22 md5-prefix hash (60-bit) makes the sketch —
    * and therefore the ESTIMATE — bit-replayable in DuckDB; exact and
    * estimate compare in integral arithmetic (DECIMAL(38) div; the
    * (k−1)·2⁶⁰ numerator overflows Long).
    *
    * Shape: ONE scan → per-doc distinct shingle explode (the d20
    * form) → md5-prefix hash projection → ONE groupBy(source)
    * computing kmv_sketch and count_distinct together → row-local
    * estimate math on ≤|sources| rows. */
  def d101NgramCardinalityOf(docs: DataFrame): DataFrame = {
    val k = 256
    val H = 1152921504606846976L // 2^60
    val t = TextOps.tokens(col("text"))
    docs
      .filter(size(t) >= 3)
      .select(col("source"), explode(TextOps.shingles(t)).as("shingle"))
      .select(col("source"),
        expr("cast(conv(substring(md5(shingle), 1, 15), 16, 10) as bigint)").as("h"))
      .groupBy(col("source"))
      .agg(expr(s"kmv_sketch(h, $k)").as("sk"),
        count_distinct(col("h")).as("exact_grams"))
      .select(col("source"), col("exact_grams"),
        when(size(col("sk")) < k, size(col("sk")).cast("long"))
          .otherwise(expr(s"(cast(${k - 1} as decimal(38,0)) * $H) " +
            "div element_at(sk, size(sk))")).as("est_grams"))
      .withColumn("err_bp", expr("(abs(est_grams - exact_grams) * 10000) div exact_grams"))
      .orderBy(col("source"))
  }

  val d101Sql: String = {
    val pow16 = (0 until 15).map(i => math.pow(16, 14 - i).toLong)
    val digit = pow16.zipWithIndex.map { case (p, i) =>
      s"CAST(strpos('0123456789abcdef', m[${i + 1}]) - 1 AS BIGINT) * $p"
    }.mkString(" + ")
    s"""WITH toks AS (
       |  SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS t
       |  FROM documents),
       |sh AS (
       |  SELECT source, unnest(list_distinct(list_transform(range(1, len(t) - 1),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
       |  FROM toks WHERE len(t) >= 3),
       |hx AS (
       |  SELECT source, ($digit) AS h
       |  FROM (SELECT source, md5(shingle) AS m FROM sh)),
       |e AS (SELECT source, count(DISTINCT h) AS exact_grams FROM hx GROUP BY 1),
       |r AS (
       |  SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       |  FROM (SELECT DISTINCT source, h FROM hx)),
       |sk AS (SELECT source, h FROM r WHERE rn <= 256),
       |est AS (
       |  SELECT source,
       |    CAST(CASE WHEN count(*) < 256 THEN count(*)
       |      ELSE (CAST(255 AS HUGEINT) * 1152921504606846976) // max(h) END AS BIGINT)
       |      AS est_grams
       |  FROM sk GROUP BY 1)
       |SELECT e.source AS source, CAST(exact_grams AS BIGINT) AS exact_grams, est_grams,
       |  CAST((abs(est_grams - exact_grams) * 10000) // exact_grams AS BIGINT) AS err_bp
       |FROM e JOIN est ON e.source = est.source
       |ORDER BY e.source""".stripMargin
  }

  /** d103: near-dup cluster size profile — the dedup-paper figure
    * (Lee et al. 2022 fig. 2 class) a curation owner reads before
    * choosing d50's keep policy: the histogram of d25's cluster
    * sizes, plus the singleton row (docs in NO near-dup cluster —
    * d25's labels cover only graph nodes, so singletons come from the
    * corpus total, the one extra genuine input). Per size: clusters,
    * docs, share of the corpus in exact bp. The shape of this
    * histogram decides policy: a fat head of giant clusters means
    * boilerplate/mirrors (drop whole clusters); a long size-2 tail
    * means fuzzy re-posts (keep-best suffices).
    *
    * Shape: shared d25 labels (session-cached closure) → size reduce
    * → size histogram (≤ distinct-size rows); one corpus scan for the
    * total-docs scalar (1-row broadcast). */
  def d103ClusterProfile(spark: SparkSession, dir: String): DataFrame = {
    val labels = sharedClusters(spark, dir)
    val sizes = labels.groupBy(col("lab")).agg(count(lit(1)).as("cluster_size"))
    val hist = sizes.groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("cluster_size")).as("n_docs"))
    val total = Tables.documents(spark, dir).agg(count(lit(1)).as("total_docs"))
    val withSingletons = hist
      .unionByName(
        hist.agg(sum(col("n_docs")).as("clustered")).crossJoin(total)
          .select(lit(1L).as("cluster_size"),
            (col("total_docs") - coalesce(col("clustered"), lit(0L))).as("n_clusters"),
            (col("total_docs") - coalesce(col("clustered"), lit(0L))).as("n_docs")))
    withSingletons.crossJoin(total)
      .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
        expr("(n_docs * 10000) div total_docs").as("docs_bp"))
      .orderBy(col("cluster_size"))
  }

  val d103Sql: String = ccSqlPrefix +
    """,
      |hist AS (
      |  SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
      |    CAST(sum(cluster_size) AS BIGINT) AS n_docs
      |  FROM sizes GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS total_docs FROM documents),
      |full_hist AS (
      |  SELECT CAST(cluster_size AS BIGINT) AS cluster_size, n_clusters, n_docs FROM hist
      |  UNION ALL
      |  SELECT 1, total_docs - coalesce((SELECT sum(n_docs) FROM hist), 0),
      |    total_docs - coalesce((SELECT sum(n_docs) FROM hist), 0)
      |  FROM tot)
      |SELECT cluster_size, n_clusters, n_docs,
      |  (n_docs * 10000) // (SELECT total_docs FROM tot) AS docs_bp
      |FROM full_hist ORDER BY cluster_size""".stripMargin

  /** Head size and band threshold for d104's Zipf audit. A true Zipf
    * head has rank·freq constant; real web corpora hold it within a
    * small factor over the top ~100 types, while template-flooded or
    * synthetic sources blow the band wide open. 4.0x (40000 bp) is the
    * documented, adjustable gate. */
  val ZipfHead = 100
  val ZipfBandBp = 40000L

  /** d104: Zipf band audit per source — does the frequency head obey
    * rank·freq ≈ C (Zipf 1949)? The standard log-log slope fit needs
    * ln() (banned by the cross-engine determinism rules), but the
    * CONSTANCY of r·f over the head is the same signal in pure integer
    * math: per source, the top-[[ZipfHead]] types by frequency (d34's
    * rank-window precedent; tok tiebreak keeps the order
    * engine-identical), their r·f min/median/max, and the band ratio
    * (max·10⁴ div min) against [[ZipfBandBp]]. A source failing the
    * band is template spam, boilerplate flooding, or machine output —
    * the curation signal d3/d87 quality scores miss because their
    * features are per-document, not distributional.
    *
    * Shape: ONE scan → (source, tok) map-side reduce (vocab-grain,
    * sublinear in corpus by Heaps' law) → per-source rank window →
    * head filter (≤ [[ZipfHead]]·|sources| rows) → median/extremes as
    * WINDOW columns on the same lineage before the final 1-row-per-
    * source aggregate (an agg+join-back would re-derive the corpus
    * lineage — the c49 trap). */
  def d104ZipfBand(spark: SparkSession, dir: String): DataFrame =
    d104ZipfBandOf(Tables.documents(spark, dir))

  def d104ZipfBandOf(documents: DataFrame): DataFrame = {
    val tf = documents
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("freq"))
    val wSrc = Window.partitionBy(col("source"))
    val head = tf
      .withColumn("rank", row_number().over(
        wSrc.orderBy(col("freq").desc, col("tok"))))
      .filter(col("rank") <= ZipfHead)
      .withColumn("rf", col("rank") * col("freq"))
      .withColumn("rn", row_number().over(wSrc.orderBy(col("rf"), col("rank"))))
      .withColumn("n_head", count(lit(1)).over(wSrc))
    head.groupBy(col("source"))
      .agg(max(col("n_head")).as("n_head"),
        min(col("rf")).as("rf_min"),
        max(when(col("rn") === ceil(col("n_head") / 2.0), col("rf"))).as("rf_med"),
        max(col("rf")).as("rf_max"))
      .select(col("source"), col("n_head"), col("rf_min"), col("rf_med"), col("rf_max"),
        expr("(rf_max * 10000) div rf_min").as("band_bp"),
        when(expr("(rf_max * 10000) div rf_min") <= ZipfBandBp, lit("zipfian"))
          .otherwise(lit("non_zipfian")).as("verdict"))
      .orderBy(col("source"))
  }

  val d104Sql: String =
    s"""WITH tf AS (
       |  SELECT source, tok, count(*) AS freq
       |  FROM (SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
       |        FROM documents)
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT source, freq,
       |    row_number() OVER (PARTITION BY source ORDER BY freq DESC, tok) AS rank
       |  FROM tf),
       |head AS (
       |  SELECT source, rank, CAST(rank * freq AS BIGINT) AS rf
       |  FROM ranked WHERE rank <= $ZipfHead),
       |scored AS (
       |  SELECT source, rf,
       |    row_number() OVER (PARTITION BY source ORDER BY rf, rank) AS rn,
       |    count(*) OVER (PARTITION BY source) AS n_head
       |  FROM head),
       |agg AS (
       |  SELECT source, CAST(max(n_head) AS BIGINT) AS n_head,
       |    min(rf) AS rf_min,
       |    max(CASE WHEN rn = CAST(ceil(n_head / 2.0) AS BIGINT) THEN rf END) AS rf_med,
       |    max(rf) AS rf_max
       |  FROM scored GROUP BY 1)
       |SELECT source, n_head, rf_min, rf_med, rf_max,
       |  (rf_max * 10000) // rf_min AS band_bp,
       |  CASE WHEN (rf_max * 10000) // rf_min <= $ZipfBandBp
       |       THEN 'zipfian' ELSE 'non_zipfian' END AS verdict
       |FROM agg ORDER BY source""".stripMargin

  /** d106 repetitiveness gate: a doc whose distinct-bigram ratio falls
    * below this is "repetitive" (the compression-ratio filter class —
    * CCNet/RefinedWeb drop highly compressible text; distinct-bigram
    * share is the log-free exact proxy for compressibility). */
  val RepetitiveBp = 6000L

  def d106Compressibility(spark: SparkSession, dir: String): DataFrame =
    d106CompressibilityOf(Tables.documents(spark, dir))

  /** d106: bigram-compressibility profile per source — the curation
    * signal behind "drop text a compressor crushes" without shipping a
    * compressor into the plan OR an oracle-hostile codec: a document's
    * distinct-bigram share (types·10⁴ div occurrences) is monotone in
    * its repetition structure — template spam and token loops score
    * low, natural prose high. d19 flags single-doc repetition by max
    * n-gram count; this gives the SOURCE-grain distribution a mixture
    * designer reads: per source, scored docs (≥ 2 tokens), the exact
    * MEDIAN ratio, repetitive docs below [[RepetitiveBp]] and their
    * share.
    *
    * Exact median at corpus scale: ratio_bp lives in [0, 10000], so
    * the per-source median compresses to the VALUE-GRAIN histogram
    * (the q70 trick — never a corpus-grain rank): cum windows over
    * ≤10001 rows per source.
    *
    * Shape: ONE scan → bigram explode (d89's transform+sequence
    * codegen shape) → (doc, gram) reduce → doc-grain ratio →
    * (source, ratio) histogram → cum windows → per-source reduce.
    * Single lineage, gram-tier cost (adjudicated d89/d57 class). */
  def d106CompressibilityOf(documents: DataFrame): DataFrame = {
    val t = TextOps.tokens(col("text"))
    val grams = documents
      .select(col("doc_id"), col("source"),
        explode(when(size(t) >= 2,
          transform(sequence(lit(1), size(t) - 1),
            i => concat_ws(" ", slice(t, i, lit(2)))))
          .otherwise(array().cast("array<string>"))).as("gram"))
      .select(col("doc_id"), col("source"), xxhash64(col("gram")).as("g"))
    val docRatio = grams
      .groupBy(col("doc_id"), col("source"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("c")).as("n_occ"), count(lit(1)).as("n_types"))
      .select(col("source"), expr("(n_types * 10000) div n_occ").as("ratio_bp"))
    val wSrc = Window.partitionBy(col("source"))
    val cells = docRatio
      .groupBy(col("source"), col("ratio_bp")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(
        wSrc.orderBy(col("ratio_bp"))
          .rangeBetween(Window.unboundedPreceding, 0)))
      .withColumn("n_docs", sum(col("cnt")).over(wSrc))
    cells.groupBy(col("source"))
      .agg(max(col("n_docs")).as("n_docs"),
        min(when(col("cum") * 2 >= col("n_docs"), col("ratio_bp"))).as("med_ratio_bp"),
        sum(when(col("ratio_bp") < RepetitiveBp, col("cnt")).otherwise(0L))
          .as("repetitive_docs"))
      .select(col("source"), col("n_docs"), col("med_ratio_bp"),
        col("repetitive_docs"),
        expr("(repetitive_docs * 10000) div n_docs").as("repetitive_bp"))
      .orderBy(col("source"))
  }

  val d106Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS t
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, source,
       |    unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS gram
       |  FROM toks WHERE len(t) >= 2),
       |per AS (
       |  SELECT doc_id, source, count(*) AS c FROM g GROUP BY doc_id, source, gram),
       |doc AS (
       |  SELECT source,
       |    (count(*) * 10000) // CAST(sum(c) AS BIGINT) AS ratio_bp
       |  FROM per GROUP BY doc_id, source),
       |cells AS (
       |  SELECT source, ratio_bp, CAST(count(*) AS BIGINT) AS cnt FROM doc GROUP BY 1, 2),
       |scored AS (
       |  SELECT source, ratio_bp, cnt,
       |    CAST(sum(cnt) OVER (PARTITION BY source ORDER BY ratio_bp
       |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
       |    CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS n_docs
       |  FROM cells)
       |SELECT source, max(n_docs) AS n_docs,
       |  min(CASE WHEN cum * 2 >= n_docs THEN ratio_bp END) AS med_ratio_bp,
       |  CAST(sum(CASE WHEN ratio_bp < $RepetitiveBp THEN cnt ELSE 0 END) AS BIGINT)
       |    AS repetitive_docs,
       |  (CAST(sum(CASE WHEN ratio_bp < $RepetitiveBp THEN cnt ELSE 0 END) AS BIGINT)
       |    * 10000) // max(n_docs) AS repetitive_bp
       |FROM scored GROUP BY source ORDER BY source""".stripMargin

  /** Quartile threshold: docs shorter than this can't split head/tail. */
  val DriftMinTokens = 8

  def d107PositionalDrift(spark: SparkSession, dir: String): DataFrame =
    d107PositionalDriftOf(Tables.documents(spark, dir))

  /** d107: positional vocabulary drift — does a source's OPENING
    * vocabulary differ from its CLOSING vocabulary? Templated corpora
    * (scraped pages with navigation headers, generated docs with
    * fixed preambles/licenses) show high head↔tail drift even when no
    * single literal prefix repeats — the STATISTICAL complement to
    * d64's exact boilerplate prefixes: d64 catches verbatim templates,
    * this catches paraphrased/rotating ones. Per source: unigram
    * distribution of first-quartile positions vs last-quartile, exact
    * total-variation distance in bp, and the single most drifted word
    * with its side (the template's anchor token — what a cleaning rule
    * would target).
    *
    * Determinism: TV is rational — numerator Σ_w |c0·n3 − c3·n0| and
    * denominator n0·n3 are exact integers (DECIMAL(38,0)/HUGEINT), so
    * tv_bp = 5000·num div (n0·n3) is engine-identical; the argmax
    * breaks drift ties lexicographically (total order). Exact while
    * 5000·num < 1e38 (n0·n3 ≤ 1e34 — beyond any corpus).
    *
    * Shape: ONE scan → positional explode filtered to the two
    * quartile bands (map-only — half the corpus tokens never shuffle)
    * → (source, word) reduce → per-source windows on the vocab-
    * bounded frame (d55's window discipline) → argmax row carries the
    * per-source scalars out. */
  def d107PositionalDriftOf(documents: DataFrame): DataFrame = {
    def d38(c: Column): Column = c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val x = documents
      .select(col("source"), TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= DriftMinTokens)
      .select(col("source"), size(col("toks")).cast("long").as("n"),
        posexplode(col("toks")).as(Seq("p", "w")))
      .filter(col("p") * 4 < col("n") || col("p") * 4 >= col("n") * 3)
    val b = x.groupBy(col("source"), col("w"))
      .agg(countIf(col("p") * 4 < col("n")).as("c0"),
        countIf(col("p") * 4 >= col("n") * 3).as("c3"))
    val wS = Window.partitionBy(col("source"))
    b
      .withColumn("n0", sum(col("c0")).over(wS))
      .withColumn("n3", sum(col("c3")).over(wS))
      .withColumn("drift", abs(d38(col("c0")) * col("n3") - d38(col("c3")) * col("n0")))
      .withColumn("num", sum(col("drift")).over(wS))
      .withColumn("head_vocab", sum(when(col("c0") > 0, 1L).otherwise(0L)).over(wS))
      .withColumn("tail_vocab", sum(when(col("c3") > 0, 1L).otherwise(0L)).over(wS))
      .withColumn("rn", row_number().over(wS.orderBy(col("drift").desc, col("w"))))
      .filter(col("rn") === 1)
      .select(col("source"), col("n0").cast("bigint").as("n_head"),
        col("n3").cast("bigint").as("n_tail"),
        col("head_vocab"), col("tail_vocab"),
        expr("cast((num * 5000) div (cast(n0 as decimal(38,0)) * n3) as bigint)")
          .as("tv_bp"),
        col("w").as("top_drift_word"),
        when(d38(col("c0")) * col("n3") >= d38(col("c3")) * col("n0"), lit("head"))
          .otherwise(lit("tail")).as("drift_side"))
      .orderBy(col("source"))
  }

  val d107Sql: String =
    s"""WITH t AS (
       |  SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM documents),
       |x AS (
       |  SELECT source, len(toks) AS n, unnest(toks) AS w,
       |    generate_subscripts(toks, 1) - 1 AS p
       |  FROM t WHERE len(toks) >= $DriftMinTokens),
       |b AS (
       |  SELECT source, w,
       |    CAST(sum(CASE WHEN p * 4 < n THEN 1 ELSE 0 END) AS BIGINT) AS c0,
       |    CAST(sum(CASE WHEN p * 4 >= n * 3 THEN 1 ELSE 0 END) AS BIGINT) AS c3
       |  FROM x WHERE p * 4 < n OR p * 4 >= n * 3 GROUP BY 1, 2),
       |d AS (
       |  SELECT source, w, c0, c3,
       |    sum(c0) OVER (PARTITION BY source) AS n0,
       |    sum(c3) OVER (PARTITION BY source) AS n3
       |  FROM b),
       |s AS (
       |  SELECT source, w, c0, c3, n0, n3,
       |    abs(CAST(c0 AS HUGEINT) * n3 - CAST(c3 AS HUGEINT) * n0) AS drift
       |  FROM d),
       |f AS (
       |  SELECT source, w, c0, c3, n0, n3, drift,
       |    sum(drift) OVER (PARTITION BY source) AS num,
       |    sum(CASE WHEN c0 > 0 THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY source) AS head_vocab,
       |    sum(CASE WHEN c3 > 0 THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY source) AS tail_vocab,
       |    row_number() OVER (PARTITION BY source ORDER BY drift DESC, w) AS rn
       |  FROM s)
       |SELECT source, CAST(n0 AS BIGINT) AS n_head, CAST(n3 AS BIGINT) AS n_tail,
       |  CAST(head_vocab AS BIGINT) AS head_vocab,
       |  CAST(tail_vocab AS BIGINT) AS tail_vocab,
       |  CAST((num * 5000) // (CAST(n0 AS HUGEINT) * n3) AS BIGINT) AS tv_bp,
       |  w AS top_drift_word,
       |  CASE WHEN CAST(c0 AS HUGEINT) * n3 >= CAST(c3 AS HUGEINT) * n0
       |    THEN 'head' ELSE 'tail' END AS drift_side
       |FROM f WHERE rn = 1 ORDER BY source""".stripMargin

  def d108EntropyRate(spark: SparkSession, dir: String): DataFrame =
    d108EntropyRateOf(Tables.documents(spark, dir))

  /** d108: token entropy rate per source — how PREDICTABLE is the
    * next token given the current one? The information-theoretic
    * repetitiveness measure the structural family (d106's distinct-
    * bigram share, d61's burstiness) brackets but doesn't compute:
    * conditional entropy H(w₂|w₁) = H₂ − H₁ in nats, with perplexity
    * exp(H) — the number a data-mixture designer quotes ("source X is
    * ~N-way branching"). Near-zero rate = deterministic templates /
    * loops; rate near ln(vocab) = no sequential structure.
    *
    * Float honesty (a DELIBERATE departure from the gram family's
    * log-free discipline, safe here): entropies need ln, but every
    * aggregated term (c·ln c, c·ln r) is SAME-SIGN, so cross-engine
    * aggregation-order differences cost ≤ ~n·ulp relative — ~1e-12 at
    * corpus scale, three orders under the oracle's 1e-9 float gate.
    * Identities used: H₂ = ln N − Σc·ln c/N (joint), H₁ = ln N −
    * Σc·ln r/N (first-token marginal; r = Σ_w₂ c rides a window, so
    * Σ_rows c·ln r ≡ Σ_w₁ r·ln r — no second reduce), rate = (B−A)/N
    * with B−A = Σ c·ln(r/c) ≥ 0 termwise.
    *
    * Shape: ONE scan → bigram explode (d106's transform+sequence
    * shape, pair pre-hashed to two longs — the d8 shuffle discipline)
    * → (source, w₁, w₂) reduce → marginal window + first-row marker
    * on the gram-bounded frame → per-source 1-row. Gram-tier cost
    * (adjudicated d89/d57/d106 class). */
  def d108EntropyRateOf(documents: DataFrame): DataFrame = {
    val t = TextOps.tokens(col("text"))
    val pairs = documents
      .select(col("source"),
        explode(when(size(t) >= 2,
          transform(sequence(lit(1), size(t) - 1),
            i => struct(element_at(t, i).as("w1"), element_at(t, i + 1).as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("p"))
      .select(col("source"), xxhash64(col("p.w1")).as("h1"),
        xxhash64(col("p.w2")).as("h2"))
    val w1 = Window.partitionBy(col("source"), col("h1"))
    pairs
      .groupBy(col("source"), col("h1"), col("h2"))
      .agg(count(lit(1)).as("c"))
      .withColumn("r", sum(col("c")).over(w1))
      .withColumn("rn", row_number().over(w1.orderBy(col("h2"))))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("bigram_types"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("vocab_first"),
        sum(col("c").cast("double") * log(col("c").cast("double"))).as("a"),
        sum(col("c").cast("double") * log(col("r").cast("double"))).as("b"))
      .select(col("source"), col("n").cast("bigint").as("n_bigrams"),
        col("vocab_first"), col("bigram_types").cast("bigint").as("bigram_types"),
        (log(col("n").cast("double")) - col("b") / col("n")).as("h_unigram"),
        ((col("b") - col("a")) / col("n")).as("h_cond"),
        exp((col("b") - col("a")) / col("n")).as("ppl_cond"))
      .orderBy(col("source"))
  }

  val d108Sql: String =
    """WITH t AS (
      |  SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS t
      |  FROM documents),
      |b AS (
      |  SELECT source,
      |    unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
      |    unnest(list_transform(range(1, len(t)), i -> t[i+1])) AS w2
      |  FROM t WHERE len(t) >= 2),
      |c AS (
      |  SELECT source, w1, w2, CAST(count(*) AS BIGINT) AS c
      |  FROM b GROUP BY 1, 2, 3),
      |r AS (
      |  SELECT source, c,
      |    sum(c) OVER (PARTITION BY source, w1) AS r,
      |    row_number() OVER (PARTITION BY source, w1 ORDER BY w2) AS rn
      |  FROM c)
      |SELECT source, CAST(sum(c) AS BIGINT) AS n_bigrams,
      |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_first,
      |  CAST(count(*) AS BIGINT) AS bigram_types,
      |  ln(CAST(sum(c) AS DOUBLE)) - sum(c * ln(r)) / sum(c) AS h_unigram,
      |  (sum(c * ln(r)) - sum(c * ln(c))) / sum(c) AS h_cond,
      |  exp((sum(c * ln(r)) - sum(c * ln(c))) / sum(c)) AS ppl_cond
      |FROM r GROUP BY source ORDER BY source""".stripMargin

  /** Gap (in doc_id units ≈ ingest order) under which a duplicate
    * pair counts as re-ingest locality rather than a far mirror. */
  val DupLocalityNearGap = 100L

  def d109DupLocality(spark: SparkSession, dir: String): DataFrame =
    d109DupLocalityOf(Tables.documents(spark, dir))

  /** d109: duplicate locality — WHERE do exact duplicates sit
    * relative to each other in ingest order? The dedup family says
    * how many (d5/d29) and who owns the canonical (d39); this says
    * how FAR apart, which is the operational knob: near pairs
    * (gap ≤ 100 ids) are re-crawls/re-fetches a bounded streaming
    * admission window (d42's horizon) would already catch; far pairs
    * are mirrors/plagiarism that only a full-corpus index catches.
    * The median/p90 gap per source IS the sizing input for that
    * window — "p90 = 40" means a 100-id admission buffer dedups 90%
    * of this source's duplication at a fraction of the index cost.
    *
    * Per source (of the LATER copy — the re-ingested one): dup-pair
    * count, exact median and p90 of id gaps (value-grain histogram,
    * never a corpus rank — the q21/d106 discipline), and the near
    * share in bp. Consecutive pairs within a hash group (sorted by
    * doc_id) rather than all pairs, so a k-copy group contributes
    * k−1 gaps — the chain a streaming deduper actually walks.
    *
    * Shape: ONE scan → per-HASH lag window (partition = dup group:
    * tiny, hash-distributed, skew-free unless one text repeats
    * corpus-wide — the d25 cluster-size audit's job to flag) →
    * (source, gap) reduce → per-source cum windows on the bounded
    * gap histogram → 1-row per source. */
  def d109DupLocalityOf(documents: DataFrame): DataFrame = {
    val wH = Window.partitionBy(col("h")).orderBy(col("doc_id"))
    // keep EVERY doc: group-first rows carry a null gap, so the same
    // reduced frame yields the per-source doc count and a zero-pair
    // row for dup-free sources (no second scan, no source-list join)
    val gaps = documents
      .select(col("source"), col("doc_id"), md5(trim(lower(col("text")))).as("h"))
      .withColumn("prev_id", lag(col("doc_id"), 1).over(wH))
      .select(col("source"), (col("doc_id") - col("prev_id")).as("gap"))
    val wS = Window.partitionBy(col("source"))
    // nulls sort FIRST: every non-null row's cum includes all firsts,
    // so pair-space ranks are (cum - n_firsts) over (tot - n_firsts)
    val cells = gaps.groupBy(col("source"), col("gap"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(
        wS.orderBy(col("gap").asc_nulls_first)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tot", sum(col("cnt")).over(wS))
      .withColumn("nf", sum(when(col("gap").isNull, col("cnt")).otherwise(0L)).over(wS))
    cells.groupBy(col("source"))
      .agg(max(col("tot")).as("n_docs"),
        (max(col("tot")) - max(col("nf"))).as("n_dup_pairs"),
        min(when(col("gap").isNotNull &&
          (col("cum") - col("nf")) * 2 >= col("tot") - col("nf"), col("gap")))
          .as("med_gap"),
        min(when(col("gap").isNotNull &&
          (col("cum") - col("nf")) * 10 >= (col("tot") - col("nf")) * 9, col("gap")))
          .as("p90_gap"),
        sum(when(col("gap") <= DupLocalityNearGap, col("cnt")).otherwise(0L))
          .as("near_pairs"))
      .select(col("source"), col("n_docs"), col("n_dup_pairs"),
        col("med_gap"), col("p90_gap"),
        when(col("n_dup_pairs") > 0,
          expr("(near_pairs * 10000) div n_dup_pairs")).as("near_share_bp"))
      .orderBy(col("source"))
  }

  val d109Sql: String =
    s"""WITH h AS (
       |  SELECT source, doc_id, md5(trim(lower(text))) AS h FROM documents),
       |g AS (
       |  SELECT source, doc_id - lag(doc_id) OVER (PARTITION BY h ORDER BY doc_id) AS gap
       |  FROM h),
       |cells AS (
       |  SELECT source, gap, CAST(count(*) AS BIGINT) AS cnt
       |  FROM g GROUP BY 1, 2),
       |sc AS (
       |  SELECT source, gap, cnt,
       |    sum(cnt) OVER (PARTITION BY source ORDER BY gap ASC NULLS FIRST
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    sum(cnt) OVER (PARTITION BY source) AS tot,
       |    sum(CASE WHEN gap IS NULL THEN cnt ELSE 0 END)
       |      OVER (PARTITION BY source) AS nf
       |  FROM cells)
       |SELECT source, CAST(max(tot) AS BIGINT) AS n_docs,
       |  CAST(max(tot) - max(nf) AS BIGINT) AS n_dup_pairs,
       |  min(CASE WHEN gap IS NOT NULL AND (cum - nf) * 2 >= tot - nf
       |    THEN gap END) AS med_gap,
       |  min(CASE WHEN gap IS NOT NULL AND (cum - nf) * 10 >= (tot - nf) * 9
       |    THEN gap END) AS p90_gap,
       |  CAST(CASE WHEN max(tot) - max(nf) > 0 THEN
       |    (CAST(sum(CASE WHEN gap <= $DupLocalityNearGap THEN cnt ELSE 0 END) AS BIGINT)
       |      * 10000) // (max(tot) - max(nf)) END AS BIGINT) AS near_share_bp
       |FROM sc GROUP BY source ORDER BY source""".stripMargin

  def d114NoveltyCurve(spark: SparkSession, dir: String): DataFrame =
    d114NoveltyCurveOf(graft.Tables.documents(spark, dir))

  /** d114: corpus NOVELTY curve over acquisition order — the
    * data-acquisition ROI report ("does 10% more corpus still buy new
    * content, or are we re-crawling the same web?"): doc_ids are
    * arrival order (the d22/d109 convention), split into ten key-range
    * deciles; per decile, the count of distinct 3-gram shingles seen
    * for the FIRST time there, cumulative, and the cumulative share in
    * bp. A healthy acquisition shows a slowly flattening curve; a
    * near-vertical-then-flat one says the tail deciles are paying for
    * duplicates (d32's dedup economics, at the planning grain —
    * BEFORE the next crawl is bought). d51 scores each doc's own
    * novelty; this is the corpus-level integral of that signal.
    *
    * Shape: gram tier — per-doc distinct shingle explode → gram-grain
    * min(doc_id) reduce (first sighting; map-side combinable) → the
    * 1-row corpus-span scalar broadcast (the d61/d63 idiom, BNLJ-
    * allowlisted) → 10-row decile reduce + windows over ten rows. */
  def d114NoveltyCurveOf(docs: DataFrame): DataFrame = {
    val t = TextOps.tokens(col("text"))
    val firstSeen = docs.filter(size(t) >= 3)
      .select(col("doc_id"), explode(TextOps.shingles(t)).as("shingle"))
      .groupBy(col("shingle")).agg(min(col("doc_id")).as("first_doc"))
    val span = docs.agg(max(col("doc_id")).as("max_doc"))
    val wCum = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    firstSeen.crossJoin(broadcast(span))
      .select(expr("least((first_doc * 10) div (max_doc + 1), 9)").as("decile"))
      .groupBy(col("decile")).agg(count(lit(1)).as("new_grams"))
      .withColumn("cum_grams", sum(col("new_grams")).over(wCum))
      .withColumn("total", sum(col("new_grams")).over(Window.partitionBy()))
      .select(col("decile"), col("new_grams"), col("cum_grams"),
        expr("(cum_grams * 10000) div total").as("cum_bp"))
      .orderBy(col("decile"))
  }

  val d114Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
      |  FROM toks WHERE len(t) >= 3),
      |fs AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1),
      |span AS (SELECT max(doc_id) AS max_doc FROM documents),
      |dec AS (
      |  SELECT least((first_doc * 10) // (max_doc + 1), 9) AS decile,
      |    count(*) AS new_grams
      |  FROM fs CROSS JOIN span GROUP BY 1),
      |c AS (
      |  SELECT decile, new_grams,
      |    sum(new_grams) OVER (ORDER BY decile
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_grams,
      |    sum(new_grams) OVER () AS total
      |  FROM dec)
      |SELECT CAST(decile AS BIGINT) AS decile, CAST(new_grams AS BIGINT) AS new_grams,
      |  CAST(cum_grams AS BIGINT) AS cum_grams,
      |  CAST((cum_grams * 10000) // total AS BIGINT) AS cum_bp
      |FROM c ORDER BY decile""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d118_cluster_cohesion" -> (d118ClusterCohesion _),
    "d114_novelty_curve" -> (d114NoveltyCurve _),
    "d109_dup_locality" -> (d109DupLocality _),
    "d108_entropy_rate" -> (d108EntropyRate _),
    "d107_positional_drift" -> (d107PositionalDrift _),
    "d106_compressibility" -> (d106Compressibility _),
    "d104_zipf_band" -> (d104ZipfBand _),
    "d103_cluster_profile" -> (d103ClusterProfile _),
    "d101_ngram_cardinality" -> (d101NgramCardinality _),
    "d91_cdc_chunks" -> (d91CdcChunks _),
    "d90_missing_mass" -> (d90MissingMass _),
    "d89_dup_ngram_coverage" -> (d89DupNgramCoverage _),
    "d73_affinity_curation" -> (d73AffinityCuration _),
    "d66_length_outliers" -> (d66LengthOutliers _),
    "d57_repeated_spans" -> (d57RepeatedSpans _),
    "d58_curriculum_phases" -> (d58CurriculumPhases _),
    "d56_quarantine_expand" -> (d56QuarantineExpand _),
    "d55_source_overlap" -> (d55SourceOverlap _),
    "d54_domain_affinity" -> (d54DomainAffinity _),
    "d52_freq_of_freqs" -> (d52FreqOfFreqs _),
    "d47_split_contamination" -> (d47SplitContamination _),
    "d46_leakage_split" -> (d46LeakageSplit _),
    "d41_packing_efficiency" -> (d41PackingEfficiency _),
    "d37_length_profile" -> (d37LengthProfile _),
    "d35_corpus_funnel" -> (d35CorpusFunnel _),
    "d33_train_windows" -> (d33TrainWindows _),
    "d34_idf_terms" -> (d34IdfTerms _),
    "d23_chunk_dedup" -> (d23ChunkDedup _),
    "d24_sequence_pack" -> (d24SequencePack _),
    "d50_cluster_keep_best" -> (d50ClusterKeepBest _),
    "d25_dedup_clusters" -> (d25DedupClusters _),
    "d26_rare_tokens" -> (d26RareTokens _),
    "d32_dedup_corpus" -> (d32DedupCorpus _))

  val oracles: Map[String, String] = Map(
    "d118_cluster_cohesion" -> d118Sql,
    "d109_dup_locality" -> d109Sql,
    "d114_novelty_curve" -> d114Sql,
    "d108_entropy_rate" -> d108Sql,
    "d107_positional_drift" -> d107Sql,
    "d106_compressibility" -> d106Sql,
    "d104_zipf_band" -> d104Sql,
    "d103_cluster_profile" -> d103Sql,
    "d101_ngram_cardinality" -> d101Sql,
    "d91_cdc_chunks" -> d91Sql,
    "d90_missing_mass" -> d90Sql,
    "d89_dup_ngram_coverage" -> d89Sql,
    "d73_affinity_curation" -> d73Sql,
    "d66_length_outliers" -> d66Sql,
    "d57_repeated_spans" -> d57Sql,
    "d58_curriculum_phases" -> d58Sql,
    "d56_quarantine_expand" -> d56Sql,
    "d55_source_overlap" -> d55Sql,
    "d54_domain_affinity" -> d54Sql,
    "d52_freq_of_freqs" -> d52Sql,
    "d47_split_contamination" -> d47Sql,
    "d46_leakage_split" -> d46Sql,
    "d41_packing_efficiency" -> d41Sql,
    "d37_length_profile" -> d37Sql,
    "d35_corpus_funnel" -> d35Sql,
    "d33_train_windows" -> d33Sql,
    "d34_idf_terms" -> d34Sql,
    "d23_chunk_dedup" -> d23Sql,
    "d24_sequence_pack" -> d24Sql,
    "d50_cluster_keep_best" -> d50Sql,
    "d25_dedup_clusters" -> d25Sql,
    "d26_rare_tokens" -> d26Sql,
    "d32_dedup_corpus" -> d32Sql)
}
