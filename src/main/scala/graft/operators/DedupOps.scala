package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate detection (SURVEY.md §2.D): MinHash+LSH and SimHash.
  *
  * Scale design: signatures are NOT computed with nested higher-order
  * functions (those evaluate interpreted and re-inline their inputs —
  * catastrophic recompute). Instead: explode shingles/tokens, then one
  * codegen'd hash-aggregate computes all 128 min-hashes (or 64 bit
  * sums) per document in a single pass. The only joins are bucket
  * self-joins on band hashes — candidate pairs, never the n² space.
  * Verified pairs are re-checked with exact Jaccard, so LSH is purely a
  * candidate filter.
  */
object DedupOps {
  import TextOps.{shingles, tokens}

  val NumHashes = 128
  val NumBands = 32
  val RowsPerBand = 4

  /** Distinct word-3-shingles per doc, one output row per shingle.
    *
    * Relational form: posexplode tokens → window lead(1)/lead(2) per doc
    * → concat → distinct. 5× faster than building shingle arrays with
    * higher-order functions (those evaluate interpreted), and the only
    * wide state through the shuffle is one token row, not per-doc
    * arrays — the shape that survives 100 TB. Output is identical. */
  def explodedShingles(spark: SparkSession, dir: String): DataFrame =
    explodedShinglesOf(Tables.documents(spark, dir))

  /** Same pipeline over ANY (doc_id, text) frame. */
  def explodedShinglesOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    tok.select(col("doc_id"), col("tok"),
        lead(col("tok"), 1).over(w).as("t1"), lead(col("tok"), 2).over(w).as("t2"))
      .filter(col("t2").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("tok"), col("t1"), col("t2")).as("shingle"))
      .distinct()
  }

  /** Same, but each shingle reduced to its 64-bit xxhash64 — one string
    * hash per shingle; everything downstream (minhash seeds,
    * intersection joins) operates on fixed-width longs. Collision odds
    * at 2⁻⁶⁴ are negligible against corpus sizes. */
  def explodedShingleHashes(spark: SparkSession, dir: String): DataFrame =
    explodedShingles(spark, dir)
      .select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))

  /** Releases every operator family's shared artifacts for (session, dir). */
  def release(spark: SparkSession, dir: String): Unit = SessionMemo.release(spark, dir)

  /** Materialized-once form of [[explodedShingleHashes]].
    *
    * d6/d8 reference the shingle pipeline from several subplans
    * (signature agg, bucket self-join, exact-Jaccard verify, per-doc
    * sizes); without materialization Catalyst re-evaluates the
    * tokenize→shingle→hash pipeline at every reference — at 100 TB that
    * is tokenizing the corpus ~8×. One persist ([[SessionMemo.frame]])
    * bounds each shared stage to a single computation per job (the
    * cluster analogue is a checkpoint to the shuffle service / object
    * store). The memo also spans queries, so d8 after d6 pays zero
    * shingle cost. */
  def sharedShingleHashes(spark: SparkSession, dir: String): DataFrame =
    SessionMemo.frame(spark, dir, "dedup.shingles")(explodedShingleHashes(spark, dir))

  /** doc_id → (128-long minhash signature, distinct-shingle count) in
    * ONE aggregation pass over the shingle cache. Folding the count into
    * the signature agg means the Jaccard denominator (sizes) is a free
    * projection of this cache instead of a second groupBy(doc_id)
    * exchange — d6 ends up with exactly two doc_id shuffles per job:
    * the shingle window and this aggregate. */
  def sharedSignatures(spark: SparkSession, dir: String): DataFrame =
    SessionMemo.frame(spark, dir, "dedup.sigs")(
      sharedShingleHashes(spark, dir)
        .groupBy(col("doc_id"))
        .agg(call_function("minhash128", col("shingle")).as("sig"),
          count(lit(1)).as("sz")))

  /** Per-doc distinct-shingle counts (both sides of the Jaccard
    * denominator join read this projection of the signature cache). */
  def sharedShingleSizes(spark: SparkSession, dir: String): DataFrame =
    sharedSignatures(spark, dir).select(col("doc_id"), col("sz"))

  /** Exact |A∩B| / |A∪B| for given (doc_a, doc_b) pairs, computed
    * relationally: join the exploded shingle rows on shingle equality
    * and count — no fat array columns through the shuffle, everything
    * codegen'd. `sizes` is (doc_id, sz). */
  private[operators] def jaccardForPairs(pairs: DataFrame, sh: DataFrame, sizes: DataFrame): DataFrame = {
    val inter = pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("shingle")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(inter, Seq("doc_a", "doc_b"), "left_outer")
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sza")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("szb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (coalesce(col("inter"), lit(0L)).cast("double") /
          (col("sza") + col("szb") - coalesce(col("inter"), lit(0L)))).as("jaccard"))
  }

  /** doc_id → 128-column minhash signature in one codegen'd agg pass
    * (spark.sql.codegen.maxFields must exceed 128 — set in
    * GraftSession/Verify). 128 independent seeded xxhash64's per
    * shingle: cheap-mixing alternatives proved too correlated across
    * seeds (LSH misses), so full independence is worth the hashing. */
  /** doc_id → 128-long minhash signature via the single-pass custom
    * aggregate (graft.functions.MinHashAgg, registered as minhash128):
    * one compact array buffer instead of 128 aggregate columns. Values
    * are identical to min(xxhash64(shingle, k)) per seed k. */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    sharedSignatures(spark, dir).select(col("doc_id"), col("sig"))

  /** (doc_id, band_hash) pairs, band index folded into the hash.
    * Materialized once — the LSH bucket self-join reads this from cache
    * on both sides, so the 128-seed signature aggregation runs exactly
    * once per job. */
  def bandBuckets(spark: SparkSession, dir: String): DataFrame =
    SessionMemo.frame(spark, dir, "dedup.bands") {
      val sigs = minhashSignatures(spark, dir)
      val bandCols = (0 until NumBands).map { j =>
        val rows = (j * RowsPerBand until (j + 1) * RowsPerBand)
          .map(i => element_at(col("sig"), i + 1))
        xxhash64((lit(j) +: rows): _*)
      }
      sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bh"))
    }

  /** Verified near-dup pairs (doc_a < doc_b, jaccard ≥ 0.5),
    * materialized ONCE per (session, dataset). The bucket self-join →
    * candidate dedup → exact-Jaccard verify is the expensive tail of the
    * d6 pipeline, and it has three consumers — d6 itself, d25's cluster
    * build, and d29's summary. Before this cache each consumer re-ran
    * the join work (d29 was the slowest query in the r5 bench purely
    * from re-derivation); now the verify join runs once and everyone
    * reads a tiny (doc_a, doc_b, jaccard) frame. Released with the rest
    * of the shared lifecycle. */
  def sharedVerifiedPairs(spark: SparkSession, dir: String): DataFrame =
    SessionMemo.frame(spark, dir, "dedup.pairs") {
      val buckets = bandBuckets(spark, dir)
      val cand = buckets.as("x").join(buckets.as("y"), col("x.bh") === col("y.bh"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .filter(col("doc_a") < col("doc_b"))
        .distinct()
      val sh = sharedShingleHashes(spark, dir)
      val sizes = sharedShingleSizes(spark, dir)
      jaccardForPairs(cand, sh, sizes).filter(col("jaccard") >= 0.5)
    }

  /** d6: MinHash-LSH near-dup pairs, exact-Jaccard verified at τ=0.5.
    * Output ≡ all-pairs shingle Jaccard ≥ τ (the DuckDB oracle): with
    * 32 bands × 4 rows, P[LSH misses a pair at Jaccard s] = (1-s⁴)³²,
    * ≈ 4e-15 at the s ≥ 0.9 where this corpus' true pairs live. */
  def d6DedupMinhash(spark: SparkSession, dir: String): DataFrame =
    sharedVerifiedPairs(spark, dir).orderBy(col("doc_a"), col("doc_b"))

  val d6Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      |  FROM toks WHERE len(t) >= 3),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  /** 64-bit token hash derivable in ANY engine: the first 16 hex chars
    * of md5, assembled from two 32-bit halves. xxhash64 is cheaper but
    * engine-private — SimHash VALUES are hash-dependent, so an exact
    * cross-engine oracle needs a portable hash (the DuckDB side replays
    * it with hex-digit arithmetic). */
  private[graft] def md5Hash64(c: Column): Column = {
    val hex = md5(c)
    val hi = conv(substring(hex, 1, 8), 16, 10).cast("long")
    val lo = conv(substring(hex, 9, 8), 16, 10).cast("long")
    shiftleft(hi, 32).bitwiseOR(lo)
  }

  /** doc_id → 64-bit SimHash: explode tokens, hash once, then 64 signed
    * bit-sums in one codegen'd aggregate; bits assembled afterwards.
    * Token multiplicity counts (term-frequency weighting). */
  def simhashes(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), md5Hash64(col("tok")).as("h"))
    val bitAggs = (0 until 64).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"bit$i"))
    val sums = tok.groupBy(col("doc_id")).agg(bitAggs.head, bitAggs.tail: _*)
    val sh = (0 until 64)
      .map(i => when(col(s"bit$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce((a: Column, b: Column) => a.bitwiseOR(b))
    sums.select(col("doc_id"), sh.as("sh"))
  }

  /** Materialized-once simhash signatures (doc_id, sh) — one tiny row
    * per doc. The x/y sides of the band self-join both build on this
    * frame; without the cache the token-md5-aggregate pipeline (the
    * entire d7 cost) evaluates TWICE per run. */
  def sharedSimhashes(spark: SparkSession, dir: String): DataFrame =
    SessionMemo.frame(spark, dir, "dedup.simhash")(simhashes(spark, dir))

  /** Scale guard for the band self-join: a 16-bit band key space is
    * only 65,536 buckets, so bucket population grows linearly with the
    * corpus and the within-bucket join is O(|bucket|²). Buckets above
    * this size get SALTED SUB-BANDING: the join key is extended with 8
    * signature bits from the adjacent band, splitting the bucket up to
    * 256× while keeping any pair whose differing bits avoid the salt
    * together (recall loss is confined to oversized buckets, and only
    * when a flipped bit lands in the salt). Sub-buckets still above the
    * cap (a flood of identical signatures that salting cannot split —
    * content d5/d6 already collapse) are rank-capped as a hard bound on
    * worst-case join work. Both events are observable via
    * [[d7CapStats]] — nothing is dropped silently. Never reached at
    * test scale (sf0.1 ≈ 8 docs/bucket), so the exact oracle is
    * unaffected. */
  val MaxBucketSize = 10000

  /** Band rows (doc_id, sh, bh, salt, bsz, rnk) with oversized-bucket
    * salting applied; cached once per (session, dataset) at the default
    * cap. `salt` is −1 for normal buckets, else 8 bits of `sh` from the
    * band after this one; `rnk` is the row's rank within its (bh, salt)
    * sub-bucket — consumers filter `rnk <= cap` (the flood backstop).
    * The bucket-size frame is bounded by the key space (≤ 4·2¹⁶ rows at
    * ANY corpus size) → broadcast join, no extra corpus shuffle; the
    * rank window shares the (bh, salt) partitioning the self-join
    * needs. */
  private[graft] def saltedBands(spark: SparkSession, dir: String,
                                     maxBucket: Int = MaxBucketSize): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def build: DataFrame = {
      val docs = sharedSimhashes(spark, dir)
      val bandCols = (0 until 4).map(j => shiftright(col("sh"), j * 16).bitwiseAND(0xFFFFL) * 4 + j)
      val banded = docs.select(col("doc_id"), col("sh"), explode(array(bandCols: _*)).as("bh"))
      val sizes = banded.groupBy(col("bh")).agg(count(lit(1)).as("bsz"))
      val j = pmod(col("bh"), lit(4))
      val saltBits = when(j === 0, shiftright(col("sh"), 16))
        .when(j === 1, shiftright(col("sh"), 32))
        .when(j === 2, shiftright(col("sh"), 48))
        .otherwise(col("sh"))
        .bitwiseAND(0xFFL)
      val wB = Window.partitionBy(col("bh"), col("salt")).orderBy(col("doc_id"))
      banded.join(broadcast(sizes), "bh")
        .withColumn("salt", when(col("bsz") > maxBucket, saltBits).otherwise(lit(-1L)))
        .withColumn("rnk", row_number().over(wB))
    }
    if (maxBucket == MaxBucketSize) SessionMemo.frame(spark, dir, "dedup.simbands")(build) else build
  }

  /** Cap observability (VERDICT r2 #6): one row with the number of
    * buckets that triggered salting and the number of band rows the
    * flood backstop excluded from pairing. Zero/zero means the banded
    * join is EXACTLY the all-pairs hamming ≤ 3 set; non-zero means
    * bounded-recall mode — monitor this at scale. */
  def d7CapStats(spark: SparkSession, dir: String,
                 maxBucket: Int = MaxBucketSize): DataFrame =
    saltedBands(spark, dir, maxBucket).agg(
      count_distinct(when(col("bsz") > maxBucket, col("bh"))).as("oversized_buckets"),
      sum(when(col("rnk") > maxBucket, 1L).otherwise(0L)).as("capped_band_rows"))

  /** d7: SimHash near-dup — 4×16-bit band buckets guarantee recall for
    * hamming distance ≤ 3 (pigeonhole: 3 flipped bits cannot touch all
    * 4 bands), so the banded join + filter equals the all-pairs
    * hamming ≤ 3 set — which is what the DuckDB oracle computes —
    * whenever [[d7CapStats]] reports zero salted/capped buckets
    * (always true below [[MaxBucketSize]] docs per band bucket). */
  def d7DedupSimhash(spark: SparkSession, dir: String): DataFrame =
    d7Pairs(spark, dir, MaxBucketSize)

  private[graft] def d7Pairs(spark: SparkSession, dir: String, maxBucket: Int): DataFrame = {
    val banded = saltedBands(spark, dir, maxBucket)
      .filter(col("rnk") <= maxBucket)
      .select(col("doc_id"), col("sh"), col("bh"), col("salt"))
    banded.as("x").join(banded.as("y"),
        col("x.bh") === col("y.bh") && col("x.salt") === col("y.salt"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.sh").bitwiseXOR(col("y.sh"))).as("hamming"))
      .filter(col("doc_a") < col("doc_b") && col("hamming") <= 3)
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** DuckDB replay: same md5-derived hashes, same bit sums, exact
    * all-pairs hamming ≤ 3 (≡ the banded join by the recall guarantee). */
  val d7Sql: String = {
    // 16^(16-k) for k=1..16 as exact integer literals
    val pow16 = (1 to 16).map(k => BigInt(16).pow(16 - k).toString)
    val u =
      s"""list_reduce(list_transform(range(1, 17), k ->
         |      CAST(strpos('0123456789abcdef', (md5(tok))[k]) - 1 AS HUGEINT)
         |      * CAST(CASE k ${pow16.zipWithIndex.map { case (p, i) => s"WHEN ${i + 1} THEN $p" }.mkString(" ")} END AS HUGEINT)),
         |    (x, y) -> x + y)""".stripMargin
    val bitSums = (0 until 64).map { i =>
      val p = BigInt(2).pow(i).toString
      s"sum(CASE WHEN (u // $p) % 2 = 1 THEN 1 ELSE -1 END) AS b$i"
    }.mkString(",\n    ")
    val usum = (0 until 64).map { i =>
      val p = BigInt(2).pow(i).toString
      s"(CASE WHEN b$i > 0 THEN CAST($p AS HUGEINT) ELSE CAST(0 AS HUGEINT) END)"
    }.mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
       |  FROM documents),
       |h AS (
       |  SELECT doc_id, $u AS u FROM tok),
       |bits AS (
       |  SELECT doc_id,
       |    $bitSums
       |  FROM h GROUP BY doc_id),
       |sh AS (
       |  SELECT doc_id,
       |    CAST(CASE WHEN usum >= CAST(9223372036854775808 AS HUGEINT)
       |      THEN usum - CAST(18446744073709551616 AS HUGEINT) ELSE usum END AS BIGINT) AS sh
       |  FROM (SELECT doc_id, $usum AS usum FROM bits))
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sh, b.sh)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** d28: fuzzy top-1 similarity join — for each held-out "query"
    * document (doc_id % 97 = 0, the d20 eval split), its most-similar
    * corpus document by exact trigram Jaccard. The candidate set is
    * SPARSE: only pairs sharing ≥ 1 shingle hash ever meet (an
    * equi-join on the shingle — docs with zero overlap, i.e. Jaccard
    * 0, are never enumerated), which is what makes a fuzzy join
    * feasible at corpus scale. The per-query winner comes from a
    * `max_by` AGGREGATE with map-side partials — not a row_number
    * window, whose #queries-partition merge stage is the ANN-family
    * parallelism collapse (VERDICT r3). Tie-break: highest Jaccard,
    * then lowest candidate id — deterministic because the Jaccard
    * doubles are exact integer ratios, identical in any engine.
    *
    * Collision caveat (stronger than d6's): Jaccard here is computed
    * over xxhash64 SHINGLE HASHES while the oracle uses exact trigram
    * strings. On the thresholded d6 path a 2⁻⁶⁴ collision merely
    * perturbs a score; here a collision near a top-1 TIE can flip the
    * argmax winner. The probability is negligible at any corpus size
    * we target (birthday bound over per-doc shingle counts), so no
    * code change — but an exactness-critical caller should re-verify
    * the winning pair over raw shingles. */
  def d28FuzzyTopk(spark: SparkSession, dir: String): DataFrame = {
    val sh = sharedShingleHashes(spark, dir)
    val sizes = sharedShingleSizes(spark, dir)
    val q = sh.filter(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("doc_id").as("query_id"), col("shingle"))
    val c = sh.filter(pmod(col("doc_id"), lit(97)) =!= 0)
      .select(col("doc_id").as("cand_id"), col("shingle"))
    val inter = q.join(c, "shingle")
      .groupBy(col("query_id"), col("cand_id")).agg(count(lit(1)).as("inter"))
    val jac = inter
      .join(sizes.select(col("doc_id").as("query_id"), col("sz").as("szq")), "query_id")
      .join(sizes.select(col("doc_id").as("cand_id"), col("sz").as("szc")), "cand_id")
      .select(col("query_id"), col("cand_id"),
        (col("inter").cast("double") / (col("szq") + col("szc") - col("inter"))).as("jaccard"))
    jac.groupBy(col("query_id"))
      .agg(max_by(
        struct(col("cand_id"), col("jaccard")),
        struct(col("jaccard"), (-col("cand_id")).as("tie"))).as("best"))
      .select(col("query_id"), col("best.cand_id").as("match_id"), col("best.jaccard").as("jaccard"))
      .orderBy(col("query_id"))
  }

  val d28Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      |  FROM toks WHERE len(t) >= 3),
      |pairs AS (
      |  SELECT q.doc_id AS query_id, c.doc_id AS cand_id,
      |    len(list_intersect(q.s, c.s)) AS inter,
      |    CAST(len(list_intersect(q.s, c.s)) AS DOUBLE)
      |      / len(list_distinct(list_concat(q.s, c.s))) AS jaccard
      |  FROM sh q JOIN sh c ON q.doc_id % 97 = 0 AND c.doc_id % 97 <> 0),
      |ranked AS (
      |  SELECT query_id, cand_id AS match_id, jaccard,
      |    row_number() OVER (PARTITION BY query_id ORDER BY jaccard DESC, cand_id) AS rk
      |  FROM pairs WHERE inter > 0)
      |SELECT query_id, match_id, jaccard FROM ranked WHERE rk = 1
      |ORDER BY query_id""".stripMargin

  /** d42: incremental (snapshot-vs-corpus) dedup — the continuous-crawl
    * operator: before ADMITTING a new batch of documents, flag each one
    * that is a near-dup of the EXISTING corpus and name its best match.
    * The batch is the deterministic doc_id % 10 = 7 split (a held-out
    * "new crawl snapshot"); the existing corpus is everything else.
    *
    * Prices as a FILTER over the shared verified-pairs cache: the pairs
    * frame is complete for jaccard ≥ 0.5 over batch ∪ corpus, so
    * batch-vs-corpus dup status is exactly the pairs with one endpoint
    * on each side — the LSH + verify pipeline never re-runs, and on a
    * real deployment the incremental check reuses the corpus-side
    * signatures/bands as-is (only the new batch gets shingled). Best
    * match per batch doc via the d28 max_by idiom (map-side partials,
    * (jaccard desc, match_id asc) tie-break); clean docs survive the
    * left join with is_dup = false. */
  def d42IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    def inBatch(c: Column): Column = pmod(c, lit(10)) === 7
    val pairs = sharedVerifiedPairs(spark, dir)
    val hits = pairs
      .filter(inBatch(col("doc_a")) =!= inBatch(col("doc_b")))
      .select(
        when(inBatch(col("doc_a")), col("doc_a")).otherwise(col("doc_b")).as("doc_id"),
        when(inBatch(col("doc_a")), col("doc_b")).otherwise(col("doc_a")).as("cand"),
        col("jaccard"))
    val best = hits.groupBy(col("doc_id"))
      .agg(max_by(
        struct(col("cand"), col("jaccard")),
        struct(col("jaccard"), (-col("cand")).as("tie"))).as("best"))
    Tables.documents(spark, dir)
      .filter(inBatch(col("doc_id")))
      .select(col("doc_id"))
      .join(best, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("best").isNotNull.as("is_dup"),
        col("best.cand").as("match_id"), col("best.jaccard").as("jaccard"))
      .orderBy(col("doc_id"))
  }

  val d42Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      |  FROM toks WHERE len(t) >= 3),
      |hits AS (
      |  SELECT q.doc_id AS doc_id, c.doc_id AS cand,
      |    CAST(len(list_intersect(q.s, c.s)) AS DOUBLE)
      |      / len(list_distinct(list_concat(q.s, c.s))) AS jaccard
      |  FROM sh q JOIN sh c ON q.doc_id % 10 = 7 AND c.doc_id % 10 <> 7),
      |best AS (
      |  SELECT doc_id, cand AS match_id, jaccard,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY jaccard DESC, cand) AS rk
      |  FROM hits WHERE jaccard >= 0.5)
      |SELECT d.doc_id, b.match_id IS NOT NULL AS is_dup, b.match_id, b.jaccard
      |FROM documents d
      |LEFT JOIN (SELECT * FROM best WHERE rk = 1) b ON d.doc_id = b.doc_id
      |WHERE d.doc_id % 10 = 7 ORDER BY d.doc_id""".stripMargin

  /** Thresholds for d38's sensitivity sweep — all ≥ the pair cache's
    * τ=0.5 floor, below which pairs are (by design) not materialized. */
  val SweepTaus: Seq[Double] = Seq(0.5, 0.6, 0.7, 0.8, 0.9)

  /** d38: dedup threshold-sensitivity report — how aggressive each
    * candidate τ would be: verified-pair count and involved-doc count
    * at each threshold. This is the tuning table a corpus owner reads
    * before fixing the near-dup τ, and it prices as TWO aggregates
    * over the cached (doc_a, doc_b, jaccard) frame — the expensive
    * LSH+verify pipeline never re-runs (the cache is complete for
    * jaccard ≥ 0.5, so every sweep point is exact, not an estimate).
    * Thresholds explode against the tiny pairs frame; the member
    * explode feeds an exact distinct-doc count. */
  def d38DedupSensitivity(spark: SparkSession, dir: String): DataFrame =
    sharedVerifiedPairs(spark, dir)
      .select(explode(array(SweepTaus.map(lit(_)): _*)).as("tau"),
        col("jaccard"), col("doc_a"), col("doc_b"))
      .filter(col("jaccard") >= col("tau"))
      // one aggregate over the member explode: each pair contributes
      // exactly two member rows, so n_pairs = rows div 2 (integer-exact)
      // — no second aggregate joined back on a floating-point tau key
      .select(col("tau"), explode(array(col("doc_a"), col("doc_b"))).as("doc"))
      .groupBy(col("tau"))
      .agg(expr("count(*) div 2").as("n_pairs"),
        count_distinct(col("doc")).as("n_docs"))
      .orderBy(col("tau"))

  val d38Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      |  FROM toks WHERE len(t) >= 3),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
      |taus AS (SELECT CAST(unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS DOUBLE) AS tau),
      |sel AS (
      |  SELECT tau, doc_a, doc_b FROM pairs JOIN taus ON jaccard >= tau),
      |pp AS (SELECT tau, count(*) AS n_pairs FROM sel GROUP BY tau),
      |mem AS (SELECT tau, unnest([doc_a, doc_b]) AS doc FROM sel),
      |pd AS (SELECT tau, count(DISTINCT doc) AS n_docs FROM mem GROUP BY tau)
      |SELECT tau, n_pairs, n_docs FROM pp JOIN pd USING (tau) ORDER BY tau""".stripMargin

  /** d39: cross-source duplicate leakage — WHICH sources copy from
    * each other: verified near-dup pairs bucketed by their documents'
    * (source_a, source_b), unordered pair normalized so (web,api) and
    * (api,web) aggregate together. The provenance dashboard behind a
    * crawl-overlap decision (two mirrors of the same site → drop one
    * feed, not post-hoc dedup forever). Prices as the cached pairs
    * frame + an ids-only join against the (doc_id, source) projection —
    * the LSH+verify pipeline never re-runs; in-source pairs are
    * reported too (the within/cross split is the point). */
  def d39CrossSourceDups(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val pairs = sharedVerifiedPairs(spark, dir)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
    pairs
      .select(
        least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"),
        col("jaccard"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"), max(col("jaccard")).as("max_jaccard"))
      .select(col("source_a"), col("source_b"),
        (col("source_a") =!= col("source_b")).as("cross_source"),
        col("n_pairs"), col("max_jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val d39Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      |  FROM toks WHERE len(t) >= 3),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
      |verified AS (SELECT * FROM pairs WHERE jaccard >= 0.5),
      |tagged AS (
      |  SELECT least(da.source, db.source) AS source_a,
      |    greatest(da.source, db.source) AS source_b, jaccard
      |  FROM verified
      |  JOIN documents da ON doc_a = da.doc_id
      |  JOIN documents db ON doc_b = db.doc_id)
      |SELECT source_a, source_b, source_a <> source_b AS cross_source,
      |  count(*) AS n_pairs, max(jaccard) AS max_jaccard
      |FROM tagged GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin

  /** Doc-frequency band for d60's candidate shingles: shared by ≥ 2
    * docs (a unique shingle pairs nothing) but ≤ 5 (hot shingles are
    * boilerplate, not quotes — and quadratic in bucket size). */
  private val RareDfMin = 2
  private val RareDfMax = 5

  /** d60: quote/containment detection — the ASYMMETRIC sibling of the
    * Jaccard family (d6/d8): a short doc pasted inside a longer one has
    * low Jaccard (the union is big) but high CONTAINMENT
    * |A∩B| / min(|A|,|B|) (Broder 1997's resemblance-vs-containment
    * distinction). Candidate pairs come from RARE shingles only
    * (corpus doc-frequency in [2,5], ≥ 2 shared): rarity kills the
    * boilerplate-shingle quadratic blowup that makes naive
    * shingle-join candidate generation explode — the same reason
    * search engines drop stop-shingles — while any real quotation of
    * ≥ a few sentences shares many rare shingles. The exact
    * containment then comes from the full shingle intersection for
    * candidates only.
    *
    * Shape: shingle-keyed equi-join on the DF-banded subset (bucket
    * size ≤ 5 → ≤ 10 pairs per shingle, linear in corpus), then the
    * d8 relational intersection join for the survivors. Everything
    * rides the shared shingle cache; no all-pairs anywhere. */
  def d60QuoteContainment(spark: SparkSession, dir: String): DataFrame = {
    val sh = sharedShingleHashes(spark, dir)
    val sizes = sharedShingleSizes(spark, dir)
    val rare = sh.groupBy(col("shingle")).agg(count(lit(1)).as("nd"))
      .filter(col("nd").between(RareDfMin, RareDfMax))
      .select(col("shingle"))
    val rsh = sh.join(rare, "shingle")
    val pairs = rsh.select(col("shingle"), col("doc_id").as("doc_a"))
      .join(rsh.select(col("shingle"), col("doc_id").as("doc_b")), "shingle")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared_rare"))
      .filter(col("shared_rare") >= 2)
    val inter = pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("shingle")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(inter, Seq("doc_a", "doc_b"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sza")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("szb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("shared_rare"), col("shared"),
        expr("(shared * 10000) div least(sza, szb)").as("containment_bp"),
        (col("shared") * 5 >= least(col("sza"), col("szb")) * 4).as("contained"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val d60Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
      |shl AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      |  FROM toks WHERE len(t) >= 3),
      |sh AS (SELECT doc_id, unnest(s) AS shingle FROM shl),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
      |rare AS (
      |  SELECT shingle FROM sh GROUP BY shingle
      |  HAVING count(*) BETWEEN 2 AND 5),
      |rsh AS (SELECT doc_id, sh.shingle FROM sh JOIN rare ON sh.shingle = rare.shingle),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_rare
      |  FROM rsh a JOIN rsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |inter AS (
      |  SELECT p.doc_a, p.doc_b, count(*) AS shared
      |  FROM pairs p
      |  JOIN sh a ON a.doc_id = p.doc_a
      |  JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
      |  GROUP BY 1, 2)
      |SELECT p.doc_a, p.doc_b, p.shared_rare, i.shared,
      |  (i.shared * 10000) // least(sa.sz, sb.sz) AS containment_bp,
      |  i.shared * 5 >= least(sa.sz, sb.sz) * 4 AS contained
      |FROM pairs p
      |JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
      |JOIN sizes sa ON sa.doc_id = p.doc_a
      |JOIN sizes sb ON sb.doc_id = p.doc_b
      |ORDER BY p.doc_a, p.doc_b""".stripMargin

  /** Winnowing parameters (Schleimer/Wilkerson/Aiken, SIGMOD 2003 —
    * the MOSS fingerprinter): grams of [[WinnowK]] tokens (the d6/d8
    * shingle width), fingerprint = the minimum gram hash in each run of
    * [[WinnowW]] consecutive gram starts. Guarantee: any shared token
    * run of ≥ W+K−1 tokens yields at least one shared fingerprint, while
    * storage shrinks ~2/(W+1) of the gram stream. */
  val WinnowK = 3
  val WinnowW = 4
  /** K-token gram in DuckDB list terms, derived from [[WinnowK]] like
    * the plan's lead composition (t[i] is 1-based list indexing). */
  private val WinnowGramSql: String =
    (0 until WinnowK).map(i => if (i == 0) "t[i]" else s"t[i+$i]").mkString(" || ' ' || ")
  /** d82 candidate discipline: fingerprints seen in [2, cap] docs only
    * (singletons pair with nothing; boilerplate prints pair with
    * everything — the d60 rare-shingle rule), pairs must share ≥ 2. */
  val WinnowDfCap = 10
  val WinnowMinShared = 2

  /** Selected winnow fingerprints per doc: (doc_id, n grams, sel hash),
    * distinct. Positional relational form (the explodedShinglesOf
    * discipline — no per-doc arrays through the shuffle): posexplode
    * tokens, lead-compose grams, md5 per gram (md5, not xxhash64: the
    * SELECTION depends on hash order, so the oracle must replay the
    * same function — DuckDB has md5, and lowercase-hex compares
    * identically in both engines), then one doc-keyed window pass picks
    * min(hash) per W-run; starts past n−W+1 are truncated frames, not
    * windows, and are filtered (a doc shorter than W keeps its single
    * full-prefix window). ONE exchange on doc_id serves the gram
    * windows, the count, and the selection sort. */
  def sharedWinnowFps(spark: SparkSession, dir: String): DataFrame =
    SessionMemo.frame(spark, dir, "dedup.winnow")(winnowFpsOf(Tables.documents(spark, dir)))

  /** The winnow pipeline over ANY (doc_id, text) frame (property tests
    * drive it with planted shared runs to check the detection
    * guarantee). */
  def winnowFpsOf(docs: DataFrame): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val tok = docs
        .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("p", "tok")))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("p"))
      // gram = WinnowK consecutive tokens, composed from leads 1..K−1
      // DERIVED from [[WinnowK]] (so the ≥ W+K−1 guarantee really is
      // parametric — changing WinnowK changes the grams here AND in the
      // generated oracle SQL below); all leads share one window spec,
      // so Spark plans a single Window node
      val withLeads = (1 until WinnowK).foldLeft(
          tok.withColumn("pos", (col("p") + 1).cast("long"))) {
        (df, i) => df.withColumn(s"t$i", lead(col("tok"), i).over(w))
      }
      val gramCols = col("tok") +: (1 until WinnowK).map(i => col(s"t$i"))
      val grams = withLeads
        .filter(if (WinnowK > 1) col(s"t${WinnowK - 1}").isNotNull else lit(true))
        .select(col("doc_id"), col("pos"),
          md5(concat_ws(" ", gramCols: _*)).as("h"))
      val wDoc = Window.partitionBy(col("doc_id"))
      val wSel = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(Window.currentRow, WinnowW - 1)
      grams
        .withColumn("n", count(lit(1)).over(wDoc))
        .withColumn("sel", min(col("h")).over(wSel))
        .filter(col("pos") <= greatest(lit(1L), col("n") - WinnowW + 1))
        .select(col("doc_id"), col("n"), col("sel"))
        .distinct()
    }

  /** d81: winnowing fingerprint profile per document — the
    * position-robust local fingerprinting layer the hash-family ops
    * don't cover (d4 hashes whole docs, d6/d8 use global shingle sets;
    * winnowing guarantees shared-substring DETECTION with sublinear
    * storage, which is what plagiarism/quote mining actually needs).
    * Per doc: gram count, selected-fingerprint count, selection density
    * in bp against the n−W+1 window count, and the minimum fingerprint
    * (a stable content sample). All on the shared winnow cache. */
  def d81Winnowing(spark: SparkSession, dir: String): DataFrame =
    sharedWinnowFps(spark, dir)
      .groupBy(col("doc_id"), col("n").as("n_grams"))
      .agg(count(lit(1)).as("n_fp"), min(col("sel")).as("min_fp"))
      .select(col("doc_id"), col("n_grams"), col("n_fp"),
        expr(s"(n_fp * 10000) div greatest(1, n_grams - ${WinnowW - 1})").as("density_bp"),
        col("min_fp"))
      .orderBy(col("doc_id"))

  val d81Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
       |g AS (
       |  SELECT doc_id, len(t) - ${WinnowK - 1} AS n,
       |    unnest(range(1, len(t) - ${WinnowK - 2})) AS pos,
       |    unnest(list_transform(range(1, len(t) - ${WinnowK - 2}),
       |      i -> md5($WinnowGramSql))) AS h
       |  FROM toks WHERE len(t) >= $WinnowK),
       |s AS (
       |  SELECT doc_id, n, pos, min(h) OVER (PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS sel
       |  FROM g),
       |fp AS (
       |  SELECT DISTINCT doc_id, n, sel FROM s
       |  WHERE pos <= greatest(1, n - ${WinnowW - 1}))
       |SELECT doc_id, n AS n_grams, count(*) AS n_fp,
       |  CAST((count(*) * 10000) // greatest(1, n - ${WinnowW - 1}) AS BIGINT) AS density_bp,
       |  min(sel) AS min_fp
       |FROM fp GROUP BY doc_id, n ORDER BY doc_id""".stripMargin

  /** d82: winnow-match candidate pairs — MOSS's second half: documents
    * sharing ≥ [[WinnowMinShared]] selected fingerprints, with overlap
    * in bp of the smaller fingerprint set. The join key is the
    * fingerprint (a band-key shuffle, the d6 shape — never all pairs),
    * and the df∈[2, cap] filter bounds fan-out per fingerprint at
    * cap·(cap−1)/2 pairs (the d60 discipline: boilerplate fingerprints
    * are exactly the ones that would flood, and exactly the ones that
    * don't indicate copying). */
  def d82WinnowMatch(spark: SparkSession, dir: String): DataFrame = {
    val fp = sharedWinnowFps(spark, dir)
    val keep = fp.groupBy(col("sel")).agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, WinnowDfCap))
      .select(col("sel"))
    val rf = fp.join(keep, "sel").select(col("sel"), col("doc_id"))
    val sizes = fp.groupBy(col("doc_id")).agg(count(lit(1)).as("nf"))
    rf.select(col("sel"), col("doc_id").as("doc_a"))
      .join(rf.select(col("sel"), col("doc_id").as("doc_b")), "sel")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowMinShared)
      .join(sizes.select(col("doc_id").as("doc_a"), col("nf").as("nfa")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("nf").as("nfb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        expr("(n_shared * 10000) div least(nfa, nfb)").as("overlap_bp"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val d82Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
       |g AS (
       |  SELECT doc_id, len(t) - ${WinnowK - 1} AS n,
       |    unnest(range(1, len(t) - ${WinnowK - 2})) AS pos,
       |    unnest(list_transform(range(1, len(t) - ${WinnowK - 2}),
       |      i -> md5($WinnowGramSql))) AS h
       |  FROM toks WHERE len(t) >= $WinnowK),
       |s AS (
       |  SELECT doc_id, n, pos, min(h) OVER (PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS sel
       |  FROM g),
       |fp AS (
       |  SELECT DISTINCT doc_id, sel FROM s
       |  WHERE pos <= greatest(1, n - ${WinnowW - 1})),
       |keep AS (
       |  SELECT sel FROM fp GROUP BY sel HAVING count(*) BETWEEN 2 AND $WinnowDfCap),
       |rf AS (SELECT fp.doc_id, fp.sel FROM fp JOIN keep ON fp.sel = keep.sel),
       |sizes AS (SELECT doc_id, count(*) AS nf FROM fp GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
       |  FROM rf a JOIN rf b ON a.sel = b.sel AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= $WinnowMinShared)
       |SELECT doc_a, doc_b, n_shared,
       |  CAST((n_shared * 10000) // least(sa.nf, sb.nf) AS BIGINT) AS overlap_bp
       |FROM pairs
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |ORDER BY doc_a, doc_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d82_winnow_match" -> (d82WinnowMatch _),
    "d81_winnowing" -> (d81Winnowing _),
    "d60_quote_containment" -> (d60QuoteContainment _),
    "d42_incremental_dedup" -> (d42IncrementalDedup _),
    "d39_cross_source_dups" -> (d39CrossSourceDups _),
    "d38_dedup_sensitivity" -> (d38DedupSensitivity _),
    "d6_dedup_minhash" -> (d6DedupMinhash _),
    "d7_dedup_simhash" -> (d7DedupSimhash _),
    "d28_fuzzy_topk" -> (d28FuzzyTopk _))

  val oracles: Map[String, String] = Map(
    "d82_winnow_match" -> d82Sql,
    "d81_winnowing" -> d81Sql,
    "d60_quote_containment" -> d60Sql,
    "d42_incremental_dedup" -> d42Sql,
    "d39_cross_source_dups" -> d39Sql,
    "d38_dedup_sensitivity" -> d38Sql,
    "d6_dedup_minhash" -> d6Sql,
    "d7_dedup_simhash" -> d7Sql,
    "d28_fuzzy_topk" -> d28Sql)

  /** Bloom-filter admission prefilter — the 100 TB front door for the
    * d42 exact-dedup admission path: the corpus's key set is folded
    * into ONE Bloom filter (Spark's own codegen'd BloomFilterAggregate,
    * surfaced as `bloom_agg` by [[graft.GraftExtensions]] — the same
    * sketch Spark injects for runtime join filtering), and each
    * incoming batch probes it row-locally. A `false` probe is a
    * GUARANTEED-new document (Bloom filters have no false negatives)
    * that skips the exact anti-join entirely; only `true` probes — the
    * true dups plus an FPR-bounded sliver of new docs — pay for exact
    * verification. At a well-sized bits/item budget that is a ~99%
    * reduction of the expensive path's input. The filter itself is
    * bounded by numBits/8 bytes (a LITERAL-capacity driver value, the
    * broadcast-discipline sketch exception), independent of corpus
    * size.
    *
    * ScalaTest-gated component (the sketch bytes are
    * engine-internal, so no DuckDB oracle — the spec proves zero
    * false negatives, the FPR bound, and that prefilter + exact
    * verify ≡ the plain exact anti-join). */
  object BloomAdmission {
    /** Fold `keys` (any hashable column) into serialized Bloom bytes.
      * One aggregate pass, map-side partials, ≤ numBits/8 bytes to the
      * driver. */
    def build(df: DataFrame, key: Column, expectedItems: Long, numBits: Long): Array[Byte] =
      df.select(call_function("bloom_agg", xxhash64(key), lit(expectedItems), lit(numBits))
          .as("bf"))
        .head().getAs[Array[Byte]](0)

    /** Row-local membership probe against serialized Bloom bytes. */
    def mightContain(bloom: Array[Byte], key: Column): Column =
      call_function("bloom_might_contain", lit(bloom), xxhash64(key))

    /** Split an incoming batch: rows with `maybe_dup` = false are
      * guaranteed new (admit immediately); only the rest need the
      * exact d42-style verification join. */
    def prefilter(incoming: DataFrame, bloom: Array[Byte], key: Column): DataFrame =
      incoming.withColumn("maybe_dup", mightContain(bloom, key))
  }
}
