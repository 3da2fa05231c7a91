package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the embeddings table (SURVEY.md §2.D).
  *
  * Scale design: the query set is broadcast (one pass over the vector
  * corpus, no shuffle of the big side); all per-vector arithmetic runs
  * through native codegen'd Expressions (cosine_sim / dot_product —
  * no UDFs, no interpreted higher-order functions in corpus-wide
  * paths). The LSH variant buckets vectors by random-hyperplane
  * signatures so a probe touches ~1/2^planes of the corpus; the IVF
  * variant assigns every vector to its nearest centroid IN-ROW
  * (greatest over broadcast literal centroids — zero shuffle on the
  * corpus side, VERDICT r1 #2) and probes only the closest lists.
  */
object VectorOps {

  /** Strict left-fold dot product — interpreted HOF; kept only as the
    * semantics reference for tests (bit-identity vs dot_product). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Composable (higher-order-function) cosine — interpreted; kept as
    * the portable fallback and as the semantics reference. */
  def cosineHof(a: Column, b: Column): Column =
    dotHof(a, b) / (sqrt(dotHof(a, a)) * sqrt(dotHof(b, b)))

  /** Native codegen'd cosine (graft.functions.CosineSimilarity via
    * GraftExtensions) — bit-identical to cosineHof, ~10× cheaper. */
  def cosine(a: Column, b: Column): Column = call_function("cosine_sim", a, b)

  /** Native codegen'd dot product (graft.functions.DotProduct) —
    * bit-identical to dotHof. */
  def dot(a: Column, b: Column): Column = call_function("dot_product", a, b)

  /** array<float> literal (composes with parquet float vectors in the
    * native expressions). */
  private def floatArrayLit(v: Seq[Float]): Column = array(v.map(lit(_)): _*)

  val NumQueries = 10
  val TopK = 5

  /** Two-phase per-query top-k over (query_id, neighbor_id, cos) rows.
    *
    * The naive form — `row_number().over(partitionBy("query_id"))` —
    * funnels EVERY scored candidate into #queries merge tasks: a
    * parallelism collapse on the last stage once the candidate set is
    * corpus-sized (VERDICT r3 perf #5, shared across d9/d10/d12/d17).
    * The bounded aggregate (graft.functions.TopKAgg) instead reduces
    * each map partition to ≤ k entries per query BEFORE the exchange
    * (ObjectHashAggregate partial mode), so the per-query merge sees
    * ≤ k × partitions buffer entries no matter the corpus size. The
    * (rank, neighbor) rows recovered by posexplode are identical to
    * the window formulation: same (cos DESC, neighbor_id ASC) order,
    * same distinct 1-based ranks. */
  private[graft] def topKPerQuery(scored: DataFrame, k: Int = TopK): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(call_function("topk_by_score", col("cos"), col("neighbor_id"), lit(k)).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("i", "s")))
      .select(col("query_id"), col("s.id").as("neighbor_id"), col("s.score").as("cos"),
        (col("i") + 1).cast("int").as("rnk"))

  /** d92: maximum-inner-product search (MIPS) top-k — retrieval when
    * the model's score IS the raw dot product (recommender factor
    * models, unnormalized two-tower retrieval), where cosine (d9) is
    * the WRONG objective because it erases the magnitude a popularity
    * or confidence dimension encodes. Brute force here = the exact
    * baseline, same broadcast-query/TopKAgg shape as d9 (one corpus
    * scan, no shuffle of candidates, bounded per-query state). The
    * 100 TB sublinear path is the Bachrach et al. (RecSys 2014)
    * norm-augmentation reduction — append sqrt(M² − ‖x‖²) to each
    * candidate (M = max norm) and 0 to the query, and cosine order
    * equals dot order — which plugs MIPS straight into the existing
    * d10/d17 LSH-bucket machinery; the spec proves the order
    * equivalence on real vectors. */
  def d92MipsTopk(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val cand = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"))
    val scored = broadcast(q).join(cand, col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), dot(col("qe"), col("ne")).as("cos"))
    topKPerQuery(scored)
      .select(col("query_id"), col("neighbor_id"), col("cos").as("ip"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** DuckDB raw inner product, bit-identical to dot_product's
    * sequential left fold over CAST-to-double products. */
  private def duckDot(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"

  val d92Sql: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < $NumQueries),
       |c AS (SELECT vec_id AS neighbor_id, embedding AS ne FROM embeddings),
       |scored AS (
       |  SELECT query_id, neighbor_id, ${duckDot("qe", "ne")} AS ip
       |  FROM q JOIN c ON neighbor_id <> query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, ip,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY ip DESC, neighbor_id) AS INTEGER) AS rnk
       |  FROM scored)
       |SELECT query_id, neighbor_id, ip, rnk FROM ranked WHERE rnk <= $TopK
       |ORDER BY query_id, rnk""".stripMargin

  /** 65-dim ±1 hyperplane weights for the norm-augmented MIPS space —
    * same fmix32 avalanche scheme as [[planeWeights]] (see its
    * degeneracy warning), one extra component for the augmentation
    * dimension. */
  private[operators] def planeWeights65(p: Int): Seq[Float] =
    (0 until 65).map { j =>
      var h = p * 0x9E3779B9 + j * 0x85EBCA6B
      h ^= h >>> 16; h *= 0x85EBCA6B; h ^= h >>> 13; h *= 0xC2B2AE35; h ^= h >>> 16
      if ((h & 1) == 0) 1.0f else -1.0f
    }

  /** Hyperplane bucket id over a 65-dim augmented vector — the
    * [[lshBucket]] shape with the 65-dim weights; native dot, stays
    * in codegen. */
  private def lshBucket65(v: Column): Column =
    (0 until NumPlanes).map { p =>
      when(dot(v, floatArrayLit(planeWeights65(p))) >= 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)

  /** d93: sublinear MIPS — d92's exact reduction made into a real
    * sub-corpus search by plugging the Bachrach et al. (RecSys 2014)
    * norm augmentation into the d17 multiprobe hyperplane-LSH
    * machinery. Each candidate x becomes [x, sqrt(M² − ‖x‖²)] (M² =
    * the corpus max squared norm, an exact 1-row scalar), each query
    * q becomes [q, 0]; every augmented candidate then has norm
    * exactly M, so the ANGLE between q' and x' orders identically to
    * the raw inner product ⟨q, x⟩ — which is precisely what
    * hyperplane LSH buckets approximate. A query probes its own
    * 65-dim bucket plus every bucket at hamming distance 1 (the d17
    * probe set: (P+1)/2^P of the corpus ≈ 31%), and the survivors are
    * ranked by the NATIVE raw dot — monotone with the augmented
    * cosine, so no augmented arithmetic leaks into scoring. Oracled
    * end-to-end: the augmentation component rounds through FLOAT in
    * both engines (IEEE), M² and the signature arithmetic replay
    * exactly (the d10 oracle pattern).
    *
    * Shape: ONE corpus-wide augmentation pass (the 1-row M² scalar is
    * an allowlisted literal-capacity broadcast), bucket ids in
    * codegen, the probe join touches ~(P+1)/2^P of the corpus per
    * query, TopKAgg bounds the merge. The corpus is never shuffled —
    * the same 100 TB story as d10/d17, now for recommender-style
    * retrieval where magnitude is signal. */
  def d93MipsLsh(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val m2 = emb.agg(max(dot(col("embedding"), col("embedding"))).as("m2"))
    val cand = emb.crossJoin(broadcast(m2))
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"),
        lshBucket65(concat(col("embedding"),
          array(sqrt(col("m2") - dot(col("embedding"), col("embedding")))
            .cast("float")))).as("cb"))
    val probes = (lit(0) +: (0 until NumPlanes).map(p => lit(1 << p)))
      .map(m => col("bucket").bitwiseXOR(m))
    val q = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        lshBucket65(concat(col("embedding"), array(lit(0.0f)))).as("bucket"))
      .select(col("query_id"), col("qe"), explode(array(probes: _*)).as("pb"))
    val scored = broadcast(q)
      .join(cand, col("pb") === col("cb") && col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), dot(col("qe"), col("ne")).as("cos"))
    topKPerQuery(scored)
      .select(col("query_id"), col("neighbor_id"), col("cos").as("ip"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** DuckDB mirror of [[lshBucket65]] with the 65-dim weights
    * inlined. */
  private def duckBucket65(v: String): String =
    (0 until NumPlanes).map { p =>
      val w = planeWeights65(p).map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
      s"""(CASE WHEN list_reduce(list_transform(range(1, 66), i -> CAST($v[i] AS DOUBLE) * ($w)[i]), (x, y) -> x + y) >= 0 THEN ${1 << p} ELSE 0 END)"""
    }.mkString("(", " + ", ")")

  lazy val d93Sql: String =
    s"""WITH m AS (SELECT max(${duckDot("embedding", "embedding")}) AS m2 FROM embeddings),
       |cand AS (
       |  SELECT vec_id AS neighbor_id, embedding AS ne,
       |    ${duckBucket65(s"list_append(embedding, CAST(sqrt(m2 - ${duckDot("embedding", "embedding")}) AS FLOAT))")} AS cb
       |  FROM embeddings CROSS JOIN m),
       |q0 AS (
       |  SELECT vec_id AS query_id, embedding AS qe,
       |    ${duckBucket65("list_append(embedding, CAST(0.0 AS FLOAT))")} AS bucket
       |  FROM embeddings WHERE vec_id < $NumQueries),
       |q AS (
       |  SELECT query_id, qe, xor(bucket, mask) AS pb
       |  FROM q0 CROSS JOIN (SELECT unnest([${(0 +: (0 until NumPlanes).map(1 << _).toList).mkString(", ")}]) AS mask)),
       |scored AS (
       |  SELECT query_id, neighbor_id, ${duckDot("qe", "ne")} AS ip
       |  FROM q JOIN cand ON pb = cb AND neighbor_id <> query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, ip,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY ip DESC, neighbor_id) AS INTEGER) AS rnk
       |  FROM scored)
       |SELECT query_id, neighbor_id, ip, rnk FROM ranked WHERE rnk <= $TopK
       |ORDER BY query_id, rnk""".stripMargin

  /** d9: brute-force cosine top-k — queries (vec_id < 10) broadcast
    * against all other vectors, per-query top-5. */
  def d9CosineTopk(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val cand = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"))
    val scored = broadcast(q).join(cand, col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qe"), col("ne")).as("cos"))
    topKPerQuery(scored)
      .orderBy(col("query_id"), col("rnk"))
  }

  /** DuckDB cosine over two float lists, bit-identical to cosine_sim:
    * sequential left fold over CAST-to-double products. */
  private def duckCosine(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)
       | / (sqrt(list_reduce(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE)), (x, y) -> x + y))
       |    * sqrt(list_reduce(list_transform(range(1, 65), i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)))""".stripMargin

  val d9Sql: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
       |c AS (SELECT vec_id AS neighbor_id, embedding AS ne FROM embeddings),
       |scored AS (
       |  SELECT query_id, neighbor_id, ${duckCosine("qe", "ne")} AS cos
       |  FROM q JOIN c ON neighbor_id <> query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rnk
       |  FROM scored)
       |SELECT query_id, neighbor_id, cos, rnk FROM ranked WHERE rnk <= 5
       |ORDER BY query_id, rnk""".stripMargin

  val NumPlanes = 4

  /** Deterministic ±1 random-hyperplane weights.
    *
    * The sign comes from a full avalanche mix (murmur3 fmix32) of
    * (p, j), NOT a single-bit test: a linear scheme like
    * `((p*A) ^ (j*B)) & bit` factors into bit(p·A) == bit(j·B), which
    * makes EVERY plane either one fixed vector W or its negation −W —
    * all "independent" hyperplanes collapse to a single cut, each LSH
    * table ends up with 2 occupied buckets, and candidate generation
    * degenerates to ~n²/2 per table (the round-3 implementation had
    * exactly this bug). The mix makes the 64·P signs pairwise
    * independent for distinct plane ids, restoring the 2^P-bucket
    * geometry the recall math assumes. The weights are compile-time
    * constants baked into both the Spark plan and the DuckDB oracle
    * strings, so determinism is all that is required of them. */
  private[operators] def planeWeights(p: Int): Seq[Float] =
    (0 until 64).map { j =>
      var h = p * 0x9E3779B9 + j * 0x85EBCA6B
      h ^= h >>> 16; h *= 0x85EBCA6B; h ^= h >>> 13; h *= 0xC2B2AE35; h ^= h >>> 16
      if ((h & 1) == 0) 1.0f else -1.0f
    }

  /** Hyperplane bucket id: sign bit per plane via the NATIVE
    * dot_product over a literal float weight array — corpus-wide hot
    * path, stays inside whole-stage codegen (VERDICT r1 #3). */
  def lshBucket(v: Column): Column =
    (0 until NumPlanes).map { p =>
      when(dot(v, floatArrayLit(planeWeights(p))) >= 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)

  /** d10: LSH-bucketed ANN — same output shape as d9, but each query
    * only scores candidates in its hyperplane bucket. Oracled: the
    * plane weights are data-independent constants, so DuckDB replays
    * the identical signature + ranking arithmetic. */
  def d10AnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).withColumn("bucket", lshBucket(col("embedding")))
    val q = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("bucket"))
    val cand = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"), col("bucket").as("cb"))
    val scored = broadcast(q).join(cand, col("bucket") === col("cb") && col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qe"), col("ne")).as("cos"))
    topKPerQuery(scored)
      .orderBy(col("query_id"), col("rnk"))
  }

  /** DuckDB mirror of [[lshBucket]]: the ±1 weights are inlined as
    * list literals (same values [[planeWeights]] bakes into the Spark
    * plan), the dot is the same sequential fold. */
  private def duckBucket(v: String): String =
    (0 until NumPlanes).map { p =>
      val w = planeWeights(p).map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
      s"""(CASE WHEN list_reduce(list_transform(range(1, 65), i -> CAST($v[i] AS DOUBLE) * ($w)[i]), (x, y) -> x + y) >= 0 THEN ${1 << p} ELSE 0 END)"""
    }.mkString("(", " + ", ")")

  val d10Sql: String =
    s"""WITH b AS (SELECT vec_id, embedding, ${duckBucket("embedding")} AS bucket FROM embeddings),
       |q AS (SELECT vec_id AS query_id, embedding AS qe, bucket FROM b WHERE vec_id < 10),
       |c AS (SELECT vec_id AS neighbor_id, embedding AS ne, bucket AS cb FROM b),
       |scored AS (
       |  SELECT query_id, neighbor_id, ${duckCosine("qe", "ne")} AS cos
       |  FROM q JOIN c ON bucket = cb AND neighbor_id <> query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rnk
       |  FROM scored)
       |SELECT query_id, neighbor_id, cos, rnk FROM ranked WHERE rnk <= 5
       |ORDER BY query_id, rnk""".stripMargin

  /** d17: multiprobe LSH ANN — each query probes its own hyperplane
    * bucket AND every bucket at hamming distance 1 (one flipped plane
    * sign): P+1 of the 2^P buckets. Catches the near-neighbors d10
    * loses to a single borderline plane sign — recall rises from
    * ~1-P·θ/π toward 1 at (P+1)/2^P of brute-force cost. Same
    * exact-replay oracle story as d10 (probe set is pure bit
    * arithmetic on the replayed signature). */
  def d17AnnMultiprobe(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).withColumn("bucket", lshBucket(col("embedding")))
    val probes = (lit(0) +: (0 until NumPlanes).map(p => lit(1 << p)))
      .map(m => col("bucket").bitwiseXOR(m))
    val q = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        explode(array(probes: _*)).as("pb"))
    val cand = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"),
      col("bucket").as("cb"))
    // probe masks are distinct, so a candidate (one bucket) matches at
    // most one probe — no per-pair duplicates enter the scoring
    val scored = broadcast(q).join(cand, col("pb") === col("cb") && col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qe"), col("ne")).as("cos"))
    topKPerQuery(scored)
      .orderBy(col("query_id"), col("rnk"))
  }

  val d17Sql: String = {
    val probeList = (Seq(0) ++ (0 until NumPlanes).map(1 << _))
      .map(m => if (m == 0) "bucket" else s"xor(bucket, $m)").mkString("[", ", ", "]")
    s"""WITH b AS (SELECT vec_id, embedding, ${duckBucket("embedding")} AS bucket FROM embeddings),
       |q AS (SELECT vec_id AS query_id, embedding AS qe, unnest($probeList) AS pb
       |      FROM b WHERE vec_id < 10),
       |c AS (SELECT vec_id AS neighbor_id, embedding AS ne, bucket AS cb FROM b),
       |scored AS (
       |  SELECT query_id, neighbor_id, ${duckCosine("qe", "ne")} AS cos
       |  FROM q JOIN c ON pb = cb AND neighbor_id <> query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rnk
       |  FROM scored)
       |SELECT query_id, neighbor_id, cos, rnk FROM ranked WHERE rnk <= 5
       |ORDER BY query_id, rnk""".stripMargin
  }

  val NumCentroids = 16
  val NumProbes = 4
  /** Refinement rounds: measured recall@5 vs d9 at sf0.01 is 0.40 with
    * raw seeds, 0.60/0.62/0.70 after 1/2/3 rounds. Each round is one
    * extra (offline, index-build-time) pass over the corpus — at
    * 100 TB run the update over a hash-sampled subset. */
  val LloydIters = 3
  /** Quantization scale for Lloyd centroid sums: components are scaled
    * by 2^20 and floored to BIGINT, so the per-cluster mean is an
    * integer sum + one IEEE double division — order-independent and
    * bit-reproducible in any engine (the DECIMAL-determinism policy of
    * Cols.scala, adapted to float vectors). Scaling by a power of two
    * is exact on floats, so no rounding ambiguity enters the floor. */
  val QuantScale = 1048576.0 // 2^20

  /** Releases every operator family's shared artifacts for (session, dir). */
  def release(spark: SparkSession, dir: String): Unit = SessionMemo.release(spark, dir)

  /** In-row nearest-centroid id over broadcast literal centroids:
    * greatest() over (csim, -cid) structs — pure projection, ZERO
    * shuffle of the corpus (the r1 plan shuffled every vector on
    * vec_id just to run this argmax). Ties break to the smaller cid.
    * (greatest() needs ≥ 2 arguments, so a centroid set collapsed to
    * one non-empty cluster short-circuits to that cid.) */
  private def nearestCid(cents: Seq[(Int, Seq[Float])], v: Column): Column =
    if (cents.sizeIs == 1) lit(cents.head._1)
    else -greatest(cents.map { case (cid, ce) =>
      struct(cosine(v, floatArrayLit(ce)).as("csim"), lit(-cid).as("nc"))
    }: _*).getField("nc")

  /** Deterministic IVF centroids: seed with the C vectors of smallest
    * multiplicative hash (Knuth 2654435761 — SQL-expressible, unlike
    * xxhash64, so the DuckDB oracle can replay it), then [[LloydIters]]
    * rounds of Lloyd refinement. Assignment is the in-row argmax (no
    * shuffle); the update is a (cid, pos) aggregation of quantized
    * component sums — only C×dim aggregated rows ever reach the
    * driver, the corpus itself never moves. Empty clusters are dropped
    * (k shrinks) — identical semantics in the SQL replay.
    *
    * `sampleRate < 1.0` is the 100 TB refinement path: each Lloyd
    * round's assignment+update aggregation runs over a DETERMINISTIC
    * per-round hash sample of the corpus (the d16 salted-bucket idiom —
    * xxhash64(vec_id, round) permille bucket, row-local, no RNG state,
    * identical rows on any cluster/rerun) instead of a full pass.
    * Centroid estimates are means — a uniform sample's mean converges
    * at 1/√n, so a few-permille sample of 10¹⁰ vectors loses nothing
    * while cutting each round's scan 100-1000×. Seeds and the FINAL
    * assignment still see the full corpus; only refinement subsamples.
    * The default stays 1.0 — the d12 oracle replays full-pass Lloyd
    * bit-for-bit; sampled refinement is recall-equivalent, not
    * bit-identical. */
  def centroidVectors(spark: SparkSession, dir: String,
                      iters: Int = LloydIters,
                      sampleRate: Double = 1.0): Seq[(Int, Seq[Float])] =
    SessionMemo.value(spark, dir, s"vector.centroids.$iters@$sampleRate") {
      require(sampleRate > 0.0 && sampleRate <= 1.0, s"sampleRate $sampleRate outside (0, 1]")
      val emb = Tables.embeddings(spark, dir)
      // seed hash operates on vec_id mod 2^31: keeps the Knuth product
      // < 2^62.4, inside BIGINT range in EVERY engine — Spark would wrap
      // silently on long overflow while DuckDB raises, so the oracle
      // would diverge/err at vec_id ≥ ~3.5e9 without the pre-mask.
      val seeds = emb
        .withColumn("h",
          pmod(pmod(col("vec_id"), lit(2147483648L)) * lit(2654435761L), lit(4294967296L)))
        .orderBy(col("h"), col("vec_id"))
        .limit(NumCentroids)
        .select(col("embedding"))
        .collect()
        .zipWithIndex
        .map { case (r, i) => i -> r.getSeq[Float](0) }
        .toSeq
      (1 to iters).foldLeft(seeds) { (cents, round) =>
        // per-round salt: successive rounds refine against different
        // (still deterministic) subsamples, so no single sample's bias
        // compounds across rounds
        val pass =
          if (sampleRate >= 1.0) emb
          else emb.filter(
            pmod(xxhash64(col("vec_id"), lit(round)), lit(1000000L)) <
              lit(math.round(sampleRate * 1000000L)))
        val upd = pass
          .select(nearestCid(cents, col("embedding")).as("cid"),
            posexplode(col("embedding")).as(Seq("pos", "v")))
          .groupBy(col("cid"), col("pos"))
          .agg(sum(floor(col("v").cast("double") * QuantScale).cast("long")).as("s"),
            count(lit(1)).as("cnt"))
          .collect()
          .groupBy(_.getInt(0))
          .toSeq
          .map { case (cid, rows) =>
            val comps = rows.sortBy(_.getInt(1))
              .map(r => (r.getLong(2).toDouble / (QuantScale * r.getLong(3))).toFloat)
            cid -> comps.toSeq
          }
          .sortBy(_._1)
        // a pathologically tiny sample can see zero rows: keep refining
        // from the previous round instead of collapsing to no centroids
        if (upd.isEmpty) cents else upd
      }
    }(_ => ())

  /** d12: IVF ANN — inverted lists over Lloyd-refined centroids with
    * multiprobe; the 100 TB scale path. Index pass: nearest-centroid
    * assignment is a shuffle-free projection. Query pass: each query
    * ranks the C centroids in-row (sort_array over literal structs)
    * and probes its P nearest lists only — work scales with P/C of the
    * corpus instead of all of it. */
  def d12AnnIvf(spark: SparkSession, dir: String): DataFrame =
    ivfWithCentroids(spark, dir, centroidVectors(spark, dir))

  /** IVF probe/rank pipeline over a given centroid set (split out so
    * tests can compare seed-only vs Lloyd-refined recall). */
  def ivfWithCentroids(spark: SparkSession, dir: String,
                       cents: Seq[(Int, Seq[Float])]): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val assigned = emb.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("ne"), nearestCid(cents, col("embedding")).as("cid"))
    val probeArr = sort_array(array(cents.map { case (cid, ce) =>
      struct(cosine(col("qe"), floatArrayLit(ce)).as("csim"), lit(-cid).as("nc"))
    }: _*), asc = false)
    val probes = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .select(col("query_id"), col("qe"),
        explode(slice(probeArr, 1, NumProbes)).as("p"))
      .select(col("query_id"), col("qe"), (-col("p.nc")).as("cid"))
    val scored = broadcast(probes).join(assigned, Seq("cid"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qe"), col("ne")).as("cos"))
    topKPerQuery(scored)
      .orderBy(col("query_id"), col("rnk"))
  }

  /** DuckDB CTE helpers replaying the Lloyd pipeline — shared by the
    * d12 and d45 oracles (same centroids, same assignment rule). */
  private def duckAssignCte(cent: String, out: String): String =
    s"""$out AS (
       |  SELECT vec_id, embedding, cid FROM (
       |    SELECT e.vec_id, e.embedding, s.cid,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY ${duckCosine("e.embedding", "s.ce")} DESC, s.cid) AS rn
       |    FROM embeddings e CROSS JOIN $cent s) t WHERE rn = 1)""".stripMargin

  private def duckUpdateCte(assign: String, out: String): String =
    s"""${out}_sums AS (
       |  SELECT cid, pos, CAST(sum(CAST(floor(CAST(v AS DOUBLE) * 1048576.0) AS BIGINT)) AS DOUBLE)
       |      / (1048576.0 * count(*)) AS comp
       |  FROM (SELECT cid, unnest(embedding) AS v, unnest(range(1, 65)) AS pos FROM $assign)
       |  GROUP BY cid, pos),
       |$out AS (
       |  SELECT cid, list(CAST(comp AS FLOAT) ORDER BY pos) AS ce FROM ${out}_sums GROUP BY cid)""".stripMargin

  /** cent0 … centN CTE chain + the final "assigned" CTE (full-corpus
    * nearest-centroid assignment) — the shared oracle prefix. */
  private def duckCentroidAndAssignCtes: String = {
    val iters = (1 to LloydIters).map { i =>
      val prev = if (i == 1) "cent0" else s"cent${i - 1}"
      s"${duckAssignCte(prev, s"a$i")},\n${duckUpdateCte(s"a$i", s"cent$i")}"
    }.mkString(",\n")
    s"""cent0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY ((vec_id % 2147483648) * 2654435761) % 4294967296, vec_id) AS INTEGER) - 1 AS cid,
       |    embedding AS ce
       |  FROM embeddings ORDER BY ((vec_id % 2147483648) * 2654435761) % 4294967296, vec_id LIMIT $NumCentroids),
       |$iters,
       |${duckAssignCte(s"cent$LloydIters", "assigned")}""".stripMargin
  }

  /** DuckDB replay of the full IVF pipeline: same Knuth-hash seeds,
    * same quantized Lloyd updates, same assignment/probe/rank
    * arithmetic — bit-identical end to end. */
  val d12Sql: String = {
    def assignCte(cent: String, out: String): String = duckAssignCte(cent, out)
    def updateCte(assign: String, out: String): String = duckUpdateCte(assign, out)
    val iters = (1 to LloydIters).map { i =>
      val prev = if (i == 1) "cent0" else s"cent${i - 1}"
      s"${assignCte(prev, s"a$i")},\n${updateCte(s"a$i", s"cent$i")}"
    }.mkString(",\n")
    val cFinal = s"cent$LloydIters"
    s"""WITH cent0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY ((vec_id % 2147483648) * 2654435761) % 4294967296, vec_id) AS INTEGER) - 1 AS cid,
       |    embedding AS ce
       |  FROM embeddings ORDER BY ((vec_id % 2147483648) * 2654435761) % 4294967296, vec_id LIMIT $NumCentroids),
       |$iters,
       |${assignCte(cFinal, "assigned")},
       |probes AS (
       |  SELECT query_id, qe, cid FROM (
       |    SELECT e.vec_id AS query_id, e.embedding AS qe, s.cid,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY ${duckCosine("e.embedding", "s.ce")} DESC, s.cid) AS rn
       |    FROM embeddings e CROSS JOIN $cFinal s WHERE e.vec_id < $NumQueries) t WHERE rn <= $NumProbes),
       |scored AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id, ${duckCosine("p.qe", "a.embedding")} AS cos
       |  FROM probes p JOIN assigned a ON p.cid = a.cid AND a.vec_id <> p.query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rnk
       |  FROM scored)
       |SELECT query_id, neighbor_id, cos, rnk FROM ranked WHERE rnk <= 5
       |ORDER BY query_id, rnk""".stripMargin
  }

  // ---- d13: embedding-cosine near-duplicate detection ----------------

  /** L independent hyperplane tables for near-dup candidate generation.
    * Recall for a pair at cosine s is 1-(1-(1-θ/π)^P)^L (θ = acos s):
    * ≈ 1-2e-8 at s=0.99, 0.97 at s=0.9 with L=8, P=4 — misses vanish in
    * the near-dup regime the operator targets. P AUTO-SCALES with the
    * corpus (work per table is Σ|bucket|² ≈ n²/2^P): see
    * [[dupPlanesFor]]; [[DupPlanes]] is the floor, which the test
    * corpus stays at (so the exact DuckDB replay is P-stable there). */
  val NumDupTables = 8
  val DupPlanes = 4
  /** Verification threshold. Near-dup means s→1; 0.4 also exercises the
    * verify path on this corpus (whose max random cosine ≈ 0.5-0.6). */
  val DupTau = 0.4
  /** Auto-P target: mean bucket population the plane count is sized
    * for. P = log2(n/1000) keeps the per-table self-join at
    * ~n·1000/2 candidate checks — linear in n, not quadratic. */
  val DupTargetBucket = 1000L
  /** Flood backstop (mirrors DedupOps.MaxBucketSize): buckets above
    * this size get salted sub-bucketing, and sub-bucket rows beyond it
    * are rank-capped out of pairing — both observable via
    * [[d13CapStats]], nothing dropped silently. Never reached at test
    * scale, so the exact oracle is unaffected. */
  val DupMaxBucket = 10000

  /** Planes per table for a corpus of n vectors: enough buckets (2^P)
    * to hold mean population ≈ [[DupTargetBucket]], floored at
    * [[DupPlanes]] (16 buckets) so small corpora keep the recall the
    * L/P math above was sized for. */
  def dupPlanesFor(n: Long): Int = {
    val needed = math.ceil(
      math.log(math.max(n, 1L).toDouble / DupTargetBucket) / math.log(2.0)).toInt
    math.max(DupPlanes, needed)
  }

  private[graft] def dupBucket(v: Column, table: Int, planes: Int = DupPlanes): Column =
    (0 until planes).map { p =>
      when(dot(v, floatArrayLit(planeWeights(table * planes + p))) >= 0,
        lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Bucketed rows (vid, t, b, salt, bsz, rnk) for the L dup tables,
    * with the d7-style oversized-bucket backstop applied:
    *
    *  - `salt` is −1 for normal buckets; buckets whose population
    *    exceeds `maxBucket` get the low ⌈P/2⌉ bits of the NEXT table's
    *    bucket as a sub-bucket key. Those bits are hyperplane signs of
    *    independent planes, so they are locality-sensitive: a near-dup
    *    pair in an oversized bucket stays together unless one of the
    *    salt planes separates it (recall loss confined to oversized
    *    buckets, and partial agreement with table t+1 still splits the
    *    join up to 2^⌈P/2⌉×). Costs ZERO extra dot products — the next
    *    table's bucket is already computed in the same projection.
    *  - `rnk` ranks rows within (t, b, salt); consumers filter
    *    `rnk <= maxBucket` as the hard bound on worst-case join work
    *    (a flood of identical vectors that salting cannot split).
    *
    * The bucket-size frame is bounded by the key space (L·2^P rows at
    * ANY corpus size) → broadcast join, no extra corpus shuffle; the
    * rank window shares the (t, b, salt) partitioning the self-join
    * needs, so it adds no exchange of its own. */
  private[graft] def dupBucketedRows(emb: DataFrame, idCol: String, vecCol: String,
                                     planes: Int, maxBucket: Int): DataFrame = {
    val withBuckets = emb.select(
      col(idCol).as("vid") +:
        (0 until NumDupTables).map(t => dupBucket(col(vecCol), t, planes).as(s"b$t")): _*)
    val saltMask = (1 << ((planes + 1) / 2)) - 1
    val tables = (0 until NumDupTables).map { t =>
      struct(lit(t).as("t"), col(s"b$t").as("b"),
        col(s"b${(t + 1) % NumDupTables}").bitwiseAND(lit(saltMask)).as("sb"))
    }
    val rows = withBuckets.select(col("vid"), explode(array(tables: _*)).as("tb"))
      .select(col("vid"), col("tb.t").as("t"), col("tb.b").as("b"), col("tb.sb").as("sb"))
    val sizes = rows.groupBy(col("t"), col("b")).agg(count(lit(1)).as("bsz"))
    val wB = Window.partitionBy(col("t"), col("b"), col("salt")).orderBy(col("vid"))
    rows.join(broadcast(sizes), Seq("t", "b"))
      .withColumn("salt", when(col("bsz") > maxBucket, col("sb")).otherwise(lit(-1)))
      .withColumn("rnk", row_number().over(wB))
      .select(col("vid"), col("t"), col("b"), col("salt"), col("bsz"), col("rnk"))
  }

  /** Candidate pairs ∩ exact cosine ≥ τ over ANY (id, embedding) frame:
    * explode each vector into its L table buckets, self-join per
    * (table, bucket[, salt]), dedup candidate IDS first (each pair is
    * verified once, not once per agreeing table), then join the vectors
    * back and verify with the native cosine. Only ids cross the
    * candidate shuffle — the 64-float payloads move once, in the
    * verify join. `bucketed` lets callers pass a materialized
    * [[dupBucketedRows]] (d13 caches it — the x/y join sides and the
    * size agg all read one computation). */
  private[graft] def embeddingDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                                       planes: Int = DupPlanes,
                                       maxBucket: Int = DupMaxBucket,
                                       bucketed: Option[DataFrame] = None): DataFrame = {
    val rows = bucketed.getOrElse(dupBucketedRows(emb, idCol, vecCol, planes, maxBucket))
      .filter(col("rnk") <= maxBucket)
      .select(col("vid"), col("t"), col("b"), col("salt"))
    val cand = rows.as("x").join(rows.as("y"),
        col("x.t") === col("y.t") && col("x.b") === col("y.b") &&
          col("x.salt") === col("y.salt") && col("x.vid") < col("y.vid"))
      .select(col("x.vid").as("vec_a"), col("y.vid").as("vec_b"))
      .distinct()
    val ea = emb.select(col(idCol).as("vec_a"), col(vecCol).as("ea"))
    val eb = emb.select(col(idCol).as("vec_b"), col(vecCol).as("eb"))
    cand.join(ea, "vec_a").join(eb, "vec_b")
      .select(col("vec_a"), col("vec_b"), cosine(col("ea"), col("eb")).as("cos"))
      .filter(col("cos") >= DupTau)
  }

  /** Corpus vector count, memoized per (session, dataset) — one cheap
    * count() at index time drives the auto-P decision. */
  private def corpusCount(spark: SparkSession, dir: String): Long =
    SessionMemo.value(spark, dir, "vector.count")(Tables.embeddings(spark, dir).count())(_ => ())

  /** Materialized-once bucketed rows for the canonical embeddings
    * table: both sides of the candidate self-join and the cap-stats
    * query read this cache instead of recomputing the 8-table
    * bucketing projection per reference. */
  private def sharedDupBuckets(spark: SparkSession, dir: String): DataFrame = {
    val planes = dupPlanesFor(corpusCount(spark, dir))
    SessionMemo.frame(spark, dir, "vector.dupbuckets")(
      dupBucketedRows(Tables.embeddings(spark, dir), "vec_id", "embedding",
        planes, DupMaxBucket))
  }

  /** Cap observability for d13 (mirrors DedupOps.d7CapStats): one row
    * with the number of (table, bucket) cells that triggered salting
    * and the number of bucket rows the flood backstop excluded from
    * pairing. Zero/zero ⇒ the candidate join is exactly the declared
    * L-table bucketing — what the DuckDB oracle replays. */
  def d13CapStats(spark: SparkSession, dir: String): DataFrame =
    sharedDupBuckets(spark, dir).agg(
      count_distinct(when(col("bsz") > DupMaxBucket, struct(col("t"), col("b"))))
        .as("oversized_buckets"),
      sum(when(col("rnk") > DupMaxBucket, 1L).otherwise(0L)).as("capped_rows"))

  /** d13: embedding-cosine near-dup pairs over the embeddings table.
    * Oracled exactly: the plane weights are data-independent constants,
    * so DuckDB replays the identical L-table bucketing + cosine verify
    * (same semantics as the d10 oracle — exact wrt the declared
    * candidate generation, with the recall bound documented above; the
    * test corpus keeps P at the floor and no bucket near the cap, so
    * salting never engages there and the replay is exact). */
  def d13DedupEmbedding(spark: SparkSession, dir: String): DataFrame = {
    val planes = dupPlanesFor(corpusCount(spark, dir))
    embeddingDupPairs(Tables.embeddings(spark, dir), "vec_id", "embedding",
        planes, DupMaxBucket, Some(sharedDupBuckets(spark, dir)))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  val d13Sql: String = {
    def duckDupBucket(v: String, table: Int): String =
      (0 until DupPlanes).map { p =>
        val w = planeWeights(table * DupPlanes + p)
          .map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
        s"""(CASE WHEN list_reduce(list_transform(range(1, 65), i -> CAST($v[i] AS DOUBLE) * ($w)[i]), (x, y) -> x + y) >= 0 THEN ${1 << p} ELSE 0 END)"""
      }.mkString("(", " + ", ")")
    val bucketCols = (0 until NumDupTables)
      .map(t => s"${duckDupBucket("embedding", t)} AS b$t").mkString(",\n    ")
    val anyTable = (0 until NumDupTables).map(t => s"x.b$t = y.b$t").mkString(" OR ")
    s"""WITH b AS (
       |  SELECT vec_id, embedding,
       |    $bucketCols
       |  FROM embeddings),
       |cand AS (
       |  SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
       |    x.embedding AS ea, y.embedding AS eb
       |  FROM b x JOIN b y ON x.vec_id < y.vec_id AND ($anyTable))
       |SELECT vec_a, vec_b, ${duckCosine("ea", "eb")} AS cos
       |FROM cand
       |WHERE ${duckCosine("ea", "eb")} >= $DupTau
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  /** d36: metadata-filtered vector search — the retrieval pattern a
    * RAG/eval pipeline runs: top-k by cosine among only the documents
    * passing a relational predicate (d3's quality rule here), i.e.
    * "filter THEN search", with the filter evaluated as a relational
    * semi-join on ids — never a post-filter of an oversized ANN result
    * (which under-fills k when the predicate is selective). Shape: the
    * quality ids come from one row-local documents scan; the semi-join
    * prunes the candidate side BEFORE scoring (ids only — embeddings
    * never move for rejected docs); then d9's broadcast-queries +
    * native-cosine + bounded TopKAgg merge. Embeddings align 1:1 with
    * documents by id in the test corpus (vec_id = doc_id). */
  def d36FilteredSearch(spark: SparkSession, dir: String): DataFrame = {
    val qualityIds = TextOps.d3QualityScore(spark, dir)
      .filter(col("quality_flag") === "ok")
      .select(col("doc_id"))
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val cand = emb
      .join(qualityIds, emb("vec_id") === qualityIds("doc_id"), "left_semi")
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"))
    val scored = broadcast(q).join(cand, col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qe"), col("ne")).as("cos"))
    topKPerQuery(scored)
      .orderBy(col("query_id"), col("rnk"))
  }

  val d36Sql: String =
    s"""WITH filt AS (
       |  SELECT doc_id FROM (${TextOps.d3Sql}) WHERE quality_flag = 'ok'),
       |q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < $NumQueries),
       |c AS (
       |  SELECT vec_id AS neighbor_id, embedding AS ne FROM embeddings
       |  WHERE vec_id IN (SELECT doc_id FROM filt)),
       |scored AS (
       |  SELECT query_id, neighbor_id, ${duckCosine("qe", "ne")} AS cos
       |  FROM q JOIN c ON neighbor_id <> query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rnk
       |  FROM scored)
       |SELECT query_id, neighbor_id, cos, rnk FROM ranked WHERE rnk <= $TopK
       |ORDER BY query_id, rnk""".stripMargin

  /** Quantization levels for d44 (int8: codes 0..255). */
  val QuantLevels = 256

  /** Per-dimension (min, max) calibration stats — a map-side-combined
    * aggregate to exactly `dim` rows. Shared by the d44 report and the
    * quantized-search helpers below. */
  private def dimStats(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim"), col("x").cast("double").as("x"))
      .groupBy(col("dim")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))

  /** Quantized code for one (value, min, max): floor-scaled to 0..255,
    * clamped at the top so x = mx lands on 255, degenerate dims (all
    * values equal) collapse to code 0. Float→double widening is exact
    * and the scale arithmetic is plain IEEE doubles evaluated in the
    * same order in any engine, so codes replay bit-for-bit. */
  private def quantCode(x: Column, mn: Column, mx: Column): Column =
    when(mx === mn, lit(0L)).otherwise(
      least(floor((x - mn) * (QuantLevels - 1) / (mx - mn)), lit((QuantLevels - 1).toLong)))

  /** d44: int8 embedding quantization calibration — the memory-scaling
    * step an ANN/vector-search deployment runs before indexing (4 bytes
    * → 1 byte per dimension): per-dim min/max calibration, then each
    * value floor-scaled into 0..255. The report is the per-dimension
    * calibration card: range, distinct code count (how much of the
    * int8 budget the dim actually uses) and code extremes.
    *
    * Shape: TWO corpus scans by design — scan 1 reduces to `dim` stat
    * rows (map-side combined), which broadcast back into scan 2's
    * row-local code projection. The window alternative (stats over
    * partitionBy(dim)) is one scan but shuffles the ENTIRE corpus into
    * `dim` partitions — a parallelism collapse at 100 TB; broadcasting
    * 64 stat rows is free. The ScalaTest spec asserts quantized-cosine
    * top-k recall ≥ 0.9 vs the float path (d9's query set). */
  def d44EmbedQuantize(spark: SparkSession, dir: String): DataFrame = {
    val stats = dimStats(spark, dir)
    val codes = Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim"), col("x").cast("double").as("x"))
      .join(broadcast(stats), "dim")
      .select(col("dim"), col("mn"), col("mx"),
        quantCode(col("x"), col("mn"), col("mx")).as("code"))
    // (mn, mx) are functionally dependent on dim — grouping by all three
    // keeps them in the output without a second stats join, which would
    // re-derive the stats aggregate from a third scan (no self-join CSE)
    codes.groupBy(col("dim"), col("mn"), col("mx"))
      .agg(count_distinct(col("code")).as("n_codes"),
        min(col("code")).as("min_code"), max(col("code")).as("max_code"))
      .orderBy(col("dim"))
  }

  val d44Sql: String =
    """WITH ex AS (
      |  SELECT CAST(i - 1 AS INTEGER) AS dim, CAST(embedding[i] AS DOUBLE) AS x
      |  FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i)),
      |stats AS (
      |  SELECT dim, min(x) AS mn, max(x) AS mx FROM ex GROUP BY dim),
      |codes AS (
      |  SELECT ex.dim,
      |    CASE WHEN mx = mn THEN 0
      |         ELSE least(floor((x - mn) * 255 / (mx - mn)), 255) END AS code
      |  FROM ex JOIN stats ON ex.dim = stats.dim)
      |SELECT dim, mn, mx,
      |  count(DISTINCT code) AS n_codes,
      |  CAST(min(code) AS BIGINT) AS min_code, CAST(max(code) AS BIGINT) AS max_code
      |FROM codes JOIN stats USING (dim)
      |GROUP BY dim, mn, mx ORDER BY dim""".stripMargin

  /** Quantized-embedding reconstruction: codes decoded back to the cell
    * midpoint, for the spec's recall check (not an oracled query — the
    * RECALL assertion is the contract, the calibration card above is
    * the oracled part). Returns (vec_id, qembedding float array). */
  private[graft] def dequantized(spark: SparkSession, dir: String): DataFrame = {
    val stats = dimStats(spark, dir)
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim"), col("x").cast("double").as("x"))
      .join(broadcast(stats), "dim")
      .select(col("vec_id"), col("dim"),
        when(col("mx") === col("mn"), col("mn"))
          .otherwise(col("mn") + (quantCode(col("x"), col("mn"), col("mx")) + 0.5)
            * (col("mx") - col("mn")) / (QuantLevels - 1)).as("xq"))
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("dim"), col("xq")))).as("pairs"))
      .select(col("vec_id"),
        transform(col("pairs"), p => p.getField("xq").cast("float")).as("qembedding"))
  }

  /** d45: semantic dedup (the SemDeDup recipe — Abbas et al. 2023,
    * arXiv:2303.09540): embeddings are clustered (the d12 Lloyd
    * centroids, in-row assignment — zero corpus shuffle), candidate
    * pairs form ONLY within a cluster (the cluster equi-join replaces
    * the all-pairs cosine matrix — the entire point of the method at
    * corpus scale), and a document is DROPPED iff a lower-id document
    * in its cluster is cosine-similar at ≥ [[DupTau]]. The kept set is
    * therefore pairwise-dissimilar within every cluster (if two kept
    * docs were similar, the higher id would be dominated) and the rule
    * is a single relational EXISTS — deterministic, engine-replayable,
    * no sequential greedy scan. Cross-cluster near-dups are invisible
    * by design (the documented SemDeDup recall tradeoff; d13's
    * multi-table LSH is the complementary high-recall path).
    *
    * Scale: the self-join partitions on cid, so parallelism = #clusters
    * and per-cluster work is O(|cluster|²) cosines — C grows with the
    * corpus (real SemDeDup uses ~50k clusters at web scale), and a
    * flooded cluster takes d13's salted sub-bucket + cap treatment.
    * The assigned frame is computed once (shared cache): the pair join
    * reads both sides from it instead of re-running the 16-centroid
    * argmax projection three times. */
  def d45SemDedup(spark: SparkSession, dir: String): DataFrame = {
    val cents = centroidVectors(spark, dir)
    val assigned = SessionMemo.frame(spark, dir, "vector.semassign") {
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"),
          nearestCid(cents, col("embedding")).as("cid"))
    }
    val dominated = assigned.as("x").join(assigned.as("y"),
        col("x.cid") === col("y.cid") && col("y.vec_id") < col("x.vec_id"))
      .select(col("x.vec_id").as("vec_id"), col("y.vec_id").as("dom"),
        cosine(col("x.embedding"), col("y.embedding")).as("cos"))
      .filter(col("cos") >= DupTau)
      .groupBy(col("vec_id"))
      .agg(min(col("dom")).as("dominated_by"), max(col("cos")).as("max_cos"))
    assigned.select(col("vec_id"), col("cid"))
      .join(dominated, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cid"),
        col("dominated_by").isNull.as("kept"),
        col("dominated_by"), col("max_cos"))
      .orderBy(col("vec_id"))
  }

  val d45Sql: String =
    s"""WITH $duckCentroidAndAssignCtes,
       |sims AS (
       |  SELECT x.vec_id AS vec_id, y.vec_id AS dom,
       |    ${duckCosine("x.embedding", "y.embedding")} AS cos
       |  FROM assigned x JOIN assigned y
       |    ON x.cid = y.cid AND y.vec_id < x.vec_id),
       |dominated AS (
       |  SELECT vec_id, min(dom) AS dominated_by, max(cos) AS max_cos
       |  FROM sims WHERE cos >= $DupTau GROUP BY vec_id)
       |SELECT a.vec_id, a.cid, d.dominated_by IS NULL AS kept,
       |  d.dominated_by, d.max_cos
       |FROM assigned a LEFT JOIN dominated d ON a.vec_id = d.vec_id
       |ORDER BY a.vec_id""".stripMargin

  /** d65: ANN recall audit — the evaluation harness an index owner
    * runs before trusting an approximate path: per query, how much of
    * the EXACT top-k (d9) the LSH index (d10) recovered, as integer
    * basis points. Composes the two existing deterministic pipelines —
    * a left semi-join on (query, neighbor) against the approximate
    * set — so the recall number itself is oracled cross-engine (most
    * eval harnesses can't be: both sides here are bit-deterministic).
    * The spec-grade recall invariants live in OperatorSpec; this is
    * the queryable REPORT form.
    *
    * Shape: both sides are ≤ queries·k rows after their own pipelines;
    * the audit join is trivially broadcastable. Each pipeline is
    * evaluated ONCE (the d55/c21 lineage discipline — the first form
    * ran d9 twice and d10 under a second hint): a left-outer join
    * marks per-exact-row recovery, then one groupBy derives n_exact
    * and n_matched together. (query, neighbor) is unique on both
    * sides, so the outer join cannot fan out. */
  def d65AnnRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = d9CosineTopk(spark, dir).select(col("query_id"), col("neighbor_id"))
    val approx = d10AnnLsh(spark, dir)
      .select(col("query_id").as("qa"), col("neighbor_id").as("na"))
    exact
      .join(broadcast(approx),
        col("query_id") === col("qa") && col("neighbor_id") === col("na"), "left_outer")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"), count(col("qa")).as("n_matched"))
      .select(col("query_id"), col("n_exact"), col("n_matched"),
        expr("(n_matched * 10000) div n_exact").as("recall_bp"))
      .orderBy(col("query_id"))
  }

  val d65Sql: String =
    s"""WITH exact AS ($d9Sql),
       |approx AS ($d10Sql)
       |SELECT e.query_id, count(*) AS n_exact,
       |  count(a.query_id) AS n_matched,
       |  (count(a.query_id) * 10000) // count(*) AS recall_bp
       |FROM exact e LEFT JOIN approx a
       |  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
       |GROUP BY e.query_id
       |ORDER BY e.query_id""".stripMargin

  // ---- d69: product-quantization ANN (the compression half of IVF-PQ,
  // Jégou et al. 2011, "Product Quantization for Nearest Neighbor
  // Search", IEEE TPAMI 33(1)) -------------------------------------------

  /** Subspace count × sub-dimension tiles the 64-dim embedding. */
  val PqSubspaces = 8
  val PqSubDim = 8
  /** Codes per subspace codebook. 16 codes × 8 subspaces (16⁸
    * signatures) — enough resolution for the recall spec at
    * test SF while keeping the oracle's CTE chain bounded; production
    * tables run K=256 (1 byte per subspace) with the identical plan
    * shape. */
  val PqCodes = 16
  /** Per-subspace Lloyd refinement rounds (d12's quantized-update
    * discipline; each is an offline index-build pass). */
  val PqLloydIters = 2
  /** ADC shortlist size per query for the exact re-rank pass. */
  val PqShortlist = 50

  /** m-th subvector (1-based slice, matches DuckDB's `l[a:b]`). */
  private def pqSlice(v: Column, m: Int): Column =
    slice(v, m * PqSubDim + 1, PqSubDim)

  /** Bit-portable squared-L2 via three NATIVE dot products:
    * |a|² + |c|² − 2·a·c. No per-component HOF in the corpus path, and
    * the identical three-term expression (same adds, same order)
    * replays in DuckDB, so assignment argmins agree bit-for-bit. L2 is
    * PQ's native metric — unlike cosine it needs no norm division, so
    * no NaN corner on a zero subvector. */
  private def l2sq(a: Column, c: Column): Column =
    dot(a, a) + dot(c, c) - lit(2.0) * dot(a, c)

  /** In-row nearest-code argmin over broadcast literal sub-centroids
    * (ties to the smaller code) — zero shuffle, the nearestCid shape. */
  private def pqAssign(cb: Seq[(Int, Seq[Float])], sub: Column): Column =
    if (cb.sizeIs == 1) lit(cb.head._1)
    else least(cb.map { case (code, ce) =>
      struct(l2sq(sub, floatArrayLit(ce)).as("d"), lit(code).as("c"))
    }: _*).getField("c")

  /** All [[PqSubspaces]] codebooks, trained together and memoized: seed
    * vectors (smallest Knuth hash — the d12 idiom, one bounded collect
    * shared by every subspace) then [[PqLloydIters]] rounds of quantized
    * Lloyd PER SUBSPACE. Each round's update aggregates ≤ K×subdim rows
    * to the driver; the corpus never shuffles. Empty codes drop (k
    * shrinks) — the oracle replays that too. */
  private[operators] def pqCodebooks(spark: SparkSession, dir: String)
      : Seq[Seq[(Int, Seq[Float])]] =
    SessionMemo.value(spark, dir, "vector.pq") {
      val emb = Tables.embeddings(spark, dir)
      val seedRows = emb
        .withColumn("h",
          pmod(pmod(col("vec_id"), lit(2147483648L)) * lit(2654435761L), lit(4294967296L)))
        .orderBy(col("h"), col("vec_id"))
        .limit(PqCodes)
        .select(col("embedding"))
        .collect()
        .zipWithIndex
        .map { case (r, i) => i -> r.getSeq[Float](0) }
        .toSeq
      (0 until PqSubspaces).map { m =>
        val seeds = seedRows.map { case (code, v) =>
          code -> v.slice(m * PqSubDim, (m + 1) * PqSubDim) }
        (1 to PqLloydIters).foldLeft(seeds) { (cb, _) =>
          val sub = pqSlice(col("embedding"), m)
          val upd = emb
            .select(pqAssign(cb, sub).as("code"), posexplode(sub).as(Seq("pos", "v")))
            .groupBy(col("code"), col("pos"))
            .agg(sum(floor(col("v").cast("double") * QuantScale).cast("long")).as("s"),
              count(lit(1)).as("cnt"))
            .collect()
            .groupBy(_.getInt(0))
            .toSeq
            .map { case (code, rows) =>
              code -> rows.sortBy(_.getInt(1))
                .map(r => (r.getLong(2).toDouble / (QuantScale * r.getLong(3))).toFloat)
                .toSeq
            }
            .sortBy(_._1)
          if (upd.isEmpty) cb else upd
        }
      }
    }(_ => ())

  /** d69: PQ asymmetric-distance ANN — the MEMORY-bounded scale path the
    * IVF family (d12/d17) doesn't cover: 64 float32 components (256 B)
    * compress to [[PqSubspaces]] small codes (≤ 8 B, 4 B at K=256), so a 10¹⁰-vector
    * corpus's index fits ~40 GB instead of 2.5 TB and scoring reads
    * codes, never raw vectors. Encode is an in-row argmin per subspace
    * (pure projection, zero shuffle). Queries (bounded: vec_id <
    * [[NumQueries]]) collect to the driver and their ADC lookup tables
    * — dot(query subvector, sub-centroid), M×K doubles per query — bake
    * into LITERAL when-chains, so corpus scoring is one codegen'd
    * projection over the code columns: no join at all, the classic ADC
    * table-scan. Approximate score = Σ_m LUT[m][code_m] (fixed
    * left-to-right add order, replayed verbatim in SQL); the per-query
    * ADC top-[[PqShortlist]] shortlist (bounded TopKAgg merge) is then
    * RE-RANKED exactly — only queries×R shortlist rows ever touch raw
    * vectors again, via broadcast equi-joins — and the exact-cosine
    * top-k ships (Jégou's IVFADC-R: codes prune, floats decide). At
    * 100 TB this composes with d12's inverted lists (probe the IVF
    * cell, ADC-scan its codes, re-rank the shortlist). */
  def d69AnnPq(spark: SparkSession, dir: String): DataFrame = {
    val cbs = pqCodebooks(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    def dotD(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x.toDouble * y.toDouble }
    val qs = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    val codeCols = (0 until PqSubspaces).map(m =>
      pqAssign(cbs(m), pqSlice(col("embedding"), m)).as(s"c$m"))
    val encoded = emb.select(col("vec_id").as("neighbor_id") +: codeCols: _*)
    // ADC lookup as a literal-array index, not a 16-branch when-chain:
    // the LUT value for code c sits at slot c of a dense array (codes
    // a shrunken codebook dropped keep a 0.0 filler slot pqAssign can
    // never emit), so each (query, subspace) term is ONE element_at
    // instead of |codes| equality branches — same doubles, same
    // fixed-order sum, ~16x smaller expression tree (r16: the 1280-
    // branch tree cost ~1.5 s of analysis+codegen per construction and
    // interpreted-branch time per row)
    val scoreStructs = array(qs.map { case (qid, qv) =>
      val adc = (0 until PqSubspaces).map { m =>
        val qsub = qv.slice(m * PqSubDim, (m + 1) * PqSubDim)
        val cb = cbs(m)
        if (cb.sizeIs == 1) lit(dotD(qsub, cb.head._2))
        else {
          val lut = Array.fill(cb.map(_._1).max + 1)(0.0)
          cb.foreach { case (code, ce) => lut(code) = dotD(qsub, ce) }
          element_at(lit(lut), col(s"c$m") + 1)
        }
      }.reduce(_ + _)
      struct(lit(qid).as("query_id"), adc.as("cos"))
    }: _*)
    val scored = encoded
      .select(col("neighbor_id"), explode(scoreStructs).as("s"))
      .select(col("s.query_id").as("query_id"), col("neighbor_id"), col("s.cos").as("cos"))
      .filter(col("neighbor_id") =!= col("query_id"))
    // ADC shortlist → exact re-rank (Jégou's IVFADC-R): only the
    // queries×R shortlist ever touches raw vectors again — a broadcast
    // equi-join against the corpus, then exact cosine on ≤ q·R rows.
    val shortlist = topKPerQuery(scored, PqShortlist)
      .select(col("query_id"), col("neighbor_id"))
    val cand = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"))
    val qe = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val exact = broadcast(shortlist)
      .join(cand, Seq("neighbor_id"))
      .join(broadcast(qe), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qe"), col("ne")).as("cos"))
    topKPerQuery(exact)
      .orderBy(col("query_id"), col("rnk"))
  }

  private def duckDotSub(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, ${PqSubDim + 1}), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"

  private def duckL2sq(a: String, b: String): String =
    s"${duckDotSub(a, a)} + ${duckDotSub(b, b)} - 2.0 * ${duckDotSub(a, b)}"

  /** DuckDB replay of the full PQ pipeline: same seeds, same quantized
    * per-subspace Lloyd, same L2 argmin encode, same LUT join (the SQL
    * form of the literal-baked when-chain), same fixed-order ADC sum. */
  val d69Sql: String = {
    val sb = new StringBuilder
    sb ++= s"""WITH seeds AS (
       |  SELECT CAST(row_number() OVER (ORDER BY ((vec_id % 2147483648) * 2654435761) % 4294967296, vec_id) AS INTEGER) - 1 AS code,
       |    embedding AS se
       |  FROM embeddings ORDER BY ((vec_id % 2147483648) * 2654435761) % 4294967296, vec_id LIMIT $PqCodes)""".stripMargin
    for (m <- 0 until PqSubspaces) {
      val lo = m * PqSubDim + 1
      val hi = (m + 1) * PqSubDim
      sb ++= s""",
         |cb${m}_0 AS (SELECT code, se[$lo:$hi] AS ce FROM seeds)""".stripMargin
      for (i <- 1 to PqLloydIters) {
        sb ++= s""",
           |asg${m}_$i AS (
           |  SELECT vec_id, sub, code FROM (
           |    SELECT e.vec_id, e.embedding[$lo:$hi] AS sub, c.code,
           |      row_number() OVER (PARTITION BY e.vec_id ORDER BY ${duckL2sq(s"e.embedding[$lo:$hi]", "c.ce")} ASC, c.code) AS rn
           |    FROM embeddings e CROSS JOIN cb${m}_${i - 1} c) t WHERE rn = 1),
           |cb${m}_${i}_sums AS (
           |  SELECT code, pos, CAST(sum(CAST(floor(CAST(v AS DOUBLE) * 1048576.0) AS BIGINT)) AS DOUBLE)
           |      / (1048576.0 * count(*)) AS comp
           |  FROM (SELECT code, unnest(sub) AS v, unnest(range(1, ${PqSubDim + 1})) AS pos FROM asg${m}_$i)
           |  GROUP BY code, pos),
           |cb${m}_$i AS (
           |  SELECT code, list(CAST(comp AS FLOAT) ORDER BY pos) AS ce FROM cb${m}_${i}_sums GROUP BY code)""".stripMargin
      }
      sb ++= s""",
         |enc$m AS (
         |  SELECT vec_id, code AS c$m FROM (
         |    SELECT e.vec_id, c.code,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY ${duckL2sq(s"e.embedding[$lo:$hi]", "c.ce")} ASC, c.code) AS rn
         |    FROM embeddings e CROSS JOIN cb${m}_$PqLloydIters c) t WHERE rn = 1),
         |lut$m AS (
         |  SELECT q.vec_id AS query_id, c.code, ${duckDotSub(s"q.embedding[$lo:$hi]", "c.ce")} AS v
         |  FROM embeddings q CROSS JOIN cb${m}_$PqLloydIters c WHERE q.vec_id < $NumQueries)""".stripMargin
    }
    val encJoin = (1 until PqSubspaces)
      .map(m => s"JOIN enc$m e$m USING (vec_id)").mkString(" ")
    val encCols = (0 until PqSubspaces).map(m => s"e$m.c$m").mkString(", ")
    val lutJoins = (0 until PqSubspaces).map { m =>
      if (m == 0) s"JOIN lut0 l0 ON l0.code = e.c0"
      else s"JOIN lut$m l$m ON l$m.query_id = l0.query_id AND l$m.code = e.c$m"
    }.mkString("\n  ")
    val adcSum = (0 until PqSubspaces).map(m => s"l$m.v").mkString(" + ")
    sb ++= s""",
       |enc AS (
       |  SELECT vec_id, $encCols
       |  FROM enc0 e0 $encJoin),
       |scored AS (
       |  SELECT l0.query_id, e.vec_id AS neighbor_id, $adcSum AS adc
       |  FROM enc e
       |  $lutJoins
       |  WHERE e.vec_id <> l0.query_id),
       |shortlist AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS rnk
       |    FROM scored) t WHERE rnk <= $PqShortlist),
       |exact AS (
       |  SELECT s.query_id, s.neighbor_id, ${duckCosine("q.embedding", "n.embedding")} AS cos
       |  FROM shortlist s
       |  JOIN embeddings n ON n.vec_id = s.neighbor_id
       |  JOIN embeddings q ON q.vec_id = s.query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rnk
       |  FROM exact)
       |SELECT query_id, neighbor_id, cos, rnk FROM ranked WHERE rnk <= $TopK
       |ORDER BY query_id, rnk""".stripMargin
    sb.toString
  }

  /** d70: embedding-level cross-split leakage audit — the check d47's
    * word-3-gram contamination scan structurally cannot see: a
    * paraphrased twin of a train doc shares no raw n-grams, but its
    * embedding still lands within [[DupTau]] cosine. d46's split is
    * leak-free at the TEXT near-dup layer by construction; this audit
    * measures what leaks through at the EMBEDDING layer. Per eval
    * (val/test) doc with at least one train neighbor at cos ≥ τ: the
    * train-neighbor count and the worst (max) cosine.
    *
    * Shape: pure composition over the shared frames — d13's LSH-bucketed
    * candidate pairs (the band equi-join, never all-pairs) and d46's
    * split labels (cached CC clusters). The split frame is evaluated
    * ONCE: pairs unpivot to (pair, side, doc_id) rows, one ids-keyed
    * equi-join attaches labels, and a regroup per pair restores
    * (split_a, split_b) — the d65 single-eval discipline, not a double
    * join of the d46 lineage. Pairs are dup-rate-sized (fact-bounded),
    * splits are ids-only; both shuffle on 8-byte keys. vec_id ≡ doc_id
    * in the test corpus (the d36 alignment). */
  def d70SplitEmbedLeak(spark: SparkSession, dir: String): DataFrame = {
    val planes = dupPlanesFor(corpusCount(spark, dir))
    val pairs = embeddingDupPairs(Tables.embeddings(spark, dir), "vec_id", "embedding",
      planes, DupMaxBucket, Some(sharedDupBuckets(spark, dir)))
    val splits = CorpusOps.d46LeakageSplit(spark, dir)
      .select(col("doc_id"), col("split"))
    val sides = pairs.select(col("vec_a"), col("vec_b"), col("cos"),
        explode(array(
          struct(col("vec_a").as("doc_id"), lit("a").as("side")),
          struct(col("vec_b").as("doc_id"), lit("b").as("side")))).as("s"))
      .select(col("vec_a"), col("vec_b"), col("cos"),
        col("s.doc_id").as("doc_id"), col("s.side").as("side"))
    val byPair = sides.join(splits, "doc_id")
      .groupBy(col("vec_a"), col("vec_b"), col("cos"))
      .agg(max(when(col("side") === "a", col("split"))).as("split_a"),
        max(when(col("side") === "b", col("split"))).as("split_b"))
    byPair
      .filter((col("split_a") === "train") =!= (col("split_b") === "train"))
      .select(
        when(col("split_a") === "train", col("vec_b")).otherwise(col("vec_a")).as("doc_id"),
        when(col("split_a") === "train", col("split_b")).otherwise(col("split_a")).as("split"),
        col("cos"))
      .groupBy(col("doc_id"), col("split"))
      .agg(count(lit(1)).as("n_train_nbrs"), max(col("cos")).as("max_cos"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB replay: d13's full LSH pair SQL and d46's recursive-CC split
    * SQL verbatim as subqueries (the d15 composition idiom). */
  val d70Sql: String =
    s"""WITH pairs AS (SELECT vec_a, vec_b, cos FROM ($d13Sql)),
       |splits AS (SELECT doc_id, split FROM (${CorpusOps.d46Sql})),
       |sided AS (
       |  SELECT p.vec_a, p.vec_b, p.cos, sa.split AS split_a, sb.split AS split_b
       |  FROM pairs p
       |  JOIN splits sa ON sa.doc_id = p.vec_a
       |  JOIN splits sb ON sb.doc_id = p.vec_b),
       |leaks AS (
       |  SELECT vec_b AS doc_id, split_b AS split, cos FROM sided
       |  WHERE split_a = 'train' AND split_b <> 'train'
       |  UNION ALL
       |  SELECT vec_a AS doc_id, split_a AS split, cos FROM sided
       |  WHERE split_b = 'train' AND split_a <> 'train')
       |SELECT doc_id, split, count(*) AS n_train_nbrs, max(cos) AS max_cos
       |FROM leaks GROUP BY doc_id, split ORDER BY doc_id""".stripMargin

  /** d77: IVF inverted-list balance audit — the index-health card
    * behind d12's probe cost (a22's skew report at the VECTOR grain):
    * per centroid, list population, exact bp share of the corpus, and
    * a hot-list flag (population > 2× the uniform share — cross-
    * multiplied integers, the a22 rule). IVF probe latency at scale is
    * max(probed list), not the mean: a hot list means every query
    * probing it scans far more than corpus/C vectors, and the fix
    * (re-seed, split the list, raise C) starts from exactly this
    * frame. Embedding-space clustering is NEVER uniform (real corpora
    * concentrate), so shipping an IVF index without this audit is
    * shipping unknown tail latency.
    *
    * Shape: assignment is d12's in-row nearest-centroid argmax over
    * broadcast literal centroids (ZERO corpus shuffle, centroids from
    * the session cache — a bench/pipeline running d12+d77 trains Lloyd
    * once); one ≤C-row reduce, totals via q11-idiom unpartitioned
    * windows over that reduced frame. DuckDB replays the full Lloyd
    * chain bit-for-bit (the d12 oracle's CTE prefix, shared). */
  def d77IvfBalance(spark: SparkSession, dir: String): DataFrame = {
    val cents = centroidVectors(spark, dir)
    val wAll = Window.partitionBy()
    Tables.embeddings(spark, dir)
      .select(nearestCid(cents, col("embedding")).as("cid"))
      .groupBy(col("cid")).agg(count(lit(1)).as("n_vecs"))
      .withColumn("total", sum(col("n_vecs")).over(wAll))
      .withColumn("n_lists", count(lit(1)).over(wAll))
      .select(col("cid"), col("n_vecs"),
        expr("(n_vecs * 10000) div total").as("share_bp"),
        (col("n_vecs") * col("n_lists") > col("total") * 2).as("hot_list"))
      .orderBy(col("cid"))
  }

  val d77Sql: String =
    s"""WITH $duckCentroidAndAssignCtes,
       |l AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs FROM assigned GROUP BY cid),
       |t AS (SELECT *,
       |  CAST(sum(n_vecs) OVER () AS BIGINT) AS total,
       |  CAST(count(*) OVER () AS BIGINT) AS n_lists FROM l)
       |SELECT cid, n_vecs,
       |  (n_vecs * 10000) // total AS share_bp,
       |  n_vecs * n_lists > total * 2 AS hot_list
       |FROM t ORDER BY cid""".stripMargin

  /** d94: topic-mix audit — the e9 modality-mix report rebuilt on REAL
    * content clusters instead of pseudo-decoded labels: every document
    * embedding is assigned to its nearest IVF centroid (the d12
    * Lloyd-refined codebook — "topics" in the k-means sense), then per
    * (source, topic): the document count, the source-local share, the
    * corpus-wide share of that topic (the de-facto target mix), and
    * the signed delta in exact basis points. A mixture designer reads
    * the delta column to find sources over/under-weighted in a topic
    * BEFORE setting d21/d88 sampling weights — content-aware where d21
    * is volume-aware.
    *
    * Shape: centroid assignment is the d12 in-row argmax (broadcast
    * literal codebook, zero corpus shuffle); embeddings⨝documents is
    * an un-hinted id-keyed join (both SF-scaled: SMJ at scale, AQE at
    * test SF); ONE (source, cid) reduce; every share is a window over
    * the ≤|sources|·|centroids| reduced frame. Oracled end-to-end —
    * the DuckDB replay re-derives the SAME codebook (seed hash +
    * quantized Lloyd) before mixing. */
  def d94TopicMix(spark: SparkSession, dir: String): DataFrame = {
    val cents = centroidVectors(spark, dir)
    val assigned = Tables.embeddings(spark, dir)
      .select(col("vec_id"), nearestCid(cents, col("embedding")).as("cid"))
    val counts = assigned
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")),
        col("vec_id") === col("doc_id"))
      .groupBy(col("source"), col("cid")).agg(count(lit(1)).as("n_docs"))
    val wSrc = Window.partitionBy(col("source"))
    val wCid = Window.partitionBy(col("cid"))
    val wAll = Window.partitionBy()
    counts
      .withColumn("src_total", sum(col("n_docs")).over(wSrc))
      .withColumn("cid_total", sum(col("n_docs")).over(wCid))
      .withColumn("all_total", sum(col("n_docs")).over(wAll))
      .select(col("source"), col("cid"), col("n_docs"),
        expr("(n_docs * 10000) div src_total").as("src_share_bp"),
        expr("(cid_total * 10000) div all_total").as("corpus_share_bp"),
        expr("(n_docs * 10000) div src_total - (cid_total * 10000) div all_total")
          .as("delta_bp"))
      .orderBy(col("source"), col("cid"))
  }

  lazy val d94Sql: String =
    s"""WITH $duckCentroidAndAssignCtes,
       |c AS (
       |  SELECT d.source, a.cid, CAST(count(*) AS BIGINT) AS n_docs
       |  FROM assigned a JOIN documents d ON a.vec_id = d.doc_id
       |  GROUP BY 1, 2),
       |w AS (
       |  SELECT *,
       |    CAST(sum(n_docs) OVER (PARTITION BY source) AS BIGINT) AS src_total,
       |    CAST(sum(n_docs) OVER (PARTITION BY cid) AS BIGINT) AS cid_total,
       |    CAST(sum(n_docs) OVER () AS BIGINT) AS all_total
       |  FROM c)
       |SELECT source, cid, n_docs,
       |  CAST((n_docs * 10000) // src_total AS BIGINT) AS src_share_bp,
       |  CAST((cid_total * 10000) // all_total AS BIGINT) AS corpus_share_bp,
       |  CAST((n_docs * 10000) // src_total - (cid_total * 10000) // all_total AS BIGINT) AS delta_bp
       |FROM w ORDER BY source, cid""".stripMargin

  /** d95: label-coherence audit in embedding space — the
    * mislabeled-data detector (Northcutt et al.'s confident-learning
    * intuition, made relational): if labels mean anything, a vector's
    * LSH-bucket neighbors should share its label far above the
    * label's base rate. Per label: the exact probability that an
    * ordered (vector, bucket-neighbor) pair is same-label —
    * Σ_b c_bl·(c_bl−1) over Σ_b c_bl·(n_b−1) in truncated bp — the
    * label's corpus base rate, and the lift. A label whose lift ~ 0
    * is noise (its vectors' neighborhoods ignore it); a low-lift
    * label is where to spend relabeling budget.
    *
    * NO pair join anywhere: the pair counts collapse algebraically to
    * per-(bucket, label) counts — one corpus scan, one (bucket,
    * label) reduce (codegen'd signature), windows over the ≤2^P·|labels|
    * reduced frame. The same-bucket neighbor definition IS the d10
    * probe geometry, so the audit prices exactly what d10-style
    * retrieval would serve. */
  def d95LabelCoherence(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.embeddings(spark, dir)
      .select(col("label"), lshBucket(col("embedding")).as("bucket"))
      .groupBy(col("bucket"), col("label")).agg(count(lit(1)).as("c"))
    val wB = Window.partitionBy(col("bucket"))
    val wAll = Window.partitionBy()
    counts
      .withColumn("n_b", sum(col("c")).over(wB))
      .withColumn("n_all", sum(col("c")).over(wAll))
      .groupBy(col("label"))
      .agg(sum(col("c")).as("n_vecs"),
        count(lit(1)).as("n_buckets"),
        sum(col("c") * (col("c") - 1)).as("same_pairs"),
        sum(col("c") * (col("n_b") - 1)).as("all_pairs"),
        max(col("n_all")).as("n_all"))
      .select(col("label"), col("n_vecs"), col("n_buckets"),
        expr("(same_pairs * 10000) div greatest(1L, all_pairs)").as("agree_bp"),
        expr("(n_vecs * 10000) div n_all").as("base_bp"),
        expr("(same_pairs * 10000) div greatest(1L, all_pairs) - (n_vecs * 10000) div n_all")
          .as("lift_bp"))
      .orderBy(col("label"))
  }

  lazy val d95Sql: String =
    s"""WITH b AS (
       |  SELECT label, ${duckBucket("embedding")} AS bucket FROM embeddings),
       |c AS (SELECT bucket, label, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
       |w AS (
       |  SELECT *,
       |    CAST(sum(c) OVER (PARTITION BY bucket) AS BIGINT) AS n_b,
       |    CAST(sum(c) OVER () AS BIGINT) AS n_all
       |  FROM c),
       |a AS (
       |  SELECT label, CAST(sum(c) AS BIGINT) AS n_vecs,
       |    CAST(count(*) AS BIGINT) AS n_buckets,
       |    CAST(sum(c * (c - 1)) AS BIGINT) AS same_pairs,
       |    CAST(sum(c * (n_b - 1)) AS BIGINT) AS all_pairs,
       |    CAST(max(n_all) AS BIGINT) AS n_all
       |  FROM w GROUP BY 1)
       |SELECT label, n_vecs, n_buckets,
       |  CAST((same_pairs * 10000) // greatest(1, all_pairs) AS BIGINT) AS agree_bp,
       |  CAST((n_vecs * 10000) // n_all AS BIGINT) AS base_bp,
       |  CAST((same_pairs * 10000) // greatest(1, all_pairs)
       |    - (n_vecs * 10000) // n_all AS BIGINT) AS lift_bp
       |FROM a ORDER BY label""".stripMargin

  /** d96: cluster-purity audit per IVF list — d95's question asked of
    * the d12 codebook instead of LSH buckets: per centroid, the
    * majority label, its share (purity, truncated bp), and the
    * distinct-label count. Pure lists mean the codebook's partition
    * tracks the labels (curation can trust per-list sampling); mixed
    * lists flag centroids whose region spans classes. Majority ties
    * break to the smallest label (total order, engine-identical).
    *
    * Shape: the d12 in-row assignment (broadcast literal codebook,
    * zero corpus shuffle) → one (cid, label) reduce → per-cid argmax
    * via window over the ≤|C|·|labels| reduced frame. */
  def d96CentroidPurity(spark: SparkSession, dir: String): DataFrame = {
    val cents = centroidVectors(spark, dir)
    val counts = Tables.embeddings(spark, dir)
      .select(col("label"), nearestCid(cents, col("embedding")).as("cid"))
      .groupBy(col("cid"), col("label")).agg(count(lit(1)).as("c"))
    val wC = Window.partitionBy(col("cid"))
    counts
      .withColumn("n_vecs", sum(col("c")).over(wC))
      .withColumn("n_labels", count(lit(1)).over(wC))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("cid")).orderBy(col("c").desc, col("label"))))
      .filter(col("rnk") === 1)
      .select(col("cid"), col("n_vecs"), col("n_labels"),
        col("label").as("majority_label"), col("c").as("majority_n"),
        expr("(c * 10000) div n_vecs").as("purity_bp"))
      .orderBy(col("cid"))
  }

  lazy val d96Sql: String =
    s"""WITH $duckCentroidAndAssignCtes,
       |lab AS (
       |  SELECT a.cid, e.label, CAST(count(*) AS BIGINT) AS c
       |  FROM assigned a JOIN embeddings e ON a.vec_id = e.vec_id
       |  GROUP BY 1, 2),
       |w AS (
       |  SELECT *,
       |    CAST(sum(c) OVER (PARTITION BY cid) AS BIGINT) AS n_vecs,
       |    CAST(count(*) OVER (PARTITION BY cid) AS BIGINT) AS n_labels,
       |    row_number() OVER (PARTITION BY cid ORDER BY c DESC, label) AS rnk
       |  FROM lab)
       |SELECT cid, n_vecs, n_labels, label AS majority_label, c AS majority_n,
       |  CAST((c * 10000) // n_vecs AS BIGINT) AS purity_bp
       |FROM w WHERE rnk = 1 ORDER BY cid""".stripMargin

  /** The corpus embedding dimension (the e.g. duckCosine range). */
  val EmbedDim = 64

  def d113EmbeddingHealth(spark: SparkSession, dir: String): DataFrame =
    d113EmbeddingHealthOf(graft.Tables.embeddings(spark, dir))

  /** d113: embedding HEALTH gate per label — the hygiene audit every
    * vector pipeline runs before indexing or training on a new
    * embedding drop, because one upstream bug poisons everything
    * downstream silently: a crashed encoder emits ZERO vectors (cosine
    * undefined — d9/d45 divide by the norm), a numerics bug emits
    * NaN/Inf (poisons any distance it touches), a version mismatch
    * emits the WRONG dimension (breaks dot products), and a
    * normalization regression shifts the norm range (invalidates every
    * tuned distance threshold). Per label: vectors, zero vectors,
    * non-finite vectors, wrong-dimension vectors, and the finite-norm²
    * range milli-floored. Per-ROW norms are sequential double folds
    * (the d9 oracle convention — bit-identical across engines);
    * nothing ever sums doubles ACROSS rows, so the report is
    * deterministic at any parallelism; min/max are order-free.
    *
    * Shape: ONE scan, rowwise HOFs, label-grain reduce. */
  def d113EmbeddingHealthOf(embeddings: DataFrame): DataFrame = {
    val finite = expr(
      "NOT exists(embedding, x -> isnan(x) OR abs(x) = double('Infinity'))")
    val norm2 = expr(
      "aggregate(embedding, 0.0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")
    embeddings
      .select(col("label"), col("embedding"),
        finite.as("is_finite"),
        (size(col("embedding")) === EmbedDim).as("dim_ok"))
      .withColumn("norm2", when(col("is_finite"), norm2))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
        count(when(col("is_finite") && col("norm2") === 0.0, 1)).as("n_zero"),
        count(when(!col("is_finite"), 1)).as("n_nonfinite"),
        count(when(!col("dim_ok"), 1)).as("n_bad_dim"),
        floor(min(col("norm2")) * 1000).as("min_norm2_milli"),
        floor(max(col("norm2")) * 1000).as("max_norm2_milli"))
      .orderBy(col("label"))
  }

  val d113Sql: String =
    s"""WITH rows_ AS (
       |  SELECT label,
       |    len(list_filter(embedding, x -> isnan(x) OR NOT isfinite(x))) = 0 AS is_finite,
       |    len(embedding) = $EmbedDim AS dim_ok,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |      (x, y) -> x + y) AS norm2_raw
       |  FROM embeddings),
       |r AS (
       |  SELECT label, is_finite, dim_ok,
       |    CASE WHEN is_finite THEN norm2_raw END AS norm2
       |  FROM rows_)
       |SELECT CAST(label AS INTEGER) AS label, CAST(count(*) AS BIGINT) AS n_vectors,
       |  CAST(sum(CASE WHEN is_finite AND norm2 = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_zero,
       |  CAST(sum(CASE WHEN NOT is_finite THEN 1 ELSE 0 END) AS BIGINT) AS n_nonfinite,
       |  CAST(sum(CASE WHEN NOT dim_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_dim,
       |  CAST(floor(min(norm2) * 1000) AS BIGINT) AS min_norm2_milli,
       |  CAST(floor(max(norm2) * 1000) AS BIGINT) AS max_norm2_milli
       |FROM r GROUP BY label ORDER BY label""".stripMargin

  /** d115: HUBNESS audit of the ANN neighbor graph — the
    * high-dimensional pathology every vector index inherits
    * (Radovanović et al. 2010): as dimension grows, a few points
    * become "hubs" that appear in a disproportionate share of OTHER
    * points' top-k lists while many become antihubs that appear in
    * none — retrieval then over-serves the hubs (semantic near-dups,
    * skewed RAG context) and silently never surfaces the antihubs.
    * The audit: build the same bucketed candidate graph d10 serves
    * queries from (every vector scores ONLY its LSH-bucket
    * neighbors — the quadratic stays bucket-local, the d45 semdedup
    * justification), take each vector's top-K by the d9 cosine
    * convention, then measure the IN-degree (k-occurrence N_k)
    * distribution: antihubs (N_k = 0), hubs (N_k ≥ 2K — Radovanović's
    * working cut), max, and the k-occurrence SKEWNESS — the field's
    * standard hubness scalar — via the q85 discipline (value-grain
    * exact DECIMAL moment sums, ONE identical-term-order double
    * formula, no pow).
    *
    * Shape: bucket equi-join → per-query top-K window → in-degree
    * reduce LEFT-joined onto the id population (absent = antihub,
    * the count the edge list alone cannot see) → ≤max-degree
    * value-grain cells → 1-row reduce. Three embeddings scans — edge
    * endpoints (query/candidate sides of the bucket join) + the
    * population frame, each a genuine input. */
  /** The bucketed top-K neighbor EDGE list d115/d116 audit: every
    * vector scores only its LSH-bucket neighbors (d10's candidate
    * rule — the quadratic stays bucket-local), top-K by the d9
    * cosine/tie convention. (query_id, neighbor_id) rows. */
  private def bucketedTopkEdges(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .withColumn("bucket", lshBucket(col("embedding")))
    val q = emb.select(col("vec_id").as("query_id"), col("embedding").as("qe"),
      col("bucket"))
    val cand = emb.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("ne"), col("bucket").as("cb"))
    val scored = q.join(cand,
        col("bucket") === col("cb") && col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qe"), col("ne")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= TopK)
      .select(col("query_id"), col("neighbor_id"))
  }

  def d115Hubness(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def d38c(c: Column): Column = c.cast(DecimalType(38, 0))
    val edges = bucketedTopkEdges(spark, dir)
    val indeg = Tables.embeddings(spark, dir).select(col("vec_id"))
      .join(edges.groupBy(col("neighbor_id")).agg(count(lit(1)).as("deg")),
        col("vec_id") === col("neighbor_id"), "left")
      .select(coalesce(col("deg"), lit(0L)).as("indeg"))
    val cells = indeg.groupBy(col("indeg")).agg(count(lit(1)).as("cnt"))
    val nd = col("n").cast("double")
    val mu = col("s1").cast("double") / nd
    val r2 = col("s2").cast("double") / nd
    val r3 = col("s3").cast("double") / nd
    val m2 = r2 - mu * mu
    val m3 = r3 - lit(3.0) * mu * r2 + lit(2.0) * mu * mu * mu
    cells.agg(
        sum(col("cnt")).cast(DecimalType(38, 0)).as("n"),
        sum(d38c(col("indeg")) * d38c(col("cnt"))).as("s1"),
        sum(d38c(col("indeg")) * d38c(col("indeg")) * d38c(col("cnt"))).as("s2"),
        sum(d38c(col("indeg")) * d38c(col("indeg")) * d38c(col("indeg")) *
          d38c(col("cnt"))).as("s3"),
        sum(when(col("indeg") === 0, col("cnt")).otherwise(lit(0L))).as("anti"),
        sum(when(col("indeg") >= 2 * TopK, col("cnt")).otherwise(lit(0L))).as("hubs"),
        max(col("indeg")).as("max_indeg"))
      .select(col("n").cast("bigint").as("n_vectors"),
        col("anti").cast("bigint").as("n_antihubs"),
        col("hubs").cast("bigint").as("n_hubs"),
        col("max_indeg"),
        (m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2))).as("skewness"))
  }

  val d115Sql: String =
    s"""WITH b AS (
       |  SELECT vec_id, embedding, ${duckBucket("embedding")} AS bucket FROM embeddings),
       |q AS (SELECT vec_id AS query_id, embedding AS qe, bucket FROM b),
       |c AS (SELECT vec_id AS neighbor_id, embedding AS ne, bucket AS cb FROM b),
       |scored AS (
       |  SELECT query_id, neighbor_id, ${duckCosine("qe", "ne")} AS cos
       |  FROM q JOIN c ON bucket = cb AND neighbor_id <> query_id),
       |ranked AS (
       |  SELECT neighbor_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
       |  FROM scored),
       |ind AS (
       |  SELECT e.vec_id, count(r.neighbor_id) AS indeg
       |  FROM embeddings e LEFT JOIN (SELECT neighbor_id FROM ranked WHERE rnk <= $TopK) r
       |    ON r.neighbor_id = e.vec_id
       |  GROUP BY 1),
       |cells AS (SELECT indeg, count(*) AS cnt FROM ind GROUP BY 1),
       |m AS (
       |  SELECT sum(cnt) AS n,
       |    sum(CAST(indeg AS HUGEINT) * cnt) AS s1,
       |    sum(CAST(indeg AS HUGEINT) * indeg * cnt) AS s2,
       |    sum(CAST(indeg AS HUGEINT) * indeg * indeg * cnt) AS s3,
       |    sum(CASE WHEN indeg = 0 THEN cnt ELSE 0 END) AS antis,
       |    sum(CASE WHEN indeg >= ${2 * TopK} THEN cnt ELSE 0 END) AS hubs,
       |    max(indeg) AS max_indeg
       |  FROM cells),
       |d AS (
       |  SELECT CAST(n AS BIGINT) AS n_vectors, CAST(antis AS BIGINT) AS n_antihubs,
       |    CAST(hubs AS BIGINT) AS n_hubs, CAST(max_indeg AS BIGINT) AS max_indeg,
       |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
       |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
       |    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3
       |  FROM m),
       |cm AS (
       |  SELECT n_vectors, n_antihubs, n_hubs, max_indeg,
       |    r2 - mu * mu AS m2,
       |    r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3
       |  FROM d)
       |SELECT n_vectors, n_antihubs, n_hubs, max_indeg,
       |  m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)) AS skewness
       |FROM cm""".stripMargin

  /** d116: kNN LABEL-NOISE audit — per label, the share of vectors
    * whose top-K neighborhood votes for a DIFFERENT label (the
    * leave-one-out kNN disagreement that Confident-Learning-style
    * pipelines use to surface mislabeled training rows before they
    * poison a classifier): a clean, separable labeling has near-zero
    * disagreement; a label whose members' neighborhoods keep voting
    * elsewhere is either noisy or genuinely overlapping — both worth
    * a curator's eyes. Same bucketed top-K edges as d115 (shared
    * lineage — the two audits provably read one graph); majority =
    * neighbor label with max count, ties to the SMALLEST label id
    * (deterministic, oracle-replayed); vectors with no in-bucket
    * candidates are excluded (no evidence, stated contract).
    *
    * Shape: the d115 edge join → edge⋈labels (broadcast dim-sized
    * label frame) → (query, label) count reduce → per-query argmax
    * window over the ≤K-row groups → label-grain reduce. */
  def d116LabelNoise(spark: SparkSession, dir: String): DataFrame = {
    val labels = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"))
    val edges = bucketedTopkEdges(spark, dir)
    val nbr = edges
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("nlabel")), Seq("neighbor_id"))
      .groupBy(col("query_id"), col("nlabel"))
      .agg(count(lit(1)).as("votes"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("votes").desc, col("nlabel"))
    val majority = nbr.withColumn("r", row_number().over(w))
      .filter(col("r") === 1)
      .select(col("query_id"), col("nlabel").as("majority_label"))
    majority
      .join(labels.select(col("vec_id").as("query_id"), col("label")),
        Seq("query_id"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_voted"),
        sum(when(col("majority_label") =!= col("label"), 1L).otherwise(0L))
          .as("disagreements"))
      .select(col("label"), col("n_voted"), col("disagreements"),
        expr("(disagreements * 10000) div n_voted").as("noise_bp"))
      .orderBy(col("label"))
  }

  val d116Sql: String =
    s"""WITH b AS (
       |  SELECT vec_id, embedding, label, ${duckBucket("embedding")} AS bucket
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, embedding AS qe, label AS qlabel, bucket FROM b),
       |c AS (SELECT vec_id AS neighbor_id, embedding AS ne, label AS nlabel,
       |  bucket AS cb FROM b),
       |scored AS (
       |  SELECT query_id, neighbor_id, nlabel, ${duckCosine("qe", "ne")} AS cos
       |  FROM q JOIN c ON bucket = cb AND neighbor_id <> query_id),
       |ranked AS (
       |  SELECT query_id, nlabel,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
       |  FROM scored),
       |votes AS (
       |  SELECT query_id, nlabel, count(*) AS v
       |  FROM ranked WHERE rnk <= $TopK GROUP BY 1, 2),
       |maj AS (
       |  SELECT query_id, nlabel AS majority_label,
       |    row_number() OVER (PARTITION BY query_id ORDER BY v DESC, nlabel) AS r
       |  FROM votes),
       |j AS (
       |  SELECT e.label, m.majority_label
       |  FROM maj m JOIN embeddings e ON m.query_id = e.vec_id
       |  WHERE m.r = 1)
       |SELECT label, CAST(count(*) AS BIGINT) AS n_voted,
       |  CAST(sum(CASE WHEN majority_label <> label THEN 1 ELSE 0 END) AS BIGINT)
       |    AS disagreements,
       |  CAST((sum(CASE WHEN majority_label <> label THEN 1 ELSE 0 END) * 10000)
       |    // count(*) AS BIGINT) AS noise_bp
       |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d116_label_noise" -> (d116LabelNoise _),
    "d115_hubness" -> (d115Hubness _),
    "d113_embedding_health" -> (d113EmbeddingHealth _),
    "d95_label_coherence" -> (d95LabelCoherence _),
    "d96_centroid_purity" -> (d96CentroidPurity _),
    "d94_topic_mix" -> (d94TopicMix _),
    "d77_ivf_balance" -> (d77IvfBalance _),
    "d70_split_embed_leak" -> (d70SplitEmbedLeak _),
    "d69_ann_pq" -> (d69AnnPq _),
    "d65_ann_recall" -> (d65AnnRecall _),
    "d45_semdedup" -> (d45SemDedup _),
    "d44_embed_quantize" -> (d44EmbedQuantize _),
    "d36_filtered_search" -> (d36FilteredSearch _),
    "d92_mips_topk" -> (d92MipsTopk _),
    "d93_mips_lsh" -> (d93MipsLsh _),
    "d9_cosine_topk" -> (d9CosineTopk _),
    "d10_ann_lsh" -> (d10AnnLsh _),
    "d12_ann_ivf" -> (d12AnnIvf _),
    "d13_dedup_embedding" -> (d13DedupEmbedding _),
    "d17_ann_multiprobe" -> (d17AnnMultiprobe _))

  val oracles: Map[String, String] = Map(
    "d116_label_noise" -> d116Sql,
    "d115_hubness" -> d115Sql,
    "d113_embedding_health" -> d113Sql,
    "d95_label_coherence" -> d95Sql,
    "d96_centroid_purity" -> d96Sql,
    "d94_topic_mix" -> d94Sql,
    "d77_ivf_balance" -> d77Sql,
    "d70_split_embed_leak" -> d70Sql,
    "d69_ann_pq" -> d69Sql,
    "d65_ann_recall" -> d65Sql,
    "d45_semdedup" -> d45Sql,
    "d44_embed_quantize" -> d44Sql,
    "d36_filtered_search" -> d36Sql,
    "d92_mips_topk" -> d92Sql,
    "d93_mips_lsh" -> d93Sql,
    "d9_cosine_topk" -> d9Sql,
    "d10_ann_lsh" -> d10Sql,
    "d12_ann_ivf" -> d12Sql,
    "d13_dedup_embedding" -> d13Sql,
    "d17_ann_multiprobe" -> d17Sql)
}
