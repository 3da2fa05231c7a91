package graft.operators

import graft.{Cols, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the documents corpus (SURVEY.md §2.D).
  * Everything is built from codegen'd native functions (split/filter/
  * transform/aggregate/regexp) — no UDFs, so the hot path stays inside
  * whole-stage codegen at 100 TB.
  */
object TextOps {
  import Cols.countIf

  /** Whitespace tokens with empties dropped (leading/trailing spaces). */
  def tokens(text: Column): Column =
    filter(split(text, " "), x => x =!= lit(""))

  /** Distinct word k-shingles (k=3), 1-based windows over the tokens. */
  def shingles(t: Column): Column =
    when(size(t) >= 3,
      array_distinct(transform(sequence(lit(1), size(t) - 2),
        i => concat_ws(" ", element_at(t, i), element_at(t, i + 1), element_at(t, i + 2)))))
      .otherwise(array().cast("array<string>"))

  /** Exact set-Jaccard between two distinct-element arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_distinct(concat(a, b)))

  /** d1: token counting and character stats. */
  def d1TextStats(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    Tables.documents(spark, dir)
      .select(
        col("doc_id"), col("lang"), col("source"), col("n_chars"),
        length(col("text")).as("chars_computed"),
        size(t).as("n_tokens"),
        size(array_distinct(t)).as("n_distinct_tokens"))
      .orderBy(col("doc_id"))
  }

  val d1Sql: String =
    """SELECT doc_id, lang, source, n_chars,
      |  CAST(length(text) AS INTEGER) AS chars_computed,
      |  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INTEGER) AS n_tokens,
      |  CAST(len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS INTEGER) AS n_distinct_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Stopword lexicons for the language-ID heuristic: 8 languages × 40
    * high-frequency function words each (standard public stopword
    * inventories). Inlined as literals so the per-token membership
    * tests stay inside whole-stage codegen — the lexicon is effectively
    * broadcast inside the generated code, no join, no shuffle. Order is
    * the tie-break priority of the argmax. */
  private[graft] val lexicons: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "be", "to", "of", "and", "a", "in", "that", "have", "it",
      "for", "not", "on", "with", "he", "as", "you", "do", "at", "this",
      "but", "his", "by", "from", "they", "we", "say", "her", "she", "or",
      "an", "will", "my", "one", "all", "would", "there", "their", "what", "so"),
    "fr" -> Seq("le", "la", "les", "de", "des", "du", "un", "une", "et", "est",
      "en", "que", "qui", "dans", "pour", "pas", "sur", "ne", "se", "ce",
      "il", "elle", "nous", "vous", "ils", "je", "tu", "au", "aux", "avec",
      "son", "sa", "ses", "mais", "ou", "où", "donc", "car", "si", "plus"),
    "es" -> Seq("el", "la", "los", "las", "de", "del", "un", "una", "y", "es",
      "en", "que", "no", "se", "por", "con", "para", "su", "al", "lo",
      "como", "más", "pero", "sus", "le", "ya", "o", "este", "sí", "porque",
      "esta", "entre", "cuando", "muy", "sin", "sobre", "también", "me", "hasta", "hay"),
    "de" -> Seq("der", "die", "das", "und", "ist", "in", "den", "von", "zu", "mit",
      "sich", "des", "auf", "für", "nicht", "ein", "eine", "als", "auch", "es",
      "an", "werden", "aus", "er", "hat", "dass", "sie", "nach", "wird", "bei",
      "einer", "um", "am", "sind", "noch", "wie", "einem", "über", "so", "zum"),
    "it" -> Seq("il", "la", "le", "lo", "gli", "di", "del", "della", "un", "una",
      "e", "è", "che", "non", "per", "in", "con", "si", "da", "come",
      "ma", "anche", "più", "sono", "ha", "questo", "questa", "su", "al", "nel",
      "se", "io", "lui", "lei", "noi", "loro", "mi", "ci", "o", "tra"),
    "pt" -> Seq("o", "a", "os", "as", "de", "do", "da", "dos", "das", "um",
      "uma", "e", "é", "que", "não", "em", "para", "com", "se", "por",
      "mais", "como", "mas", "foi", "ao", "ele", "ela", "são", "tem", "à",
      "seu", "sua", "ou", "quando", "muito", "nos", "já", "eu", "também", "só"),
    "nl" -> Seq("de", "het", "een", "en", "van", "in", "is", "dat", "op", "te",
      "zijn", "met", "voor", "niet", "aan", "er", "om", "maar", "dan", "zij",
      "hij", "ook", "als", "bij", "of", "uit", "naar", "door", "over", "ze",
      "zich", "je", "wordt", "nog", "wel", "geen", "al", "dit", "deze", "heeft"),
    "sv" -> Seq("och", "att", "det", "som", "en", "på", "är", "av", "för", "med",
      "den", "till", "inte", "om", "ett", "han", "var", "jag", "sig", "från",
      "vi", "så", "kan", "man", "när", "år", "under", "också", "efter", "eller",
      "nu", "sin", "där", "vid", "mot", "ska", "skulle", "kommer", "hon", "honom"))

  /** Normalized letter-only tokens for language ID: lowercase, strip
    * non-letters, split on whitespace. */
  private def langTokens(text: Column): Column =
    filter(split(regexp_replace(lower(text), "[^\\p{L}\\s]", " "), "\\s+"), x => x =!= lit(""))

  /** Language prediction for one text column: CJK codepoints → zh,
    * otherwise argmax of per-lexicon stopword hits (ties break to the
    * earlier lexicon; zero hits → und).
    *
    * Relational shape, NOT a per-row higher-order filter: HOFs evaluate
    * interpreted and re-inline the tokenize pipeline once per lexicon —
    * measured 86 s at sf0.1 vs ~1 s for this form. Tokens are exploded
    * once; all 8 lexicon hit-counts come from ONE codegen'd aggregation
    * pass (`isin` over 40 literals compiles to a switch); docs whose
    * token set is empty re-enter via left join as 'und'. One doc-keyed
    * exchange total — the explode→agg shape that survives 100 TB. */
  def withLangPred(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol), explode(langTokens(col(textCol))).as("tok"))
    val hitAggs = lexicons.map { case (lang, words) =>
      sum(when(col("tok").isin(words.map(lit(_)): _*), 1L).otherwise(0L)).as(s"hits_$lang")
    }
    val hits = toks.groupBy(col(idCol)).agg(hitAggs.head, hitAggs.tail: _*)
    val best = lexicons.map(_._1).foldLeft((lit("und"), lit(0L))) {
      case ((bestLang, bestHits), lang) =>
        val h = coalesce(col(s"hits_$lang"), lit(0L))
        (when(h > bestHits, lit(lang)).otherwise(bestLang),
          when(h > bestHits, h).otherwise(bestHits))
    }
    df.join(hits, Seq(idCol), "left_outer")
      .withColumn("lang_pred",
        when(col(textCol).rlike("[\\u4e00-\\u9fff]"), lit("zh")).otherwise(best._1))
      .drop(lexicons.map { case (lang, _) => s"hits_$lang" }: _*)
  }

  /** d2: language ID over the documents corpus. Oracled: the DuckDB
    * side replays the same normalize → stopword-hit → argmax pipeline
    * (the corpus lang labels are synthetic, so lang_true is carried for
    * reference, not asserted — real accuracy is asserted in ScalaTest
    * against a human-labeled fixture in 8 languages). */
  def d2LangId(spark: SparkSession, dir: String): DataFrame =
    withLangPred(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang").as("lang_true"), col("text")),
      "doc_id", "text")
      .select(col("doc_id"), col("lang_true"), col("lang_pred"))
      .orderBy(col("doc_id"))

  /** DuckDB replay of [[withLangPred]] over documents: same normalization,
    * same hit counts, argmax as first-lexicon-attaining-the-max (≡ the
    * foldLeft's strict-> update rule). */
  val d2Sql: String = {
    def toks =
      """list_filter(string_split_regex(regexp_replace(lower(text), '[^\p{L}\s]', ' ', 'g'), '\s+'), x -> x <> '')"""
    val hitCols = lexicons.map { case (lang, words) =>
      val in = words.map(w => s"'${w.replace("'", "''")}'").mkString(", ")
      s"len(list_filter(toks, x -> x IN ($in))) AS h_$lang"
    }.mkString(",\n    ")
    val gmax = lexicons.map { case (l, _) => s"h_$l" }.mkString("greatest(", ", ", ")")
    val pick = lexicons.map { case (l, _) => s"WHEN h_$l = $gmax THEN '$l'" }.mkString("\n      ")
    s"""WITH norm AS (
       |  SELECT doc_id, lang AS lang_true, text, $toks AS toks FROM documents),
       |hits AS (
       |  SELECT doc_id, lang_true,
       |    regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') AS has_cjk,
       |    $hitCols
       |  FROM norm)
       |SELECT doc_id, lang_true,
       |  CASE WHEN has_cjk THEN 'zh'
       |       WHEN $gmax = 0 THEN 'und'
       |      $pick
       |      ELSE 'und' END AS lang_pred
       |FROM hits ORDER BY doc_id""".stripMargin
  }

  /** BPE-style pre-tokenizer pattern: letter runs, digit runs, or a
    * single other non-space character — the split shape subword
    * tokenizers (GPT-2/tiktoken-like) apply before merges. Plain
    * character classes only, so Java regex and RE2 agree exactly. */
  private val SubwordPattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"

  /** d14: token counting under a BPE-ish regex (complements d1's
    * whitespace counts): total pre-tokens, letter runs, digit runs,
    * punctuation marks. Pure codegen'd projection — the regex engine
    * runs inside whole-stage codegen, one pass per row. */
  def d14SubwordTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(SubwordPattern), lit(0))).as("n_subwords"),
        size(regexp_extract_all(col("text"), lit("[a-zA-Z]+"), lit(0))).as("n_alpha_runs"),
        size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0))).as("n_digit_runs"),
        size(regexp_extract_all(col("text"), lit("[^a-zA-Z0-9\\s]"), lit(0))).as("n_punct"))
      .orderBy(col("doc_id"))

  val d14Sql: String =
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS INTEGER) AS n_subwords,
      |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+')) AS INTEGER) AS n_alpha_runs,
      |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS INTEGER) AS n_digit_runs,
      |  CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS INTEGER) AS n_punct
      |FROM documents ORDER BY doc_id""".stripMargin

  /** d27: tokenizer fertility per (source, lang) — subword pre-tokens
    * per whitespace word, the standard tokenizer-health metric (a
    * fertility spike flags text a subword vocab fits badly: wrong
    * script, digit soup, minified markup). Counts are exact integers
    * aggregated map-side; the single division happens once per output
    * group, so the profile is bit-stable cross-engine. One corpus scan,
    * one (source, lang) exchange over group-cardinality rows. */
  def d27TokenizerFertility(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), col("lang"),
        size(tokens(col("text"))).cast("long").as("words"),
        size(regexp_extract_all(col("text"), lit(SubwordPattern), lit(0))).cast("long").as("subs"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("words")).as("total_words"),
        sum(col("subs")).as("total_subwords"))
      .select(col("source"), col("lang"), col("n_docs"), col("total_words"),
        col("total_subwords"),
        (col("total_subwords").cast("double") / col("total_words")).as("fertility"))
      .orderBy(col("source"), col("lang"))

  val d27Sql: String =
    """WITH sized AS (
      |  SELECT source, lang,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS words,
      |    CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS subs
      |  FROM documents)
      |SELECT source, lang, count(*) AS n_docs,
      |  CAST(sum(words) AS BIGINT) AS total_words,
      |  CAST(sum(subs) AS BIGINT) AS total_subwords,
      |  CAST(sum(subs) AS DOUBLE) / CAST(sum(words) AS DOUBLE) AS fertility
      |FROM sized GROUP BY source, lang ORDER BY source, lang""".stripMargin

  /** d3: quality scoring — length/alpha/stopword ratios + flag. */
  /** d3's keep/low rule as a single column over the raw text —
    * shared by the batch profile and the streaming curation pipeline
    * so the rule cannot drift between them. */
  def qualityFlagOf(text: Column): Column = {
    val t = tokens(text)
    val nTok = size(t)
    val avgTokLen = length(translate(text, " ", "")).cast("double") / nTok
    when(nTok.between(5, 1000) && avgTokLen.between(2.0, 12.0), lit("ok"))
      .otherwise(lit("low"))
  }

  /** d3's profile over any (doc_id, text) frame — stateless codegen'd
    * projections only, so it runs unchanged over an unbounded stream
    * (graft.streaming.StreamingOps.curateStream). */
  def qualityProfile(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    val nTok = size(t)
    val stopCnt = size(filter(t, x => x.isin("the", "a", "of", "and", "to", "in")))
    val alphaChars = length(regexp_replace(col("text"), "[^a-z]", ""))
    // Σ token lengths ≡ count of non-space chars (tokens are the text
    // split on ' ' with empties dropped) — pure codegen'd arithmetic,
    // replacing the interpreted aggregate() HOF fold (VERDICT r2 #9).
    val tokLenSum = length(translate(col("text"), " ", ""))
    docs.select(
        col("doc_id"),
        nTok.as("n_tokens"),
        stopCnt.as("stop_cnt"),
        (alphaChars.cast("double") / length(col("text"))).as("alpha_ratio"),
        (stopCnt.cast("double") / nTok).as("stop_ratio"),
        (tokLenSum.cast("double") / nTok).as("avg_token_len"),
        qualityFlagOf(col("text")).as("quality_flag"))
  }

  def d3QualityScore(spark: SparkSession, dir: String): DataFrame =
    qualityProfile(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  val d3Sql: String =
    """WITH t AS (
      |  SELECT doc_id, text, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      |  FROM documents),
      |s AS (
      |  SELECT doc_id,
      |    CAST(len(toks) AS INTEGER) AS n_tokens,
      |    CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in'))) AS INTEGER) AS stop_cnt,
      |    CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / length(text) AS alpha_ratio,
      |    CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE) / len(toks) AS stop_ratio,
      |    CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) AS avg_token_len
      |  FROM t)
      |SELECT doc_id, n_tokens, stop_cnt, alpha_ratio, stop_ratio, avg_token_len,
      |  CASE WHEN n_tokens BETWEEN 5 AND 1000 AND avg_token_len BETWEEN 2.0 AND 12.0
      |       THEN 'ok' ELSE 'low' END AS quality_flag
      |FROM s ORDER BY doc_id""".stripMargin

  /** d4: document fingerprinting — md5 content hash + hex bucket prefix
    * (plus the engine-internal xxhash64 used by dedup, not oracled). */
  def d4Fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        md5(col("text")).as("fp_md5"),
        substring(md5(col("text")), 1, 8).as("bucket"))
      .orderBy(col("doc_id"))

  val d4Sql: String =
    """SELECT doc_id, md5(text) AS fp_md5, substring(md5(text), 1, 8) AS bucket
      |FROM documents ORDER BY doc_id""".stripMargin

  /** d5: exact dedup — normalize, hash, group; canonical = min doc_id.
    * At 100 TB this is the single-shuffle hash-groupBy dedup. */
  def d5DedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(trim(lower(col("text")))).as("content_hash"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_dups"))
      .orderBy(col("content_hash"))

  val d5Sql: String =
    """SELECT md5(trim(lower(text))) AS content_hash, min(doc_id) AS canonical_id, count(*) AS n_dups
      |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin

  /** d15: training-corpus selection — the composition the D family
    * exists for: keep a document iff it is the right language (en), of
    * acceptable quality (d3's flag), and the canonical copy of its
    * exact-dup group (d5's min-doc_id rule). Each signal is the same
    * deterministic pipeline its standalone operator runs, so the
    * composition inherits every oracle guarantee; one extra shuffle
    * (the content-hash window) beyond the component costs. */
  def d15CorpusFilter(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // quality + canonicality share ONE corpus scan (the flag is a
    // projection, the dup rule a window over the same rows); lang-ID
    // needs its own explode→agg pass — two scans total, not one per
    // signal (this composition is IO-bound at 100 TB).
    val wDup = Window.partitionBy(md5(trim(lower(col("text")))))
    val nTok = size(tokens(col("text")))
    val avgTokLen = length(translate(col("text"), " ", "")).cast("double") / nTok
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        (col("doc_id") === min(col("doc_id")).over(wDup)).as("is_canonical"),
        when(nTok.between(5, 1000) && avgTokLen.between(2.0, 12.0), lit("ok"))
          .otherwise(lit("low")).as("quality_flag"))
    withLangPred(base, "doc_id", "text")
      .select(col("doc_id"), col("lang_pred"), col("quality_flag"), col("is_canonical"),
        (col("lang_pred") === "en" && col("quality_flag") === "ok" && col("is_canonical"))
          .as("keep"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB replay: the component oracles (d2Sql, d3Sql) embedded as
    * subqueries plus the d5 canonical rule as a window — identical
    * semantics by construction. */
  val d15Sql: String =
    s"""WITH lang AS (SELECT doc_id, lang_pred FROM ($d2Sql)),
       |q AS (SELECT doc_id, quality_flag FROM ($d3Sql)),
       |c AS (
       |  SELECT doc_id,
       |    doc_id = min(doc_id) OVER (PARTITION BY md5(trim(lower(text)))) AS is_canonical
       |  FROM documents)
       |SELECT d.doc_id, lang.lang_pred, q.quality_flag, c.is_canonical,
       |  (lang.lang_pred = 'en' AND q.quality_flag = 'ok' AND c.is_canonical) AS keep
       |FROM documents d
       |JOIN lang ON d.doc_id = lang.doc_id
       |JOIN q ON d.doc_id = q.doc_id
       |JOIN c ON d.doc_id = c.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** d29: per-source dedup-rate summary — the dashboard a corpus owner
    * reads before choosing mixture weights: per source, how much is
    * exact-duplicate mass (non-canonical copies under d5's rule) and
    * how much sits in verified near-dup groups (d6 membership). Both
    * signals are the SAME deterministic pipelines their standalone
    * operators run (d6 through the shared signature/band caches), so
    * the summary inherits their oracle guarantees; the near-dup member
    * set joins back by id only — no payloads move. */
  def d29DedupSummary(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wDup = Window.partitionBy(md5(trim(lower(col("text")))))
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        (col("doc_id") === min(col("doc_id")).over(wDup)).as("is_canonical"))
    val pairs = DedupOps.sharedVerifiedPairs(spark, dir)
    val members = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id")))
      .distinct()
      .withColumn("near_dup", lit(true))
    base.join(members, Seq("doc_id"), "left_outer")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(!col("is_canonical"), lit(1))).as("n_exact_dups"),
        count(when(col("near_dup"), lit(1))).as("n_near_dup_members"))
      .select(col("source"), col("n_docs"), col("n_exact_dups"), col("n_near_dup_members"),
        (col("n_exact_dups").cast("double") / col("n_docs")).as("exact_dup_ratio"),
        (col("n_near_dup_members").cast("double") / col("n_docs")).as("near_dup_ratio"))
      .orderBy(col("source"))
  }

  val d29Sql: String =
    """WITH c AS (
      |  SELECT doc_id, source,
      |    doc_id = min(doc_id) OVER (PARTITION BY md5(trim(lower(text)))) AS is_canonical
      |  FROM documents),
      |toks AS (
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
      |members AS (
      |  SELECT DISTINCT doc_id FROM (
      |    SELECT doc_a AS doc_id FROM pairs UNION ALL SELECT doc_b FROM pairs)),
      |per AS (
      |  SELECT c.source, count(*) AS n_docs,
      |    count(CASE WHEN NOT is_canonical THEN 1 END) AS n_exact_dups,
      |    count(CASE WHEN m.doc_id IS NOT NULL THEN 1 END) AS n_near_dup_members
      |  FROM c LEFT JOIN members m ON c.doc_id = m.doc_id GROUP BY c.source)
      |SELECT source, n_docs, n_exact_dups, n_near_dup_members,
      |  CAST(n_exact_dups AS DOUBLE) / n_docs AS exact_dup_ratio,
      |  CAST(n_near_dup_members AS DOUBLE) / n_docs AS near_dup_ratio
      |FROM per ORDER BY source""".stripMargin

  /** d16: stratified (per-source) deterministic sampling — the
    * downsampling step every training-data pipeline needs for
    * overrepresented sources. A doc is kept iff a salted md5-derived
    * bucket of its id falls under its source's permille rate: pure
    * row-local projection + filter (no shuffle, no RNG state), the SAME
    * rows survive on any cluster, any partitioning, any rerun — and in
    * any engine (the hash is replayable SQL, unlike xxhash64/rand). */
  /** d16's salted-bucket sample filter over any (doc_id, source, …)
    * frame — row-local, stateless, stream-safe. */
  def sampleFilter(docs: DataFrame): DataFrame = {
    val bucket = pmod(
      conv(substring(md5(concat(lit("graft-sample:"), col("doc_id").cast("string"))), 1, 8),
        16, 10).cast("long"),
      lit(1000L))
    val rate = lit(250) +
      (regexp_extract(col("source"), "[0-9]+", 0).cast("int") % 4) * 250
    docs
      .withColumn("sample_bucket", bucket)
      .withColumn("rate_permille", rate)
      .filter(col("sample_bucket") < col("rate_permille"))
  }

  def d16StratifiedSample(spark: SparkSession, dir: String): DataFrame =
    sampleFilter(Tables.documents(spark, dir)
      .select(col("doc_id"), col("source")))
      .orderBy(col("doc_id"))

  val d16Sql: String = {
    val pow16 = Seq(268435456L, 16777216L, 1048576L, 65536L, 4096L, 256L, 16L, 1L)
    val digit = pow16.zipWithIndex.map { case (p, i) =>
      s"CAST(strpos('0123456789abcdef', (md5(concat('graft-sample:', CAST(doc_id AS VARCHAR))))[${i + 1}]) - 1 AS BIGINT) * $p"
    }.mkString(" + ")
    s"""WITH h AS (
       |  SELECT doc_id, source, ($digit) % 1000 AS sample_bucket,
       |    250 + (CAST(regexp_extract(source, '[0-9]+') AS INTEGER) % 4) * 250 AS rate_permille
       |  FROM documents)
       |SELECT doc_id, source, sample_bucket, CAST(rate_permille AS INTEGER) AS rate_permille
       |FROM h WHERE sample_bucket < rate_permille ORDER BY doc_id""".stripMargin
  }

  /** d40: URL canonicalization dedup — the d5-for-URLs every crawl
    * pipeline runs BEFORE fetching (collapsing scheme/host case,
    * default ports, tracking params, and trailing slashes can kill a
    * large fraction of a frontier without touching content). The test
    * corpus carries no URL column, so each doc synthesizes a messy URL
    * deterministically (case variance, :443, utm_* params, trailing
    * slash — the d18 injection idiom, replayed identically by the
    * oracle), and ~7 docs share each canonical target so real dup
    * groups emerge. Canonicalization is a chained regexp projection
    * (row-local, codegen'd; backreference-free patterns — Spark uses
    * $1 where DuckDB uses \1, so portable rules avoid captures);
    * groups form over one canonical-key exchange, min-id canonical
    * (d5's rule). */
  def d40UrlCanonical(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scheme = when(pmod(col("doc_id"), lit(2)) === 0, lit("HTTPS://")).otherwise(lit("https://"))
    val host = when(pmod(col("doc_id"), lit(3)) === 0, lit("WWW.example.org"))
      .otherwise(lit("www.example.org"))
    val port = when(pmod(col("doc_id"), lit(5)) === 0, lit(":443")).otherwise(lit(""))
    val path = concat(lit("/articles/"), pmod(col("doc_id"), lit(50)).cast("string"),
      when(pmod(col("doc_id"), lit(4)) === 0, lit("/")).otherwise(lit("")))
    val query = concat(
      when(pmod(col("doc_id"), lit(2)) === 1, lit("?utm_source=rss")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(11)) === 0,
        when(pmod(col("doc_id"), lit(2)) === 1, lit("&page=2")).otherwise(lit("?page=2")))
        .otherwise(lit("")))
    val url = concat(scheme, host, port, path, query)
    val canon =
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(lower(url), ":443/", "/"),
            "utm_[a-z]+=[a-z0-9]*&?", ""),
          "[?&]$", ""),
        "/$", "")
    val wC = Window.partitionBy(col("canonical_url"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), url.as("url"), canon.as("canonical_url"))
      .withColumn("group_size", count(lit(1)).over(wC))
      .withColumn("is_canonical", col("doc_id") === min(col("doc_id")).over(wC))
      .orderBy(col("doc_id"))
  }

  val d40Sql: String =
    """WITH u AS (
      |  SELECT doc_id,
      |    concat(
      |      CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END,
      |      CASE WHEN doc_id % 3 = 0 THEN 'WWW.example.org' ELSE 'www.example.org' END,
      |      CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END,
      |      '/articles/', CAST(doc_id % 50 AS VARCHAR),
      |      CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END,
      |      CASE WHEN doc_id % 2 = 1 THEN '?utm_source=rss' ELSE '' END,
      |      CASE WHEN doc_id % 11 = 0 THEN
      |        CASE WHEN doc_id % 2 = 1 THEN '&page=2' ELSE '?page=2' END
      |      ELSE '' END) AS url
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, url,
      |    regexp_replace(
      |      regexp_replace(
      |        regexp_replace(
      |          regexp_replace(lower(url), ':443/', '/', 'g'),
      |          'utm_[a-z]+=[a-z0-9]*&?', '', 'g'),
      |        '[?&]$', '', 'g'),
      |      '/$', '', 'g') AS canonical_url
      |  FROM u)
      |SELECT doc_id, url, canonical_url,
      |  count(*) OVER (PARTITION BY canonical_url) AS group_size,
      |  doc_id = min(doc_id) OVER (PARTITION BY canonical_url) AS is_canonical
      |FROM c ORDER BY doc_id""".stripMargin

  /** Docs kept per domain by d30. */
  val DomainCap = 5

  /** d30: per-domain crawl cap — the quota complement to d16's
    * rate-based sampling: keep at most [[DomainCap]] documents per
    * domain, chosen by a deterministic salted-hash rank (so "which N
    * survive" is stable across clusters/reruns and uncorrelated with
    * doc_id order — crawl order is usually correlated with content).
    * Domains derive from (source, doc_id) here — the deterministic
    * stand-in for a url host column. Unlike d16 (row-local, zero
    * shuffle) a quota NEEDS the per-domain rank exchange; the window
    * partitions on the domain key, so parallelism = #domains and no
    * partition exceeds the true per-domain row count — at 100 TB a
    * hot domain is bounded by the crawler itself, orders of magnitude
    * under executor memory. The hash ranks as a STRING (hex md5) —
    * portable to any engine, no integer conversion needed. */
  def d30DomainCap(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val domain = concat(col("source"), lit("-"),
      pmod(col("doc_id"), lit(17)).cast("string"), lit(".example.org"))
    val rank = row_number().over(
      Window.partitionBy(col("domain"))
        .orderBy(md5(concat(lit("graft-domain-cap:"), col("doc_id").cast("string"))),
          col("doc_id")))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), domain.as("domain"))
      .withColumn("keep_rank", rank)
      .filter(col("keep_rank") <= DomainCap)
      .orderBy(col("doc_id"))
  }

  val d30Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    concat(source, '-', CAST(doc_id % 17 AS VARCHAR), '.example.org') AS domain
       |  FROM documents),
       |ranked AS (
       |  SELECT doc_id, source, domain,
       |    CAST(row_number() OVER (PARTITION BY domain
       |      ORDER BY md5(concat('graft-domain-cap:', CAST(doc_id AS VARCHAR))), doc_id) AS INTEGER)
       |      AS keep_rank
       |  FROM d)
       |SELECT doc_id, source, domain, keep_rank
       |FROM ranked WHERE keep_rank <= $DomainCap ORDER BY doc_id""".stripMargin

  /** d31: per-source distribution drift — L1 distance between each
    * source's token distribution and the whole-corpus distribution; the
    * drift dashboard behind mixture decisions (d21 assumes sources stay
    * what they were — this measures when one moves). EXACT integer
    * arithmetic until ONE final division: with per-source total N_s,
    * corpus total N, per-(source,token) count c_st and corpus count
    * c_t,  L1(s) = Σ_t |c_st/N_s − c_t/N|  over the token UNION.
    * Tokens absent from s contribute c_t/N; summing only PRESENT tokens
    * with the integer numerator |c_st·N − c_t·N_s| and adding the
    * absent mass (N·N_s − Σ_present c_t·N_s) keeps every partial exact
    * — bit-stable at any parallelism and in any engine. Products run in
    * DECIMAL(38,0): long·long overflows past ~10⁹·10⁹, which a
    * 100 TB corpus exceeds.
    *
    * Shape: the HEAVY pipeline (explode → (source, token) reduce) runs
    * ONCE, with c_t and N_s as windows chained on the same frame —
    * Catalyst does not common-subexpression self-joins, so the
    * aggregate-and-join-back form re-ran the explode+reduce per
    * reference (4 corpus scans in the audited plan). The token window
    * and source window are keyed exchanges of the REDUCED dictionary
    * frame, and the final source aggregate reuses the source window's
    * partitioning. N comes from a second, CHEAP scan (row-local token
    * count, one column, no explode) broadcast as one row — the only
    * N-dependent term sits inside the |·|, so N cannot be factored out
    * and joined in later. */
  def d31SourceDivergence(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    def d38(c: Column): Column = c.cast(DecimalType(38, 0))
    val nRow = Tables.documents(spark, dir)
      .agg(sum(size(tokens(col("text"))).cast("long")).as("n_tot"))
    Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c_st"))
      .withColumn("c_t", sum(col("c_st")).over(Window.partitionBy(col("tok"))))
      .withColumn("n_s", sum(col("c_st")).over(Window.partitionBy(col("source"))))
      .crossJoin(broadcast(nRow))
      .groupBy(col("source"))
      .agg(
        first(col("n_s")).as("n_tokens"),
        first(col("n_tot")).as("n_corpus"),
        sum(abs(d38(col("c_st")) * d38(col("n_tot")) - d38(col("c_t")) * d38(col("n_s"))))
          .as("present_num"),
        sum(d38(col("c_t")) * d38(col("n_s"))).as("present_mass"))
      .select(col("source"), col("n_tokens"),
        ((col("present_num") +
          (d38(col("n_tokens")) * d38(col("n_corpus")) - col("present_mass")))
          .cast("double") /
          (col("n_tokens").cast("double") * col("n_corpus").cast("double")))
          .as("l1_divergence"))
      .orderBy(col("source"))
  }

  val d31Sql: String =
    """WITH st AS (
      |  SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      |  FROM documents),
      |cst AS (SELECT source, tok, count(*) AS c_st FROM st GROUP BY 1, 2),
      |ct AS (SELECT tok, CAST(sum(c_st) AS BIGINT) AS c_t FROM cst GROUP BY 1),
      |ns AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s FROM cst GROUP BY 1),
      |n AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_tot FROM ns),
      |agg AS (
      |  SELECT cst.source, max(n_s) AS n_tokens, max(n_tot) AS n_corpus,
      |    sum(abs(CAST(c_st AS DECIMAL(38,0)) * CAST(n_tot AS DECIMAL(38,0))
      |      - CAST(c_t AS DECIMAL(38,0)) * CAST(n_s AS DECIMAL(38,0)))) AS present_num,
      |    sum(CAST(c_t AS DECIMAL(38,0)) * CAST(n_s AS DECIMAL(38,0))) AS present_mass
      |  FROM cst JOIN ct USING (tok) JOIN ns ON cst.source = ns.source CROSS JOIN n
      |  GROUP BY 1)
      |SELECT source, n_tokens,
      |  CAST(present_num + (CAST(n_tokens AS DECIMAL(38,0)) * CAST(n_corpus AS DECIMAL(38,0))
      |    - present_mass) AS DOUBLE)
      |    / (CAST(n_tokens AS DOUBLE) * CAST(n_corpus AS DOUBLE)) AS l1_divergence
      |FROM agg ORDER BY source""".stripMargin

  /** d8: n-gram Jaccard scoring for given candidate pairs (consecutive
    * doc ids as the deterministic pair generator). Relational form —
    * intersection via shingle-equality join, no array columns. */
  def d8NgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val sh = DedupOps.sharedShingleHashes(spark, dir)
    val sizes = DedupOps.sharedShingleSizes(spark, dir)
    val pairs = sizes.select(col("doc_id").as("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b")), col("doc_b") === col("doc_a") + 1)
    DedupOps.jaccardForPairs(pairs, sh, sizes).orderBy(col("doc_a"))
  }

  val d8Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      |  FROM toks WHERE len(t) >= 3)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
      |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
      |ORDER BY doc_a""".stripMargin

  /** d11: corpus vocabulary — token frequencies, top-100. The classic
    * word count: explode + map-side-combined groupBy, top-k via
    * TakeOrderedAndProject. */
  def d11Vocab(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("tok"))
      .limit(100)

  val d11Sql: String =
    """WITH t AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok FROM documents)
      |SELECT tok, count(*) AS freq FROM t GROUP BY tok
      |ORDER BY freq DESC, tok LIMIT 100""".stripMargin

  /** PII patterns shared by the scrub operator and its oracle. Kept to
    * syntax both Java regex (Spark codegen) and RE2 (DuckDB) implement
    * identically — no lookaround, no backreferences, no word
    * boundaries. */
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val PhoneRe = "555-[0-9]{4}"

  /** PII scrubbing over ANY (doc_id, text) frame: count + redact
    * emails and phone numbers with typed placeholders. Row-local
    * regexp projections — zero shuffle at any scale. */
  /** APPENDS the scrub columns, keeping the input columns — the
    * stream-safe composition form (piiScrub below is the narrow
    * batch projection of the same expressions). */
  def withPiiScrub(docs: DataFrame): DataFrame =
    docs
      .withColumn("n_emails", regexp_count(col("text"), lit(EmailRe)))
      .withColumn("n_phones", regexp_count(col("text"), lit(PhoneRe)))
      .withColumn("scrubbed",
        regexp_replace(regexp_replace(col("text"), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>"))

  def piiScrub(docs: DataFrame): DataFrame =
    withPiiScrub(docs).select(
      col("doc_id"), col("n_emails"), col("n_phones"), col("scrubbed"))

  /** d18: PII scrubbing — the redaction pass every training pipeline
    * runs before release (emails → <EMAIL>, phones → <PHONE>). The
    * synthetic corpus carries no PII, so the query deterministically
    * INJECTS it first (every 10th doc gets a contact line) and both
    * engines replay injection + scrub — the oracle therefore verifies
    * the scrubbing on text that actually contains matches. Output
    * hashes the scrubbed text (bulky column, value-checked via md5). */
  def d18PiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val injected = concat(col("text"),
      when(pmod(col("doc_id"), lit(10)) === 0,
        concat(lit(" contact agent"), col("doc_id").cast("string"),
          lit("@example.org or call 555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
        .otherwise(lit("")))
    piiScrub(Tables.documents(spark, dir).select(col("doc_id"), injected.as("text")))
      .select(col("doc_id"), col("n_emails"), col("n_phones"),
        md5(col("scrubbed")).as("scrub_md5"),
        (col("n_emails") + col("n_phones") === 0).as("clean"))
      .orderBy(col("doc_id"))
  }

  val d18Sql: String =
    s"""WITH injected AS (
       |  SELECT doc_id,
       |    concat(text, CASE WHEN doc_id % 10 = 0
       |      THEN concat(' contact agent', CAST(doc_id AS VARCHAR),
       |        '@example.org or call 555-',
       |        lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'))
       |      ELSE '' END) AS text
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$EmailRe')) AS INTEGER) AS n_emails,
       |  CAST(len(regexp_extract_all(text, '$PhoneRe')) AS INTEGER) AS n_phones,
       |  md5(regexp_replace(regexp_replace(text, '$EmailRe', '<EMAIL>', 'g'),
       |    '$PhoneRe', '<PHONE>', 'g')) AS scrub_md5,
       |  (len(regexp_extract_all(text, '$EmailRe')) + len(regexp_extract_all(text, '$PhoneRe')) = 0) AS clean
       |FROM injected ORDER BY doc_id""".stripMargin

  /** d19: repetition-based quality filter (the Gopher/MassiveText
    * repetition rules, adapted to this corpus's newline-free text):
    * top-2-gram mass fraction, duplicate-2-gram fraction, type-token
    * ratio, and a keep flag. Shapes: one posexplode → lead window
    * builds 2-grams (the d6 shingle shape), two doc-keyed hash
    * aggregations with map-side partials — everything integer until
    * the final per-doc divisions, so the flags are bit-stable at any
    * parallelism and in any engine. */
  def d19RepetitionFilter(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val bi = tok
      .select(col("doc_id"), col("tok"), lead(col("tok"), 1).over(w).as("nxt"))
      .filter(col("nxt").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("tok"), col("nxt")).as("bg"))
    val stats = bi.groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("total_2g"), count(lit(1)).as("dist_2g"), max(col("c")).as("max_2g"))
    val t = tokens(col("text"))
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), size(t).as("n_tokens"),
        (size(array_distinct(t)).cast("double") / size(t)).as("ttr"))
    base.join(stats, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"), col("ttr"),
        coalesce(col("max_2g").cast("double") / col("total_2g"), lit(0.0)).as("frac_top_2gram"),
        coalesce(lit(1.0) - col("dist_2g").cast("double") / col("total_2g"), lit(0.0))
          .as("frac_dup_2grams"),
        (col("ttr") >= 0.4 &&
          coalesce(col("max_2g").cast("double") / col("total_2g"), lit(0.0)) <= 0.08).as("keep"))
      .orderBy(col("doc_id"))
  }

  val d19Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
      |bi AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
      |  FROM toks WHERE len(t) >= 2),
      |per AS (SELECT doc_id, bg, count(*) AS c FROM bi GROUP BY 1, 2),
      |stats AS (
      |  SELECT doc_id, sum(c) AS total_2g, count(*) AS dist_2g, max(c) AS max_2g
      |  FROM per GROUP BY 1),
      |base AS (
      |  SELECT doc_id, CAST(len(t) AS INTEGER) AS n_tokens,
      |    CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS ttr
      |  FROM toks)
      |SELECT b.doc_id, n_tokens, ttr,
      |  coalesce(CAST(max_2g AS DOUBLE) / total_2g, 0.0) AS frac_top_2gram,
      |  coalesce(1.0 - CAST(dist_2g AS DOUBLE) / total_2g, 0.0) AS frac_dup_2grams,
      |  (ttr >= 0.4 AND coalesce(CAST(max_2g AS DOUBLE) / total_2g, 0.0) <= 0.08) AS keep
      |FROM base b LEFT JOIN stats s ON b.doc_id = s.doc_id
      |ORDER BY b.doc_id""".stripMargin

  /** Benchmark-contamination check over ANY corpus/eval (doc_id, text)
    * frames: corpus documents sharing at least one word-3-gram with any
    * eval document, with shared-shingle and eval-doc counts. The join
    * is an equi-join on the shingle STRING — no broadcast assumption
    * (at 100 TB the eval side is small but its exploded shingles need
    * not fit in memory; the shuffle join on shingle is the
    * scale-correct plan, and Catalyst still broadcasts when the eval
    * side is tiny). */
  def contaminationAgainst(corpus: DataFrame, evalDocs: DataFrame): DataFrame = {
    val cs = DedupOps.explodedShinglesOf(corpus)
    val es = DedupOps.explodedShinglesOf(evalDocs)
      .select(col("doc_id").as("eval_id"), col("shingle"))
    cs.join(es, "shingle")
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("shingle")).as("n_shared_ngrams"),
        count_distinct(col("eval_id")).as("n_eval_docs"))
  }

  /** d20: test-set contamination — docs with doc_id % 97 = 0 stand in
    * for the held-out benchmark; every other document sharing a
    * 3-gram with any of them is reported. The real-world use: catch
    * training documents that quote (or duplicate) eval data before a
    * training run does. */
  /** Contamination hits materialized ONCE per (session, dataset) in
    * [[SessionMemo]] (the d6 verified-pairs lesson applied here): the
    * shingle equi-join runs once and its consumers — d20's report, d35's
    * funnel stage and d56's cluster closure — read the tiny
    * (doc_id, counts) frame. */
  private[operators] def sharedContamination(spark: SparkSession, dir: String): DataFrame =
    SessionMemo.frame(spark, dir, "text.contam") {
      val docs = Tables.documents(spark, dir)
      contaminationAgainst(
        docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(97)) === 0))
    }

  def d20Contamination(spark: SparkSession, dir: String): DataFrame =
    sharedContamination(spark, dir).orderBy(col("doc_id"))

  val d20Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
      |  FROM toks WHERE len(t) >= 3),
      |ev AS (SELECT doc_id AS eval_id, shingle FROM sh WHERE doc_id % 97 = 0),
      |corp AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 97 <> 0)
      |SELECT c.doc_id, count(DISTINCT c.shingle) AS n_shared_ngrams,
      |  count(DISTINCT eval_id) AS n_eval_docs
      |FROM corp c JOIN ev e ON c.shingle = e.shingle
      |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin

  /** d21: source-mixture weights — the sampling-weight table a
    * training run uses to hit a target mixture (uniform here) from an
    * imbalanced corpus: per-source doc/char counts, actual char
    * share, the weight that equalizes shares, and the repeat factor
    * capped at 4 epochs (the standard upsampling bound). One tiny
    * aggregate; the windows run over |sources| rows, never the
    * corpus. */
  def d21MixtureWeights(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = Window.partitionBy()
    val per = Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("src_chars"))
    val share = col("src_chars").cast("double") / sum(col("src_chars")).over(all)
    val weight = (lit(1.0) / count(lit(1)).over(all)) / share
    per.select(col("source"), col("n_docs"), col("src_chars"),
        share.as("share"), weight.as("weight"),
        least(lit(4.0), weight).as("repeat_factor"))
      .orderBy(col("source"))
  }

  val d21Sql: String =
    """WITH per AS (
      |  SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS src_chars
      |  FROM documents GROUP BY source)
      |SELECT source, n_docs, src_chars,
      |  CAST(src_chars AS DOUBLE) / sum(src_chars) OVER () AS share,
      |  (1.0 / count(*) OVER ()) / (CAST(src_chars AS DOUBLE) / sum(src_chars) OVER ()) AS weight,
      |  least(4.0, (1.0 / count(*) OVER ()) / (CAST(src_chars AS DOUBLE) / sum(src_chars) OVER ())) AS repeat_factor
      |FROM per ORDER BY source""".stripMargin

  /** d22: deterministic corpus shuffle + sharding — the global
    * training-order permutation: sort key = salted md5 of the doc id
    * (engine-portable, the d16 hash idiom), shard = key mod 64. Pure
    * row-local projection, NO per-shard window: at 100 TB the writer
    * realizes the order via repartition(shard) +
    * sortWithinPartitions(sort_key, doc_id) — order within a shard
    * file, parallelism = #shards, no global rank stage. Reruns and
    * engines agree on every row's (shard, sort_key). */
  def d22CorpusShuffle(spark: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(
      md5(concat(lit("graft-shuffle:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("long")
    Tables.documents(spark, dir)
      .select(col("doc_id"), pmod(h, lit(64L)).cast("int").as("shard"), h.as("sort_key"))
      .orderBy(col("doc_id"))
  }

  val d22Sql: String = {
    val pow16 = Seq(268435456L, 16777216L, 1048576L, 65536L, 4096L, 256L, 16L, 1L)
    val digit = pow16.zipWithIndex.map { case (p, i) =>
      s"CAST(strpos('0123456789abcdef', (md5(concat('graft-shuffle:', CAST(doc_id AS VARCHAR))))[${i + 1}]) - 1 AS BIGINT) * $p"
    }.mkString(" + ")
    s"""SELECT doc_id, CAST(($digit) % 64 AS INTEGER) AS shard, ($digit) AS sort_key
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Rows kept by d43's top-k. */
  val LmTopK = 50

  /** d43: n-gram LM count table — the ingredients a count-based language
    * model (the KenLM-style quality/perplexity filters train on) needs
    * per bigram: raw count, left-context total (Σ over bigrams sharing
    * w1 — the backoff denominator) and the Kneser–Ney CONTINUATION
    * count of w2 (distinct left contexts — exactly the distinct (w1,w2)
    * rows per w2, so it's a plain count window over the reduced frame,
    * no DISTINCT-in-window needed). One corpus scan: posexplode + lead
    * over the per-doc window (the shingle idiom at k=2, multiplicities
    * KEPT — LM counts are not set-valued), reduce to the (w1, w2)
    * dictionary, then two keyed windows over the REDUCED frame. Top-50
    * by (count desc, w1, w2) compiles to TakeOrderedAndProject — no
    * global sort materialization. All counts integer-exact. */
  def d43NgramLm(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val bigrams = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "w1")))
      .withColumn("w2", lead(col("w1"), 1).over(wDoc))
      .filter(col("w2").isNotNull)
    bigrams
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_bigram"))
      .withColumn("left_total", sum(col("n_bigram")).over(Window.partitionBy(col("w1"))))
      .withColumn("n_continuations", count(lit(1)).over(Window.partitionBy(col("w2"))))
      .orderBy(col("n_bigram").desc, col("w1"), col("w2"))
      .limit(LmTopK)
  }

  val d43Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
       |bg AS (
       |  SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS b
       |  FROM toks WHERE len(t) >= 2),
       |cnt AS (
       |  SELECT string_split(b, ' ')[1] AS w1, string_split(b, ' ')[2] AS w2,
       |    count(*) AS n_bigram
       |  FROM bg GROUP BY 1, 2),
       |w AS (
       |  SELECT *, CAST(sum(n_bigram) OVER (PARTITION BY w1) AS BIGINT) AS left_total,
       |    count(*) OVER (PARTITION BY w2) AS n_continuations
       |  FROM cnt)
       |SELECT w1, w2, n_bigram, left_total, n_continuations
       |FROM w ORDER BY n_bigram DESC, w1, w2 LIMIT $LmTopK""".stripMargin

  /** Integer probability scale for d48 (probabilities become ppm). */
  val LmScale = 1000000L

  /** d48: LM-familiarity scoring — the count-based quality filter d43's
    * LM feeds (the CCNet-style idea: docs whose n-grams the corpus LM
    * finds familiar are "in-distribution"; junk scores low). Per doc:
    * the n_bigram-weighted mean of the corpus bigram probability
    * P(w2|w1) = n_bigram/left_total, integer-scaled to ppm, so the
    * whole computation is exact integer arithmetic (products ≤
    * 10⁶·corpus_bigrams ≪ 2⁶³; one `div` per level) — bit-stable at
    * any parallelism and identical in any engine.
    *
    * Shape for 100 TB: TWO corpus scans (plan-audited, the d15/d31
    * adjudication), each reducing map-side before any exchange — the
    * doc side to (doc_id, w1, w2, n), the LM side through the same
    * reduction down to the (w1, w2) dictionary. A one-scan variant
    * exists (n_bigram/left_total as windows over the doc-bigram frame)
    * but its partition-by-w1 window runs over DOC-level rows and
    * inherits Zipf skew — the corpus's hottest word lands on one
    * partition; the dict join keeps the w1 window on the REDUCED
    * frame, where skew is bounded by vocab fan-out. The dict join is
    * an equi-join, never a broadcast assumption (vocab² can be huge).
    * No interpreted HOFs anywhere. */
  def d48LmFamiliarity(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val docBigrams = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "w1")))
      .withColumn("w2", lead(col("w1"), 1).over(wDoc))
      .filter(col("w2").isNotNull)
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("n"))
    val lm = docBigrams
      .groupBy(col("w1"), col("w2")).agg(sum(col("n")).as("n_bigram"))
      .withColumn("left_total", sum(col("n_bigram")).over(Window.partitionBy(col("w1"))))
      .select(col("w1"), col("w2"),
        expr(s"(n_bigram * $LmScale) div left_total").as("p_ppm"))
    docBigrams.join(lm, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_bigrams"),
        expr("sum(n * p_ppm) div sum(n)").as("familiarity_ppm"))
      .orderBy(col("doc_id"))
  }

  val d48Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
       |bg AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS b
       |  FROM toks WHERE len(t) >= 2),
       |db AS (
       |  SELECT doc_id, string_split(b, ' ')[1] AS w1, string_split(b, ' ')[2] AS w2,
       |    count(*) AS n
       |  FROM bg GROUP BY 1, 2, 3),
       |lm AS (
       |  SELECT w1, w2,
       |    (CAST(sum(n) AS BIGINT) * $LmScale)
       |      // CAST(sum(CAST(sum(n) AS BIGINT)) OVER (PARTITION BY w1) AS BIGINT) AS p_ppm
       |  FROM db GROUP BY w1, w2)
       |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
       |  CAST(sum(n * p_ppm) AS BIGINT) // CAST(sum(n) AS BIGINT) AS familiarity_ppm
       |FROM db JOIN lm USING (w1, w2)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** d51: n-gram novelty — d48's complement: per doc, the share of its
    * bigram TYPES that occur in NO other document (document frequency
    * 1), i.e. leave-one-out novelty. High novelty + low quality flags
    * noise/misencoding; high novelty + high quality is the genuinely
    * new text over-aggressive filtering destroys. Exact integer df
    * (the d26 rarity idiom at bigram granularity): reduce to DISTINCT
    * (doc, w1, w2) first, df as a count window over the bigram
    * partition of that reduced frame (rows are distinct by
    * construction — no DISTINCT-in-window), one doc-keyed aggregate;
    * ratio reported in integer basis points. ONE corpus scan. */
  def d51NgramNovelty(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val types = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "w1")))
      .withColumn("w2", lead(col("w1"), 1).over(wDoc))
      .filter(col("w2").isNotNull)
      .select(col("doc_id"), col("w1"), col("w2")).distinct()
    types
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("w1"), col("w2"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_types"),
        sum(when(col("df") === 1L, 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_types"), col("n_novel"),
        expr("(n_novel * 10000) div n_types").as("novelty_bp"))
      .orderBy(col("doc_id"))
  }

  val d51Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
      |occ AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS b
      |  FROM toks WHERE len(t) >= 2),
      |bg AS (SELECT DISTINCT doc_id, b FROM occ),
      |w AS (
      |  SELECT doc_id, count(*) OVER (PARTITION BY b) AS df FROM bg)
      |SELECT doc_id, count(*) AS n_types,
      |  CAST(count(CASE WHEN df = 1 THEN 1 END) AS BIGINT) AS n_novel,
      |  (count(CASE WHEN df = 1 THEN 1 END) * 10000) // count(*) AS novelty_bp
      |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** d53: language-ID confusion audit — the classifier-eval card for
    * d2 against the corpus's labeled `lang` column: per (true,
    * predicted) pair the doc count and the integer-basis-point recall
    * within the true class. This is the operator that turns d2's spot
    * accuracy fixture into a standing, per-class regression gate (which
    * languages leak into `und`, which pair confuses). Rides d2's exact
    * detection; new work = one group exchange over ≤ |langs|² reduced
    * rows + a class-partitioned window on that reduced frame. Oracle
    * composes d2's replayed SQL verbatim (the d15 composition idiom). */
  def d53LangConfusion(spark: SparkSession, dir: String): DataFrame =
    d2LangId(spark, dir)
      .groupBy(col("lang_true"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .withColumn("true_total",
        sum(col("n")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang_true"))))
      .select(col("lang_true"), col("lang_pred"), col("n"),
        expr("(n * 10000) div true_total").as("recall_bp"))
      .orderBy(col("lang_true"), col("lang_pred"))

  val d53Sql: String =
    s"""WITH pred AS ($d2Sql),
       |m AS (
       |  SELECT lang_true, lang_pred, count(*) AS n FROM pred GROUP BY 1, 2),
       |t AS (
       |  SELECT *, CAST(sum(n) OVER (PARTITION BY lang_true) AS BIGINT) AS true_total
       |  FROM m)
       |SELECT lang_true, lang_pred, n, (n * 10000) // true_total AS recall_bp
       |FROM t ORDER BY lang_true, lang_pred""".stripMargin

  /** Per-source token budget for d49 (greedy prefix in salted-hash
    * order). 800 keeps a meaningful subset at every test SF: ~60% of
    * each source at sf0.01 (~1.3k tokens/source), ~6% at sf0.1. */
  val TokenBudget = 800L

  /** d49: token-budget sampling — cap each source's contribution to a
    * training mix by TOKENS, not documents (what mixture execution
    * actually needs after d21 picks the weights): walk each source's
    * docs in deterministic salted-hash order and keep the prefix whose
    * cumulative token count stays within budget. Unbiased (hash order
    * is independent of content), reproducible (no RNG state), and
    * exactly budgeted. A doc larger than the remaining budget ends the
    * kept prefix for that source (cum exceeds → dropped), matching the
    * greedy contract.
    *
    * Shape: ONE scan; the only exchange is the per-SOURCE hash
    * partition for the cumulative-sum window (d24's adjudicated shape —
    * never a global ordered window; sources parallelize independently,
    * and at 1000 executors each holds its own running sum). */
  def d49TokenBudgetSample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tok"),
        md5(concat(lit("graft-budget:"), col("doc_id").cast("string"))).as("h"))
      .withColumn("cum_tok", sum(col("n_tok")).over(w))
      .filter(col("cum_tok") <= TokenBudget)
      .select(col("doc_id"), col("source"), col("n_tok"), col("cum_tok"))
      .orderBy(col("doc_id"))
  }

  val d49Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tok,
       |    md5(concat('graft-budget:', CAST(doc_id AS VARCHAR))) AS h
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, source, n_tok,
       |    CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok
       |  FROM d)
       |SELECT doc_id, source, n_tok, cum_tok
       |FROM c WHERE cum_tok <= $TokenBudget ORDER BY doc_id""".stripMargin

  /** Vocabulary size for d59 — deliberately small against the tiny
    * synthetic lexicon (~31 types) so the OOV signal is non-degenerate;
    * a production run sets this to the tokenizer's vocab size. */
  val OovVocabK = 20

  /** d59: out-of-vocabulary rate — the tokenizer-coverage audit a
    * pipeline runs before committing to a vocab: the corpus top-K
    * types (ties at the cutoff broken (freq desc, token asc) — engines
    * disagree on arbitrary-tie LIMIT) define the vocabulary, then each
    * doc reports its share of token OCCURRENCES outside it, in exact
    * basis points. High-OOV docs are foreign-language/garbage
    * candidates the d15 gate wants to see.
    *
    * Shape: one explode scan reduced to type counts (map-side
    * combine), top-K via TakeOrderedAndProject, vocab BROADCAST back
    * against the token stream (a vocab is ≤ a few hundred thousand
    * rows at any real scale — never a shuffle join), one doc-keyed
    * reduce. */
  def d59OovRate(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val vocab = tok.groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("tok")).limit(OovVocabK)
      .select(col("tok"), lit(1).as("in_vocab"))
    tok.join(broadcast(vocab), Seq("tok"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        expr("(n_oov * 10000) div n_tokens").as("oov_bp"))
      .orderBy(col("doc_id"))
  }

  val d59Sql: String =
    s"""WITH occ AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      |  FROM documents),
      |vocab AS (
      |  SELECT tok FROM occ GROUP BY tok
      |  ORDER BY count(*) DESC, tok LIMIT ${OovVocabK}),
      |j AS (
      |  SELECT o.doc_id, CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
      |  FROM occ o LEFT JOIN vocab v ON o.tok = v.tok)
      |SELECT doc_id, count(*) AS n_tokens,
      |  CAST(sum(oov) AS BIGINT) AS n_oov,
      |  (CAST(sum(oov) AS BIGINT) * 10000) // count(*) AS oov_bp
      |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** d61: token burstiness — Church & Gale's variance-to-mean ratio
    * (overdispersion) per type: function words spread evenly across
    * docs (VMR ≈ 1, Poisson), content/topical words "burst" within few
    * docs (VMR ≫ 1). Data-curation use: burstiness separates
    * boilerplate/template tokens from topical ones where raw frequency
    * can't. Exact form: per-type doc frequency, total count, and
    * count-square sum reduce in integers over one explode scan;
    * VMR = (N·Σc² − T²) / (N·T) with N = corpus doc count — one IEEE
    * division of exact integers at the end (zeros-per-doc handled
    * analytically, never materialized). Top-50 by total for a bounded
    * report.
    *
    * Shape: (doc, tok) reduce → tok reduce → TakeOrderedAndProject;
    * the corpus doc count rides a 1-row broadcast cross join. */
  def d61TokenBurstiness(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val nDocs = docs.select(count(lit(1)).as("n_docs"))
    val perDoc = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
    perDoc
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("doc_freq"), sum(col("c")).as("total"),
        sum(col("c") * col("c")).as("sumsq"))
      .crossJoin(broadcast(nDocs))
      .select(col("tok"), col("doc_freq"), col("total"),
        ((col("n_docs") * col("sumsq") - col("total") * col("total")).cast("double") /
          (col("n_docs") * col("total"))).as("vmr"))
      .orderBy(col("total").desc, col("tok"))
      .limit(50)
  }

  val d61Sql: String =
    """WITH occ AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      |  FROM documents),
      |per_doc AS (SELECT doc_id, tok, count(*) AS c FROM occ GROUP BY 1, 2),
      |agg AS (
      |  SELECT tok, count(*) AS doc_freq, CAST(sum(c) AS BIGINT) AS total,
      |    CAST(sum(c * c) AS BIGINT) AS sumsq
      |  FROM per_doc GROUP BY tok),
      |n AS (SELECT count(*) AS n_docs FROM documents)
      |SELECT tok, doc_freq, total,
      |  CAST(n_docs * sumsq - total * total AS DOUBLE) / (n_docs * total) AS vmr
      |FROM agg, n
      |ORDER BY total DESC, tok LIMIT 50""".stripMargin

  /** d62: per-source lexical diversity — the type/token audit beside
    * d31's distribution divergence: per source, type count, token
    * count, hapax count (types seen once — the productive-vocabulary
    * signal), type-token ratio (one IEEE division of exact integers)
    * and hapax share in exact basis points. Low-TTR sources are
    * template/boilerplate farms; high-hapax sources are noisy OCR —
    * both are what a mixture designer (d21) reweights.
    *
    * Shape: one scan → (source, type) reduce (map-side combined) →
    * per-source reduce. The hapax test rides the same aggregate —
    * never a second scan. */
  def d62LexicalDiversity(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_types"), sum(col("c")).as("n_tokens"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_types"), col("n_tokens"), col("n_hapax"),
        (col("n_types").cast("double") / col("n_tokens")).as("ttr"),
        expr("(n_hapax * 10000) div n_types").as("hapax_bp"))
      .orderBy(col("source"))

  val d62Sql: String =
    """WITH occ AS (
      |  SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      |  FROM documents),
      |tf AS (SELECT source, tok, count(*) AS c FROM occ GROUP BY 1, 2),
      |a AS (
      |  SELECT source, count(*) AS n_types, CAST(sum(c) AS BIGINT) AS n_tokens,
      |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
      |  FROM tf GROUP BY source)
      |SELECT source, n_types, n_tokens, n_hapax,
      |  CAST(n_types AS DOUBLE) / n_tokens AS ttr,
      |  (n_hapax * 10000) // n_types AS hapax_bp
      |FROM a ORDER BY source""".stripMargin

  /** Minimum pair count for a d63 collocation candidate. */
  val CollocMinPairs = 5L

  /** d63: collocation mining — adjacent-bigram association strength,
    * the phrase detector a tokenizer-merges or stop-phrase list is
    * built from. Score is the PMI RATIO in linear space, integer-exact:
    * (n_ab · N · 10000) div (n_a · n_b) — monotone in PMI (log of a
    * monotone map preserves rank), so the d34 discipline applies: no
    * floating log in an oracled column, cross-engine rank ties broken
    * on the bigram itself. Bigrams below [[CollocMinPairs]] are noise
    * (PMI's known low-count pathology) and are cut before scoring.
    *
    * Shape: one scan builds positional bigrams row-locally (transform
    * over the token array — no self-join on position), reduced
    * map-side; unigram counts join back as PLAIN token-keyed
    * equi-joins — web-scale whitespace vocabularies run 10⁸–10⁹ types
    * (typos, numbers, URLs), so the dictionary side is NEVER
    * broadcast-assumed (the d26/d48 adjudication); the left side is
    * the already-reduced, ≥[[CollocMinPairs]]-filtered bigram frame,
    * so the joins are reduced-frame × dict and AQE still broadcasts
    * at test SF. The corpus total rides a 1-row broadcast. Top-30 via
    * TakeOrderedAndProject. The PMI numerator n_ab·N·10⁴ is computed
    * in DECIMAL(38,0) (HUGEINT oracle-side): it exceeds BIGINT near
    * N ≈ 10¹⁴ tokens, a scale this engine targets; `div` returns
    * BIGINT in both engines and the ratio itself is small. */
  def d63Collocations(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    val docs = Tables.documents(spark, dir)
    val bi = docs.select(explode(when(size(t) >= 2,
        transform(sequence(lit(1), size(t) - 1),
          i => struct(element_at(t, i).as("a"), element_at(t, i + 1).as("b"))))
        .otherwise(array().cast("array<struct<a:string,b:string>>"))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= CollocMinPairs)
    val uni = docs.select(explode(t).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val total = uni.select(sum(col("cnt")).as("n_total"))
    bi
      .join(uni.select(col("tok").as("a"), col("cnt").as("cnt_a")), "a")
      .join(uni.select(col("tok").as("b"), col("cnt").as("cnt_b")), "b")
      .crossJoin(broadcast(total))
      .select(col("a"), col("b"), col("n_ab"), col("cnt_a"), col("cnt_b"),
        expr("(cast(n_ab as decimal(38,0)) * n_total * 10000) div (cast(cnt_a as decimal(38,0)) * cnt_b)")
          .as("pmi_ratio_bp"))
      .orderBy(col("pmi_ratio_bp").desc, col("a"), col("b"))
      .limit(30)
  }

  val d63Sql: String =
    s"""WITH t AS (
       |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM documents),
       |bi AS (
       |  SELECT gs.a AS a, gs.b AS b, count(*) AS n_ab FROM (
       |    SELECT unnest(list_transform(range(1, len(toks)),
       |      i -> {'a': toks[i], 'b': toks[i+1]})) AS gs
       |    FROM t WHERE len(toks) >= 2)
       |  GROUP BY 1, 2 HAVING count(*) >= $CollocMinPairs),
       |uni AS (
       |  SELECT tok, count(*) AS cnt FROM (
       |    SELECT unnest(toks) AS tok FROM t) GROUP BY tok),
       |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM uni)
       |SELECT bi.a, bi.b, bi.n_ab, ua.cnt AS cnt_a, ub.cnt AS cnt_b,
       |  CAST((CAST(bi.n_ab AS HUGEINT) * n.n_total * 10000)
       |       // (CAST(ua.cnt AS HUGEINT) * ub.cnt) AS BIGINT) AS pmi_ratio_bp
       |FROM bi
       |JOIN uni ua ON ua.tok = bi.a
       |JOIN uni ub ON ub.tok = bi.b
       |CROSS JOIN n
       |ORDER BY pmi_ratio_bp DESC, bi.a, bi.b LIMIT 30""".stripMargin

  /** Prefix length (tokens) and sharing threshold for d64. */
  val BoilerplatePrefixTokens = 5
  val BoilerplateMinDocs = 3L

  /** d64: boilerplate-template audit — per source, how much of the
    * corpus opens with a SHARED template intro (the CCNet/trafilatura
    * concern at the document grain: scraped sources prepend navigation
    * or license blurbs; near-dup detection won't catch them when the
    * bodies differ). A doc is template-flagged when its first
    * [[BoilerplatePrefixTokens]]-token prefix is shared by ≥
    * [[BoilerplateMinDocs]] docs of the SAME source. Output per
    * source: doc count, template docs, distinct offending prefixes,
    * exact bp share.
    *
    * Shape: prefix built row-locally, one (source, prefix) reduce,
    * flags fold into the per-source reduce via a window over the
    * reduced frame — one corpus exchange. */
  def d64BoilerplatePrefixes(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    val byPrefix = Tables.documents(spark, dir)
      .select(col("source"),
        concat_ws(" ", slice(t, 1, BoilerplatePrefixTokens)).as("prefix"))
      .groupBy(col("source"), col("prefix"))
      .agg(count(lit(1)).as("n_docs_prefix"))
    byPrefix
      .groupBy(col("source"))
      .agg(sum(col("n_docs_prefix")).as("n_docs"),
        sum(when(col("n_docs_prefix") >= BoilerplateMinDocs, col("n_docs_prefix"))
          .otherwise(0L)).as("n_template_docs"),
        sum(when(col("n_docs_prefix") >= BoilerplateMinDocs, 1L).otherwise(0L))
          .as("n_template_prefixes"))
      .select(col("source"), col("n_docs"), col("n_template_docs"),
        col("n_template_prefixes"),
        expr("(n_template_docs * 10000) div n_docs").as("template_bp"))
      .orderBy(col("source"))
  }

  val d64Sql: String =
    s"""WITH p AS (
       |  SELECT source,
       |    array_to_string(list_filter(string_split(text, ' '), x -> x <> '')[1:$BoilerplatePrefixTokens], ' ') AS prefix
       |  FROM documents),
       |g AS (SELECT source, prefix, count(*) AS n_docs_prefix FROM p GROUP BY 1, 2),
       |a AS (
       |  SELECT source, CAST(sum(n_docs_prefix) AS BIGINT) AS n_docs,
       |    CAST(sum(CASE WHEN n_docs_prefix >= $BoilerplateMinDocs THEN n_docs_prefix ELSE 0 END) AS BIGINT) AS n_template_docs,
       |    CAST(sum(CASE WHEN n_docs_prefix >= $BoilerplateMinDocs THEN 1 ELSE 0 END) AS BIGINT) AS n_template_prefixes
       |  FROM g GROUP BY source)
       |SELECT source, n_docs, n_template_docs, n_template_prefixes,
       |  (n_template_docs * 10000) // n_docs AS template_bp
       |FROM a ORDER BY source""".stripMargin

  /** Merge rounds for d67's BPE trainer. */
  val BpeMergeRounds = 8

  /** d67: BPE merge-rule training — the tokenizer-construction stage
    * every training-data pipeline runs (r7 verdict gap #2; d14 counts
    * the PRE-tokens this learner consumes, d63 scores pair association,
    * but nothing learned the merge table until now). Classic Sennrich
    * et al. 2016 (arXiv:1508.07909) byte-pair encoding over word types:
    * k rounds of (count adjacent symbol pairs weighted by word
    * frequency → merge the most frequent pair corpus-wide), emitting
    * the per-round merge table (round, pair, merged symbol, count).
    * Tie-break is deterministic in BOTH engines: count desc, then
    * (left, right) lexicographic.
    *
    * Scale shape — the part that matters at 100 TB: the corpus is
    * scanned ONCE, reducing to the (word, freq) TYPE table (Heaps' law:
    * vocabulary types, not corpus tokens). Every round then works on
    * that reduced frame: segmentations update via a row-local fold
    * (symbols are space-joined; merging appends the right symbol
    * directly to a terminal left symbol), pair counts aggregate with
    * map-side partials, and the round's winner is a ONE-row driver
    * argmax (the bounded Lloyd-collect pattern, VectorOps:325). Each
    * round's segmentation is persisted and the previous round's
    * dropped — k materializations of the vocab frame, no lineage
    * blow-up, no corpus rescan. The final round skips the (unused)
    * re-segmentation. Pre-tokens are lowercase letter runs so the
    * symbol alphabet is SQL-portable; the DuckDB oracle replays all k
    * rounds via generated per-round CTEs with the same string-fold
    * (list_reduce's first-element seeding ≡ the empty-string init
    * branch of Spark's aggregate()). */
  def d67BpeMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bpeTrained(spark, dir)._1
      .toDF("merge_round", "left_sym", "right_sym", "merged", "n_pairs")
      .orderBy(col("merge_round"))
  }

  /** Memoized BPE training artifacts per (session, dataset): the k-round
    * merge table plus the FINAL segmentation of the word-type table with
    * ALL k merges applied (persisted — the trained tokenizer's encoding
    * of every vocabulary type). d67 reads the merge table; d68 encodes
    * the corpus against the final segmentation. Training runs once per
    * (session, dir); releasing the [[SessionMemo]] entry unpersists the
    * segmentation. */
  private[operators] def bpeTrained(spark: SparkSession, dir: String)
      : (Seq[(Int, String, String, String, Long)], DataFrame) =
    SessionMemo.value(spark, dir, "text.bpe") {
      import org.apache.spark.storage.StorageLevel
      val base = Tables.documents(spark, dir)
        .select(explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
        .select(col("word"), col("freq"),
          trim(regexp_replace(col("word"), "(.)", "$1 ")).as("seg"))
      var seg = base.persist(StorageLevel.MEMORY_AND_DISK)
      val merges = Seq.newBuilder[(Int, String, String, String, Long)]
      try {
        for (r <- 1 to BpeMergeRounds) {
          val syms = split(col("seg"), " ")
          val top = seg
            .select(col("freq"), explode(when(size(syms) >= 2,
              transform(sequence(lit(1), size(syms) - 1),
                i => struct(element_at(syms, i).as("a"), element_at(syms, i + 1).as("b"))))
              .otherwise(array().cast("array<struct<a:string,b:string>>"))).as("p"))
            .groupBy(col("p.a").as("a"), col("p.b").as("b"))
            .agg(sum(col("freq")).as("cnt"))
            .orderBy(col("cnt").desc, col("a"), col("b"))
            .limit(1).collect()
          require(top.nonEmpty, s"corpus exhausted all adjacent pairs before round $r")
          val (a, b, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          merges += ((r, a, b, a + b, cnt))
          // greedy left-to-right merge: the accumulator is the
          // space-joined output; a right symbol lands WITHOUT a space
          // iff the accumulator currently ends in exactly the left
          // symbol (start-of-word or after a space). Round k's merge is
          // applied too — the final frame IS the trained encoding.
          val applied = seg.withColumn("seg",
            aggregate(split(col("seg"), " "), lit(""),
              (acc, x) => when(acc === lit(""), x)
                .when(x === lit(b) &&
                  (acc === lit(a) || acc.endsWith(lit(" " + a))), concat(acc, x))
                .otherwise(concat(acc, lit(" "), x))))
            .persist(StorageLevel.MEMORY_AND_DISK)
          applied.count() // materialize before releasing the parent
          seg.unpersist()
          seg = applied
        }
      } catch { case t: Throwable => seg.unpersist(); throw t }
      (merges.result(), seg)
    }(_._2.unpersist(blocking = true))

  /** Releases every operator family's shared artifacts for (session, dir). */
  def release(spark: SparkSession, dir: String): Unit = SessionMemo.release(spark, dir)

  /** d68: BPE corpus encoding + per-source fertility audit — the
    * APPLICATION step closing d67's training loop (train → encode →
    * audit; d27 audits the whitespace/regex pre-tokenizer, this audits
    * the LEARNED subword tokenizer the pipeline would actually ship).
    * Per source: word occurrences, BPE tokens emitted, distinct word
    * types, fertility (BPE tokens per word) and the share of
    * occurrences encoded as a single whole-word token — the two numbers
    * a tokenizer owner reads per domain (high fertility = the merge
    * table serves this source badly; training mixtures then reweight or
    * the vocab grows).
    *
    * Scale shape: encoding is a VOCAB-grain dictionary lookup, not
    * corpus work — the final segmentation frame is Heaps-law sized, so
    * per-word token counts are row-local `size(split(seg))` over it.
    * The corpus pays one scan reduced map-side to (source, word type,
    * occurrences); the encode join is a token-keyed dictionary
    * equi-join, never broadcast-assumed (the d26/d48 adjudication —
    * web-scale type counts run 10⁸+), and AQE still broadcasts it at
    * test SF. Per-source aggregates ride the join output's existing
    * partitioning into a ≤|sources| reduce. Training itself is
    * memoized ([[bpeTrained]]) — a session running d67+d68 trains
    * once. */
  def d68BpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val enc = bpeTrained(spark, dir)._2
      .select(col("word"), size(split(col("seg"), " ")).cast("long").as("n_sym"))
    val sw = Tables.documents(spark, dir)
      .select(col("source"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0))).as("word"))
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("occ"))
    sw.join(enc, Seq("word"))
      .groupBy(col("source"))
      .agg(sum(col("occ")).as("n_words"),
        sum(col("occ") * col("n_sym")).as("n_bpe_tokens"),
        count(lit(1)).as("n_word_types"),
        sum(when(col("n_sym") === 1L, col("occ")).otherwise(0L)).as("n_whole_word"))
      .select(col("source"), col("n_words"), col("n_bpe_tokens"), col("n_word_types"),
        expr("(n_bpe_tokens * 10000) div n_words").as("fertility_bp"),
        expr("(n_whole_word * 10000) div n_words").as("whole_word_bp"))
      .orderBy(col("source"))
  }

  /** Shared DuckDB CTE chain replaying d67's k training rounds
    * (w → seg0 → p_r/m_r[/seg_r]). `withFinalSeg` also applies round
    * k's merge so seg$k is the trained encoding d68 consumes. */
  private def bpeCtesSql(withFinalSeg: Boolean): String = {
    val sb = new StringBuilder
    sb ++= """WITH w AS (
             |  SELECT word, count(*) AS freq FROM (
             |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
             |    FROM documents)
             |  GROUP BY word),
             |seg0 AS (
             |  SELECT word, freq,
             |    trim(regexp_replace(word, '(.)', '\1 ', 'g')) AS seg
             |  FROM w)""".stripMargin
    for (r <- 1 to BpeMergeRounds) {
      sb ++= s""",
                |p$r AS (
                |  SELECT pr.a AS a, pr.b AS b, CAST(sum(freq) AS BIGINT) AS cnt FROM (
                |    SELECT freq, unnest(list_transform(range(1, len(sy)),
                |      i -> {'a': sy[i], 'b': sy[i+1]})) AS pr
                |    FROM (SELECT freq, string_split(seg, ' ') AS sy FROM seg${r - 1}))
                |  GROUP BY 1, 2),
                |m$r AS (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1)""".stripMargin
      if (r < BpeMergeRounds || withFinalSeg)
        sb ++= s""",
                  |seg$r AS (
                  |  SELECT s.word, s.freq,
                  |    list_reduce(string_split(s.seg, ' '),
                  |      (acc, x) -> CASE WHEN x = m.b AND (acc = m.a OR acc LIKE ('% ' || m.a))
                  |                  THEN acc || x ELSE acc || ' ' || x END) AS seg
                  |  FROM seg${r - 1} s CROSS JOIN m$r m)""".stripMargin
    }
    sb.toString
  }

  val d67Sql: String = {
    val union = (1 to BpeMergeRounds)
      .map(r => s"SELECT $r AS merge_round, a AS left_sym, b AS right_sym, " +
        s"a || b AS merged, cnt AS n_pairs FROM m$r")
      .mkString("\n  UNION ALL ")
    bpeCtesSql(withFinalSeg = false) +
      s"\nSELECT * FROM (\n  $union)\nORDER BY merge_round"
  }

  val d68Sql: String =
    bpeCtesSql(withFinalSeg = true) + s""",
      |enc AS (
      |  SELECT word, CAST(len(string_split(seg, ' ')) AS BIGINT) AS n_sym
      |  FROM seg$BpeMergeRounds),
      |sw AS (
      |  SELECT source, word, count(*) AS occ FROM (
      |    SELECT source, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
      |    FROM documents)
      |  GROUP BY 1, 2),
      |a AS (
      |  SELECT source,
      |    CAST(sum(occ) AS BIGINT) AS n_words,
      |    CAST(sum(occ * n_sym) AS BIGINT) AS n_bpe_tokens,
      |    CAST(count(*) AS BIGINT) AS n_word_types,
      |    CAST(sum(CASE WHEN n_sym = 1 THEN occ ELSE 0 END) AS BIGINT) AS n_whole_word
      |  FROM sw JOIN enc USING (word) GROUP BY source)
      |SELECT source, n_words, n_bpe_tokens, n_word_types,
      |  (n_bpe_tokens * 10000) // n_words AS fertility_bp,
      |  (n_whole_word * 10000) // n_words AS whole_word_bp
      |FROM a ORDER BY source""".stripMargin

  /** d74: filter-calibration matrix — do the CHEAP heuristic rules
    * (d3's quality flags) agree with the LM-based signal (d48's
    * familiarity)? Per (quality_flag, familiarity quartile): doc count
    * and within-flag share in exact bp. 'ok'-flagged docs piling into
    * the bottom familiarity quartile means the heuristics pass junk;
    * flagged docs in the top quartile mean the heuristics destroy good
    * text — the card every filtering pipeline reads before trusting a
    * cheap gate at 100 TB (where only the cheap gate can run on
    * everything).
    *
    * Shape: each input pipeline evaluates ONCE (the d65 discipline) —
    * flags ⨝ familiarity at doc grain reduces immediately to the
    * (flag, ppm) frame, which is VALUE-SPACE bounded (ppm ∈ [0, 10⁶],
    * so ≤ |flags|·10⁶ rows at ANY corpus size); exact discrete
    * quartile cuts come from q11-idiom unpartitioned windows over that
    * reduced frame (cum via RANGE so ties across flags aggregate
    * correctly), buckets assign row-locally, and the matrix is a tiny
    * final reduce. Docs with no bigram (single-token) have no d48 row
    * and are out of scope by construction. */
  def d74QualityCalibration(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val flags = d3QualityScore(spark, dir).select(col("doc_id"), col("quality_flag"))
    val fam = d48LmFamiliarity(spark, dir).select(col("doc_id"), col("familiarity_ppm"))
    val wAll = Window.partitionBy()
    val wCum = Window.orderBy(col("familiarity_ppm"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val graded = flags.join(fam, "doc_id")
      .groupBy(col("quality_flag"), col("familiarity_ppm"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("total", sum(col("cnt")).over(wAll))
      .withColumn("c1",
        min(when(col("cum") * 4 >= col("total"), col("familiarity_ppm"))).over(wAll))
      .withColumn("c2",
        min(when(col("cum") * 4 >= col("total") * 2, col("familiarity_ppm"))).over(wAll))
      .withColumn("c3",
        min(when(col("cum") * 4 >= col("total") * 3, col("familiarity_ppm"))).over(wAll))
      .withColumn("fam_quartile",
        lit(1) + (col("familiarity_ppm") > col("c1")).cast("int")
          + (col("familiarity_ppm") > col("c2")).cast("int")
          + (col("familiarity_ppm") > col("c3")).cast("int"))
    val wf = Window.partitionBy(col("quality_flag"))
    graded.groupBy(col("quality_flag"), col("fam_quartile"))
      .agg(sum(col("cnt")).as("n_docs"))
      .withColumn("flag_total", sum(col("n_docs")).over(wf))
      .select(col("quality_flag"), col("fam_quartile"), col("n_docs"),
        expr("(n_docs * 10000) div flag_total").as("share_bp"))
      .orderBy(col("quality_flag"), col("fam_quartile"))
  }

  /** DuckDB replay: d3's and d48's full SQL verbatim + the same
    * reduced-frame quartile windows (the d15 composition idiom). */
  val d74Sql: String =
    s"""WITH flags AS (SELECT doc_id, quality_flag FROM ($d3Sql)),
       |fam AS (SELECT doc_id, familiarity_ppm FROM ($d48Sql)),
       |red AS (
       |  SELECT quality_flag, familiarity_ppm, count(*) AS cnt
       |  FROM flags JOIN fam USING (doc_id) GROUP BY 1, 2),
       |g AS (
       |  SELECT *,
       |    CAST(sum(cnt) OVER (ORDER BY familiarity_ppm
       |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
       |    CAST(sum(cnt) OVER () AS BIGINT) AS total
       |  FROM red),
       |cuts AS (
       |  SELECT *,
       |    min(CASE WHEN cum * 4 >= total THEN familiarity_ppm END) OVER () AS c1,
       |    min(CASE WHEN cum * 4 >= total * 2 THEN familiarity_ppm END) OVER () AS c2,
       |    min(CASE WHEN cum * 4 >= total * 3 THEN familiarity_ppm END) OVER () AS c3
       |  FROM g),
       |b AS (
       |  SELECT quality_flag,
       |    1 + CAST(familiarity_ppm > c1 AS INT) + CAST(familiarity_ppm > c2 AS INT)
       |      + CAST(familiarity_ppm > c3 AS INT) AS fam_quartile,
       |    cnt
       |  FROM cuts),
       |m AS (
       |  SELECT quality_flag, fam_quartile, CAST(sum(cnt) AS BIGINT) AS n_docs
       |  FROM b GROUP BY 1, 2),
       |t AS (
       |  SELECT *, CAST(sum(n_docs) OVER (PARTITION BY quality_flag) AS BIGINT) AS flag_total
       |  FROM m)
       |SELECT quality_flag, fam_quartile, n_docs,
       |  (n_docs * 10000) // flag_total AS share_bp
       |FROM t ORDER BY quality_flag, fam_quartile""".stripMargin

  /** Affix width (tokens) and rarity cap for d71. The rarity gate is
    * the d60 adjudication: an affix shared by many docs is boilerplate
    * (d64's domain), not a cut point, and capping df at
    * [[StitchMaxDf]] bounds the join at df² pairs per key — the
    * template-affix quadratic never forms. */
  val StitchAffix = 3
  val StitchMaxDf = 5

  /** d71: shard-boundary stitch detection — docs that are two halves of
    * one original document (a crawler page split, a shard cut
    * mid-document): doc A's last [[StitchAffix]] tokens equal doc B's
    * first [[StitchAffix]] tokens. The dedup family can't see this
    * (halves share ~nothing), yet training on split docs teaches
    * truncated context. Emits candidate (doc_a, doc_b, bridge) stitch
    * pairs for a repair/concat pass.
    *
    * Shape: one row-local projection to (doc_id, prefix, suffix); affix
    * document frequencies come from affix-grain reduces JOINED BACK on
    * the key (the d57 reduce+join-back adjudication — never a window
    * over a corpus-sized raw-affix partition, never broadcast-assumed);
    * rare-gated sides meet in one bounded equi-join (≤ df² ≤ 25 rows
    * per key). Four references to the one-projection affix frame — each
    * is a pruned (doc_id, text) scan; at 100 TB materializing `aff`
    * (~2% of corpus bytes) turns them into one scan + reuse. */
  def d71BoundaryStitch(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    val aff = Tables.documents(spark, dir)
      .select(col("doc_id"), t.as("t"))
      .filter(size(col("t")) >= 2 * StitchAffix)
      .select(col("doc_id"),
        concat_ws(" ", (1 to StitchAffix).map(i => element_at(col("t"), i)): _*).as("pre"),
        concat_ws(" ", (StitchAffix - 1 to 0 by -1)
          .map(i => element_at(col("t"), size(col("t")) - i)): _*).as("suf"))
    val sufDf = aff.groupBy(col("suf").as("k")).agg(count(lit(1)).as("suf_df"))
      .filter(col("suf_df") <= StitchMaxDf)
    val preDf = aff.groupBy(col("pre").as("k")).agg(count(lit(1)).as("pre_df"))
      .filter(col("pre_df") <= StitchMaxDf)
    val enders = aff.select(col("doc_id").as("doc_a"), col("suf").as("k"))
      .join(sufDf, "k")
    val starters = aff.select(col("doc_id").as("doc_b"), col("pre").as("k"))
      .join(preDf, "k")
    enders.join(starters, "k")
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("k").as("bridge"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val d71Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
       |  FROM documents),
       |aff AS (
       |  SELECT doc_id,
       |    t[1] || ' ' || t[2] || ' ' || t[3] AS pre,
       |    t[len(t) - 2] || ' ' || t[len(t) - 1] || ' ' || t[len(t)] AS suf
       |  FROM toks WHERE len(t) >= ${2 * StitchAffix}),
       |sdf AS (SELECT suf AS k, count(*) AS suf_df FROM aff GROUP BY 1
       |        HAVING count(*) <= $StitchMaxDf),
       |pdf AS (SELECT pre AS k, count(*) AS pre_df FROM aff GROUP BY 1
       |        HAVING count(*) <= $StitchMaxDf)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.suf AS bridge
       |FROM aff a
       |JOIN sdf ON sdf.k = a.suf
       |JOIN aff b ON b.pre = a.suf AND b.doc_id <> a.doc_id
       |JOIN pdf ON pdf.k = b.pre
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Target bucket count for d72's growth curve: the bucket width is
    * data-derived as (max doc_id div 200) + 1, so the cumulative
    * windows always run over ≤ ~200 rows at ANY corpus size — the
    * curve's resolution is fixed, not its cost (the dupPlanesFor
    * auto-scaling idiom). */
  val VocabGrowthBuckets = 200

  /** d72: vocabulary-growth (Heaps-law) curve — the saturation card
    * read before sizing a tokenizer vocab or judging corpus breadth:
    * cumulative distinct token TYPES vs cumulative token occurrences,
    * sampled at doc-id bucket checkpoints. A flattening curve says new
    * data adds occurrences but no new vocabulary (near-dup or
    * template-heavy); a straight line says the corpus is still open.
    * d52 profiles the END-state frequency spectrum; this is the
    * trajectory.
    *
    * Shape: the (bucket, tok) reduce derives once per aggregate (two
    * exploded corpus scans, each map-side combined — the d44
    * adjudication: re-deriving a reduce beats collapsing the corpus
    * into a window), plus doc_id-only pruned scans for the bucket
    * width and doc counts. Cumulative sums are unpartitioned windows
    * over the ≤ ~200-row bucket frame (the q11 idiom). */
  def d72VocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val bw = Tables.documents(spark, dir)
      .agg(expr(s"(max(doc_id) div $VocabGrowthBuckets) + 1").as("bw"))
    val reduced = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .crossJoin(broadcast(bw))
      .select(expr("doc_id div bw").as("bucket"), col("tok"))
      .groupBy(col("bucket"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
    val perBucket = reduced.groupBy(col("bucket"))
      .agg(sum(col("cnt")).as("n_tok"))
    val newTypes = reduced.groupBy(col("tok"))
      .agg(min(col("bucket")).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("new_types"))
    val nDocs = Tables.documents(spark, dir)
      .crossJoin(broadcast(bw))
      .select(expr("doc_id div bw").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    nDocs
      .join(perBucket, Seq("bucket"), "left_outer")
      .join(newTypes, Seq("bucket"), "left_outer")
      .select(col("bucket"), col("n_docs"),
        coalesce(col("n_tok"), lit(0L)).as("n_tok"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .withColumn("cum_tokens", sum(col("n_tok")).over(w))
      .withColumn("cum_types", sum(col("new_types")).over(w))
      .orderBy(col("bucket"))
  }

  val d72Sql: String =
    s"""WITH bw AS (
       |  SELECT (max(doc_id) // $VocabGrowthBuckets) + 1 AS bw FROM documents),
       |ex AS (
       |  SELECT doc_id // (SELECT bw FROM bw) AS bucket,
       |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
       |  FROM documents),
       |red AS (SELECT bucket, tok, count(*) AS cnt FROM ex GROUP BY 1, 2),
       |pb AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS n_tok FROM red GROUP BY 1),
       |fs AS (SELECT tok, min(bucket) AS bucket FROM red GROUP BY 1),
       |nt AS (SELECT bucket, count(*) AS new_types FROM fs GROUP BY 1),
       |nd AS (
       |  SELECT doc_id // (SELECT bw FROM bw) AS bucket, count(*) AS n_docs
       |  FROM documents GROUP BY 1),
       |j AS (
       |  SELECT nd.bucket, nd.n_docs,
       |    COALESCE(pb.n_tok, 0) AS n_tok, COALESCE(nt.new_types, 0) AS new_types
       |  FROM nd
       |  LEFT JOIN pb ON pb.bucket = nd.bucket
       |  LEFT JOIN nt ON nt.bucket = nd.bucket)
       |SELECT bucket, n_docs, n_tok, new_types,
       |  CAST(sum(n_tok) OVER (ORDER BY bucket
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
       |  CAST(sum(new_types) OVER (ORDER BY bucket
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_types
       |FROM j ORDER BY bucket""".stripMargin

  /** d75: token-concentration card per source — exact Simpson
    * (Herfindahl) repeat probability plus the top-token share, the
    * DIVISION-FREE diversity complement to d62's TTR (TTR needs one
    * IEEE division and collapses toward 0 as N grows; Simpson's
    * λ = Σ nᵢ(nᵢ−1) / (N(N−1)) is scale-comparable across sources of
    * different sizes, and unlike Shannon entropy needs NO logarithm —
    * the reason it can be an exactly-oracled integer column at all).
    * High λ or a fat top-token share = template/boilerplate farm;
    * both feed d21's mixture reweighting alongside d62/d52.
    *
    * Shape: ONE corpus scan → (source, token) reduce (map-side
    * combine) → per-source reduce; Σnᵢ², Σnᵢ and max nᵢ all ride the
    * same aggregate. Products go through DECIMAL(38,0) ≡ HUGEINT —
    * nᵢ² overflows int64 once a token passes ~3·10⁹ occurrences,
    * which 100 TB of web text reaches. Single-token sources guard the
    * N·(N−1) denominator with NULL (CASE in both engines). */
  def d75TokenConcentration(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_types"),
        sum(col("n")).as("n_tokens"),
        sum(expr("cast(n as decimal(38,0)) * (n - 1)")).as("rep_mass"),
        max(col("n")).as("top_n"))
      .select(col("source"), col("n_types"), col("n_tokens"),
        expr("""case when n_tokens > 1
                then cast((rep_mass * 10000) div (cast(n_tokens as decimal(38,0)) * (n_tokens - 1)) as bigint)
                end""").as("simpson_bp"),
        expr("(top_n * 10000) div n_tokens").as("top_share_bp"))
      .orderBy(col("source"))

  val d75Sql: String =
    """WITH tf AS (
      |  SELECT source, tok, count(*) AS n FROM (
      |    SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      |    FROM documents)
      |  GROUP BY 1, 2),
      |s AS (
      |  SELECT source,
      |    CAST(count(*) AS BIGINT) AS n_types,
      |    CAST(sum(n) AS BIGINT) AS n_tokens,
      |    sum(CAST(n AS HUGEINT) * (n - 1)) AS rep_mass,
      |    CAST(max(n) AS BIGINT) AS top_n
      |  FROM tf GROUP BY source)
      |SELECT source, n_types, n_tokens,
      |  CASE WHEN n_tokens > 1
      |    THEN CAST((rep_mass * 10000) // (CAST(n_tokens AS HUGEINT) * (n_tokens - 1)) AS BIGINT)
      |  END AS simpson_bp,
      |  (top_n * 10000) // n_tokens AS top_share_bp
      |FROM s ORDER BY source""".stripMargin

  /** d76: sentence-segmentation profile per source — the SENTENCE-grain
    * length card beside d37's doc-grain one (sentence statistics are
    * what sentence-level dedup, splitting-aware packing and readability
    * scoring consume; a source whose "sentences" run hundreds of words
    * is markup/code shipped as prose, one whose sentences are 2–3 words
    * is menus/tag soup). Sentences are split on [.!?] — a deliberately
    * SQL-portable rule (both engines regex-split identically; a real
    * segmenter slots into the same shape). The test corpus ships
    * punctuation-free, so terminators are INJECTED deterministically
    * first (the d18/d40 injection idiom): a '.' lands after every token
    * whose md5 opens below '3' (≈ 3/16 of tokens, content-driven — so
    * sources with different vocab mixes profile differently and the
    * split path is exercised for real, not on a 1-sentence-per-doc
    * degenerate input). Per source: sentence count, words/sentence mean
    * (ONE IEEE quotient of exact integers), exact discrete median via
    * rank selection, max.
    *
    * Shape: injection + split + explode are row-local (no shuffle),
    * empty/whitespace fragments dropped, then ONE (source)-keyed
    * exchange shared by the rank window and the final aggregate (the
    * d37 discipline). The median value at rank ⌈n/2⌉ is invariant
    * under tie order, so the (n_words, doc_id) ordering is fully
    * deterministic cross-engine. */
  def d76SentenceProfile(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wS = Window.partitionBy(col("source"))
    val punct = concat_ws(" ", transform(tokens(col("text")),
      x => when(substring(md5(x), 1, 1) < "3", concat(x, lit("."))).otherwise(x)))
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        explode(split(punct, "[.!?]")).as("sent"))
      .select(col("source"), col("doc_id"),
        size(tokens(col("sent"))).cast("long").as("n_words"))
      .filter(col("n_words") > 0)
      .withColumn("rn", row_number().over(wS.orderBy(col("n_words"), col("doc_id"))))
      .withColumn("cnt", count(lit(1)).over(wS))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_sentences"),
        sum(col("n_words")).as("n_words_total"),
        max(col("n_words")).as("max_words"),
        max(when(col("rn") === ceil(col("cnt") / 2.0), col("n_words"))).as("p50_words"))
      .select(col("source"), col("n_sentences"), col("n_words_total"),
        (col("n_words_total").cast("double") / col("n_sentences")).as("mean_words"),
        col("p50_words"), col("max_words"))
      .orderBy(col("source"))
  }

  val d76Sql: String =
    """WITH p AS (
      |  SELECT source, doc_id,
      |    array_to_string(list_transform(
      |      list_filter(string_split(text, ' '), x -> x <> ''),
      |      x -> CASE WHEN substr(md5(x), 1, 1) < '3' THEN x || '.' ELSE x END), ' ') AS text
      |  FROM documents),
      |s AS (
      |  SELECT source, doc_id,
      |    CAST(len(list_filter(string_split(sent, ' '), x -> x <> '')) AS BIGINT) AS n_words
      |  FROM (
      |    SELECT source, doc_id, unnest(string_split_regex(text, '[.!?]')) AS sent
      |    FROM p)
      |  WHERE len(list_filter(string_split(sent, ' '), x -> x <> '')) > 0),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY source ORDER BY n_words, doc_id) AS rn,
      |    count(*) OVER (PARTITION BY source) AS cnt
      |  FROM s)
      |SELECT source,
      |  CAST(count(*) AS BIGINT) AS n_sentences,
      |  CAST(sum(n_words) AS BIGINT) AS n_words_total,
      |  CAST(CAST(sum(n_words) AS DOUBLE) / count(*) AS DOUBLE) AS mean_words,
      |  CAST(max(CASE WHEN rn = ceil(cnt / 2.0) THEN n_words END) AS BIGINT) AS p50_words,
      |  CAST(max(n_words) AS BIGINT) AS max_words
      |FROM r GROUP BY source ORDER BY source""".stripMargin

  /** Misra–Gries capacity for d78 (undercount ≤ N/(cap+1) = N/4096)
    * and the reporting threshold divisor (report share ≥ 1/1000). The
    * guarantee chain that makes the output exact: every token with
    * cnt ≥ N/1000 > N/4096 is GUARANTEED in the sketch's candidate
    * set, so the exact join-back verification loses nothing. */
  val HeavyCap = 4095
  val HeavyShareDiv = 1000L

  /** d78: corpus heavy hitters via sketch-then-verify — the
    * bounded-memory frequent-items pattern (Misra–Gries; the d11 vocab
    * top-k answers "which tokens", this answers "which tokens exceed a
    * SHARE floor" without shuffling the vocabulary). The exact form
    * (`groupBy(token) HAVING share ≥ 1/1000`) shuffles every distinct
    * type — 10⁸–10⁹ keys on web-scale text — to keep at most 1000
    * rows (pigeonhole). Here pass 1 reduces each partition to ≤
    * [[HeavyCap]] counters inside the custom `freq_sketch` aggregate
    * (map-side ObjectHashAggregate partials; merge-order-dependent
    * counts, superset-guaranteed membership), and pass 2 verifies the
    * ≤ HeavyCap candidates with EXACT counts — the candidate
    * broadcast is bounded by the literal capacity, never by the data
    * (the LSH-plane discipline), and the verify exchange carries only
    * candidate tokens. Output = exactly the tokens with
    * cnt·1000 ≥ N, deterministic although the sketch isn't — the MG
    * bound proves no true heavy hitter can be absent, and the exact
    * filter kills sketch noise; the DuckDB oracle is the plain exact
    * HAVING query. Two corpus scans BY DESIGN (sketch + verify — the
    * d44 two-scan adjudication; one exact scan would be the shuffle
    * this operator exists to avoid). */
  def d78HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("tok"))
    val cands = toks
      .agg(call_function("freq_sketch", col("tok"), lit(HeavyCap)).as("cand"),
        count(lit(1)).as("n_total"))
      .select(explode(col("cand")).as("c"), col("n_total"))
      .select(col("c.item").as("tok"), col("n_total"))
    toks.join(broadcast(cands), "tok")
      .groupBy(col("tok"), col("n_total"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * HeavyShareDiv >= col("n_total"))
      .select(col("tok"), col("cnt"), expr("(cnt * 10000) div n_total").as("share_bp"))
      .orderBy(col("cnt").desc, col("tok"))
  }

  val d78Sql: String =
    s"""WITH t AS (
       |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
       |  FROM documents),
       |n AS (SELECT count(*) AS n_total FROM t),
       |c AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY tok)
       |SELECT tok, cnt, (cnt * 10000) // n_total AS share_bp
       |FROM c CROSS JOIN n
       |WHERE cnt * $HeavyShareDiv >= n_total
       |ORDER BY cnt DESC, tok""".stripMargin

  /** Steps in d79's loader schedule — the planning horizon, a literal
    * (manifest grain: the schedule is ~steps·|sources| rows at any
    * corpus size). */
  val MixtureSteps = 1000L

  /** d79: deterministic mixture interleaving schedule — the BATCH-grain
    * execution of d21's mixture weights (d49 budgets tokens, d22
    * shuffles order; this answers the data loader's actual question:
    * "at step t, which source do I draw?"). Bresenham/largest-remainder
    * pacing in exact integers: source s emits at step t iff
    * ⌊(t+1)·w_s⌋ > ⌊t·w_s⌋ with w_s = src_chars/total_chars as an
    * integer RATIO (never a float weight — floats drift off by a batch
    * at long horizons and aren't engine-portable). Properties (spec-
    * proven): after any prefix of t steps each source has emitted
    * exactly ⌊t·w_s⌋ batches — pacing error < 1 batch always — and the
    * full horizon emits ⌊S·w_s⌋ per source.
    *
    * Shape: one corpus reduce to per-source char totals (+ q11 window
    * for the denominator), then a LITERAL step spine explodes per
    * source — ≤ S·|sources| rows at any corpus size; emit test and
    * seq are row-local integer arithmetic. */
  def d79MixtureSchedule(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy()
    Tables.documents(spark, dir)
      .groupBy(col("source")).agg(sum(col("n_chars")).as("src_chars"))
      .withColumn("total_chars", sum(col("src_chars")).over(wAll))
      .select(col("source"), col("src_chars"), col("total_chars"),
        explode(sequence(lit(0L), lit(MixtureSteps - 1L))).as("step"))
      .filter(expr("((step + 1) * src_chars) div total_chars > (step * src_chars) div total_chars"))
      .select(col("step"), col("source"),
        expr("((step + 1) * src_chars) div total_chars").as("emit_seq"))
      .orderBy(col("step"), col("source"))
  }

  val d79Sql: String =
    s"""WITH per AS (
       |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS src_chars FROM documents GROUP BY source),
       |t AS (SELECT *, CAST(sum(src_chars) OVER () AS BIGINT) AS total_chars FROM per),
       |g AS (
       |  SELECT source, src_chars, total_chars, CAST(step AS BIGINT) AS step
       |  FROM t CROSS JOIN (SELECT unnest(range(0, $MixtureSteps)) AS step))
       |SELECT step, source,
       |  ((step + 1) * src_chars) // total_chars AS emit_seq
       |FROM g
       |WHERE ((step + 1) * src_chars) // total_chars > (step * src_chars) // total_chars
       |ORDER BY step, source""".stripMargin

  /** d80: crawl-churn audit — token-grain revision delta between two
    * loads of the same corpus (a21 diffs KEYS; a recrawl pipeline needs
    * how much CONTENT moved: boilerplate rotation, template swaps,
    * genuine edits — the signal behind re-fetch scheduling and
    * incremental re-training). Load B derives deterministically from
    * load A (the a7/a21 snapshot idiom; docs with doc_id ≡ 0 mod 7
    * lose their first token and gain a revision marker — 7 is COPRIME
    * to the per-source doc-id stride, so every source carries changed
    * docs (the e9 modulus lesson: a divisor of the stride degenerates
    * to all-or-none per source)), and the delta
    * is the exact token MULTISET diff: added = Σ max(0, cntB − cntA),
    * removed = Σ max(0, cntA − cntB) per (doc, token), rolled to per
    * source with churn in bp of the load-A token mass.
    *
    * Shape: both loads reduce to (doc, token, cnt) and meet in ONE
    * full-outer equi-join on the (doc, token) key — multiset diff as a
    * join, never array diffing on fat columns (the d8 relational
    * adjudication); per-source rollup rides the join output. Two
    * corpus scans (one per load — inherent: real loads are two
    * different files). */
  def d80CrawlChurn(spark: SparkSession, dir: String): DataFrame = {
    def counts(df: DataFrame) = df
      .select(col("doc_id"), col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("source"), col("tok")).agg(count(lit(1)).as("cnt"))
    val a = counts(Tables.documents(spark, dir))
    val b = counts(Tables.documents(spark, dir)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(regexp_replace(col("text"), "^\\S+\\s*", ""),
            lit(" rev"), col("doc_id").cast("string")))
          .otherwise(col("text"))))
    a.select(col("doc_id"), col("source"), col("tok"), col("cnt").as("cnt_a"))
      .join(b.select(col("doc_id"), col("source"), col("tok"), col("cnt").as("cnt_b")),
        Seq("doc_id", "source", "tok"), "full_outer")
      .select(col("doc_id"), col("source"),
        greatest(coalesce(col("cnt_b"), lit(0L)) - coalesce(col("cnt_a"), lit(0L)), lit(0L)).as("added"),
        greatest(coalesce(col("cnt_a"), lit(0L)) - coalesce(col("cnt_b"), lit(0L)), lit(0L)).as("removed"),
        coalesce(col("cnt_a"), lit(0L)).as("mass_a"))
      // doc-grain reduce first (rides the join's (doc, source) partitioning),
      // so "changed docs" is a cheap conditional count — never a corpus-wide
      // DISTINCT rewrite at source grain
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("added")).as("added"), sum(col("removed")).as("removed"),
        sum(col("mass_a")).as("mass_a"))
      .groupBy(col("source"))
      .agg(
        sum(when(col("added") + col("removed") > 0, 1L).otherwise(0L)).as("n_docs_changed"),
        sum(col("added")).as("tokens_added"),
        sum(col("removed")).as("tokens_removed"),
        sum(col("mass_a")).as("tokens_a"))
      .select(col("source"), col("n_docs_changed"), col("tokens_added"), col("tokens_removed"),
        col("tokens_a"),
        expr("((tokens_added + tokens_removed) * 10000) div tokens_a").as("churn_bp"))
      .orderBy(col("source"))
  }

  val d80Sql: String =
    """WITH a AS (
      |  SELECT doc_id, source, tok, count(*) AS cnt FROM (
      |    SELECT doc_id, source,
      |      unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      |    FROM documents)
      |  GROUP BY 1, 2, 3),
      |rev AS (
      |  SELECT doc_id, source,
      |    CASE WHEN doc_id % 7 = 0
      |      THEN regexp_replace(text, '^\S+\s*', '') || ' rev' || CAST(doc_id AS VARCHAR)
      |      ELSE text END AS text
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, source, tok, count(*) AS cnt FROM (
      |    SELECT doc_id, source,
      |      unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      |    FROM rev)
      |  GROUP BY 1, 2, 3),
      |d AS (
      |  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
      |    COALESCE(a.source, b.source) AS source,
      |    greatest(COALESCE(b.cnt, 0) - COALESCE(a.cnt, 0), 0) AS added,
      |    greatest(COALESCE(a.cnt, 0) - COALESCE(b.cnt, 0), 0) AS removed,
      |    COALESCE(a.cnt, 0) AS mass_a
      |  FROM a FULL OUTER JOIN b
      |    ON a.doc_id = b.doc_id AND a.source = b.source AND a.tok = b.tok),
      |dd AS (
      |  SELECT doc_id, source, sum(added) AS added, sum(removed) AS removed,
      |    sum(mass_a) AS mass_a
      |  FROM d GROUP BY 1, 2),
      |s AS (
      |  SELECT source,
      |    CAST(sum(CASE WHEN added + removed > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_changed,
      |    CAST(sum(added) AS BIGINT) AS tokens_added,
      |    CAST(sum(removed) AS BIGINT) AS tokens_removed,
      |    CAST(sum(mass_a) AS BIGINT) AS tokens_a
      |  FROM dd GROUP BY source)
      |SELECT source, n_docs_changed, tokens_added, tokens_removed, tokens_a,
      |  ((tokens_added + tokens_removed) * 10000) // tokens_a AS churn_bp
      |FROM s ORDER BY source""".stripMargin

  /** d83 policy lexicon — stands in for any term blocklist (C4's
    * badwords list, a compliance lexicon, a spam vocabulary). Two
    * tiers, the standard gate: any hard term drops the doc; soft terms
    * drop only at [[SoftHitCap]]+ occurrences. */
  val HardTerms = Seq("dup", "crash", "panic")
  val SoftTerms = Seq("slow", "error", "leak")
  val SoftHitCap = 3

  /** d83: blocklist/lexicon gate — the C4-style badword filter every
    * web-scale curation pipeline runs (the one d-family gate still
    * missing: d3 scores shape, d18 redacts spans; this DROPS on policy
    * vocabulary). Per source: volume, hard/soft drop counts, survival
    * rate in exact bp, and total hit mass per tier.
    *
    * Shape — the 100 TB lexicon join: tokens explode (the d11 stream)
    * and LEFT-join the literal lexicon dim — a genuinely-fixed
    * ≤dozens-row broadcast (the d78 literal-set discipline; never a
    * regex alternation over megabyte rows, and never a corpus-keyed
    * dictionary join — the lexicon is data-independent, which is what
    * licenses the broadcast d26/d63 forbid for corpus vocabularies).
    * Every doc keeps ≥1 token row — GUARANTEED by the sentinel pad
    * below, not assumed of the corpus: a doc whose text tokenizes to
    * zero tokens (empty/whitespace-only) explodes one "" row, which
    * matches no lexicon term, so it lands in n_docs and kept_bp as the
    * zero-hit keep it is instead of silently vanishing (plain explode
    * drops empty arrays in both engines — the oracle could never catch
    * the loss). The per-doc reduce then sees zero-hit docs without a
    * second scan; per-source report is a second reduce of the |docs|
    * frame. */
  def d83BlocklistGate(spark: SparkSession, dir: String): DataFrame = {
    val lex = HardTerms.map((_, "hard")) ++ SoftTerms.map((_, "soft"))
    val lexDf = spark.createDataFrame(lex).toDF("tok", "tier")
    val toks = tokens(col("text"))
    val perDoc = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        explode(when(size(toks) === 0, array(lit(""))).otherwise(toks)).as("tok"))
      .join(broadcast(lexDf), Seq("tok"), "left")
      .groupBy(col("doc_id"), col("source"))
      .agg(countIf(col("tier") === "hard").as("hard_hits"),
        countIf(col("tier") === "soft").as("soft_hits"))
    perDoc
      .withColumn("verdict",
        when(col("hard_hits") >= 1, lit("drop_hard"))
          .when(col("soft_hits") >= SoftHitCap, lit("drop_soft"))
          .otherwise(lit("keep")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countIf(col("verdict") === "drop_hard").as("n_drop_hard"),
        countIf(col("verdict") === "drop_soft").as("n_drop_soft"),
        countIf(col("verdict") === "keep").as("n_kept"),
        sum(col("hard_hits")).as("hard_hits_total"),
        sum(col("soft_hits")).as("soft_hits_total"))
      .select(col("source"), col("n_docs"), col("n_drop_hard"), col("n_drop_soft"),
        col("n_kept"), expr("(n_kept * 10000) div n_docs").as("kept_bp"),
        col("hard_hits_total"), col("soft_hits_total"))
      .orderBy(col("source"))
  }

  val d83Sql: String = {
    val vals = (HardTerms.map(t => s"('$t','hard')") ++
      SoftTerms.map(t => s"('$t','soft')")).mkString(", ")
    s"""WITH lex(tok, tier) AS (VALUES $vals),
       |t AS (
       |  SELECT doc_id, source,
       |    unnest(CASE WHEN len(list_filter(string_split(text, ' '), x -> x <> '')) = 0
       |           THEN ['']
       |           ELSE list_filter(string_split(text, ' '), x -> x <> '') END) AS tok
       |  FROM documents),
       |pd AS (
       |  SELECT doc_id, source,
       |    count(CASE WHEN tier = 'hard' THEN 1 END) AS hard_hits,
       |    count(CASE WHEN tier = 'soft' THEN 1 END) AS soft_hits
       |  FROM t LEFT JOIN lex USING (tok) GROUP BY 1, 2),
       |v AS (
       |  SELECT *, CASE WHEN hard_hits >= 1 THEN 'drop_hard'
       |                 WHEN soft_hits >= $SoftHitCap THEN 'drop_soft'
       |                 ELSE 'keep' END AS verdict
       |  FROM pd),
       |s AS (
       |  SELECT source, count(*) AS n_docs,
       |    count(CASE WHEN verdict = 'drop_hard' THEN 1 END) AS n_drop_hard,
       |    count(CASE WHEN verdict = 'drop_soft' THEN 1 END) AS n_drop_soft,
       |    count(CASE WHEN verdict = 'keep' THEN 1 END) AS n_kept,
       |    CAST(sum(hard_hits) AS BIGINT) AS hard_hits_total,
       |    CAST(sum(soft_hits) AS BIGINT) AS soft_hits_total
       |  FROM v GROUP BY 1)
       |SELECT source, n_docs, n_drop_hard, n_drop_soft, n_kept,
       |  (n_kept * 10000) // n_docs AS kept_bp,
       |  hard_hits_total, soft_hits_total
       |FROM s ORDER BY source""".stripMargin
  }

  /** d84 dictionary capacity: 1-byte codes → 256 entries. A LITERAL
    * capacity (the d78 discipline): whatever the corpus, the dictionary
    * side of the join is ≤ 256 rows by construction. */
  val DictSize = 256

  /** d84: dictionary-coding storage estimate — the planning number
    * behind token-level dictionary compression (shard size forecasts,
    * loader bandwidth budgets; e2/e12 consume exactly this kind of
    * estimate): give the [[DictSize]] globally most frequent tokens
    * 1-unit codes, price every other token occurrence at its length + 1
    * (the uncoded-marker cost), and report per source: token volume,
    * raw vs coded cost, and exact savings in bp. Character-unit costs
    * in BOTH engines (length(), not octet_length — the estimate is
    * encoding-independent).
    *
    * Shape: the frequency pass reduces map-side to the vocab frame and
    * takes its top-256 via TakeOrderedAndProject (never a global vocab
    * sort — the d63 lesson); the costing pass LEFT-joins the 256-row
    * dictionary (broadcast licensed by the literal capacity, NOT by a
    * corpus-vocab assumption) and reduces to |sources| rows. Two corpus
    * passes total — the irreducible dictionary-build shape (the
    * dictionary needs global counts before any row can be priced). */
  def d84DictCode(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
    val top = toks.groupBy(col("tok")).agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("tok")).limit(DictSize)
      .select(col("tok"), lit(1).as("coded"))
    toks.join(broadcast(top), Seq("tok"), "left")
      .select(col("source"), (length(col("tok")) + 1).as("raw"),
        when(col("coded").isNotNull, lit(1))
          .otherwise(length(col("tok")) + 1).as("cost"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("raw")).as("raw_cost"), sum(col("cost")).as("coded_cost"))
      .select(col("source"), col("n_tokens"), col("raw_cost"), col("coded_cost"),
        expr("((raw_cost - coded_cost) * 10000) div raw_cost").as("savings_bp"))
      .orderBy(col("source"))
  }

  val d84Sql: String =
    s"""WITH toks AS (
       |  SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
       |  FROM documents),
       |freq AS (SELECT tok, count(*) AS f FROM toks GROUP BY 1),
       |top AS (SELECT tok FROM freq ORDER BY f DESC, tok LIMIT $DictSize),
       |c AS (
       |  SELECT source, length(t.tok) + 1 AS raw,
       |    CASE WHEN top.tok IS NOT NULL THEN 1 ELSE length(t.tok) + 1 END AS cost
       |  FROM toks t LEFT JOIN top ON t.tok = top.tok)
       |SELECT source, count(*) AS n_tokens,
       |  CAST(sum(raw) AS BIGINT) AS raw_cost,
       |  CAST(sum(cost) AS BIGINT) AS coded_cost,
       |  CAST(((sum(raw) - sum(cost)) * 10000) // sum(raw) AS BIGINT) AS savings_bp
       |FROM c GROUP BY source ORDER BY source""".stripMargin

  /** d85 query — a LITERAL term set (the operator's config, like d83's
    * lexicon): BM25 data selection runs a fixed query battery against
    * the corpus (retrieve-for-pretraining / domain-targeting). */
  val Bm25Query = Seq("spark", "join", "merge", "window")
  val Bm25TopK = 20

  /** d85: BM25 top-k retrieval scoring — the IR scorer behind
    * retrieval-based data selection ("find the corpus docs most
    * relevant to this domain battery"; d34's TF-IDF ranks terms within
    * sources, this ranks DOCS against a query). Okapi BM25 with
    * k1=1.2, b=0.75, made exact-integer by multiplying the per-term
    * fraction through by 10·T (T = corpus tokens, D = docs, dl = doc
    * length): score_term = (idf·tf·22·T) div (10·T·tf + 3·T + 9·dl·D),
    * idf at the d34 (D·10⁴ div df) scale, numerator assembled BEFORE
    * the single integral division (dividing first would truncate the
    * ~2.2-range fraction to garbage) in DECIMAL(38,0) (idf·tf·22·T
    * reaches 10²⁴ at 100 TB).
    *
    * Shape: ONE corpus scan → per-doc conditional aggregate (dl +
    * one tf column per LITERAL query term — never a corpus-vocab
    * join), a23-style stacking to (doc, term, tf) rows, df via a
    * window over the stacked reduced frame, corpus scalars as a 1-row
    * broadcast, top-k via TakeOrderedAndProject. */
  def d85Bm25Topk(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val aggs = count(lit(1)).as("dl") +: Bm25Query.zipWithIndex.map { case (t, i) =>
      countIf(col("tok") === t).as(s"tf_$i") }
    val perDoc = toks.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    // corpus scalars from a SLIM second scan (row-local size, no explode,
    // no shuffle) — re-deriving them from perDoc would duplicate the
    // whole tokenize+aggregate subtree (the static planner doesn't dedupe
    // branches); D deliberately counts ALL docs, the IR convention
    val scalars = Tables.documents(spark, dir)
      .agg(sum(size(tokens(col("text")))).as("t_total"), count(lit(1)).as("d_total"))
    val stacked = perDoc
      .select(col("doc_id"), col("dl"), explode(array(Bm25Query.zipWithIndex.map {
        case (t, i) => struct(lit(t).as("term"), col(s"tf_$i").as("tf")) }: _*)).as("s"))
      .select(col("doc_id"), col("dl"), col("s.term").as("term"), col("s.tf").as("tf"))
      .filter(col("tf") > 0)
    stacked
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("term"))))
      .crossJoin(broadcast(scalars))
      .select(col("doc_id"),
        expr("""(((d_total * 10000) div df) * CAST(tf AS DECIMAL(38,0)) * 22 * t_total)
                div (10 * CAST(t_total AS DECIMAL(38,0)) * tf + 3 * t_total + 9 * dl * d_total)""")
          .as("sc"))
      .groupBy(col("doc_id"))
      .agg(sum(col("sc")).as("score_ppm"), count(lit(1)).as("n_terms_hit"))
      .select(col("doc_id"), col("score_ppm").cast("long").as("score_ppm"), col("n_terms_hit"))
      .orderBy(col("score_ppm").desc, col("doc_id"))
      .limit(Bm25TopK)
  }

  val d85Sql: String = {
    val inList = Bm25Query.map(t => s"'$t'").mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
       |  FROM documents),
       |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
       |sc AS (
       |  SELECT sum(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS t_total,
       |    count(*) AS d_total
       |  FROM documents),
       |tf AS (
       |  SELECT doc_id, tok AS term, count(*) AS tf FROM toks
       |  WHERE tok IN ($inList) GROUP BY 1, 2),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |s AS (
       |  SELECT tf.doc_id,
       |    (((sc.d_total * 10000) // df.df) * CAST(tf.tf AS HUGEINT) * 22 * sc.t_total)
       |      // (10 * CAST(sc.t_total AS HUGEINT) * tf.tf + 3 * sc.t_total + 9 * dl.dl * sc.d_total)
       |      AS sc_term
       |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id), sc)
       |SELECT doc_id, CAST(sum(sc_term) AS BIGINT) AS score_ppm, count(*) AS n_terms_hit
       |FROM s GROUP BY 1
       |ORDER BY score_ppm DESC, doc_id LIMIT $Bm25TopK""".stripMargin
  }

  /** d86 probe phrases — literal MULTI-TOKEN substrings (the level d83's
    * token gate can't see: a phrase is invisible to per-token joins). */
  val ScanPhrases = Seq("merge sort", "hash join", "table scan")

  /** d86: multi-pattern substring scan — contamination/quote probing at
    * the SUBSTRING level (d20/d47 probe shingle hashes, d83 single
    * tokens; canary strings, licensed phrases, and eval-set quotes are
    * PHRASES): for each literal probe phrase, per source: docs
    * containing it and total occurrence count. Occurrences via the
    * replace-length identity ((len(text) − len(replace(text, p, '')))
    * div len(p)) — exact, non-overlapping-left-to-right in BOTH engines,
    * no regex engine in the hot path at all; one row-local projection
    * per phrase (the phrase list is literal config, like d83's
    * lexicon), a23-style stacking, one |sources|×|phrases| reduce.
    * ONE corpus scan, zero joins. */
  def d86SubstringScan(spark: SparkSession, dir: String): DataFrame = {
    val occs = ScanPhrases.map { p =>
      struct(lit(p).as("phrase"),
        expr(s"(length(text) - length(replace(text, '$p', ''))) div ${p.length}")
          .as("n_occ"))
    }
    Tables.documents(spark, dir)
      .select(col("source"), explode(array(occs: _*)).as("s"))
      .groupBy(col("source"), col("s.phrase").as("phrase"))
      .agg(countIf(col("s.n_occ") > 0).as("n_docs"),
        sum(col("s.n_occ")).as("n_occurrences"))
      .orderBy(col("source"), col("phrase"))
  }

  val d86Sql: String = {
    val arms = ScanPhrases.map(p =>
      s"SELECT source, '$p' AS phrase, " +
        s"(length(text) - length(replace(text, '$p', ''))) // ${p.length} AS n_occ FROM documents")
      .mkString(" UNION ALL ")
    s"""WITH o AS ($arms)
       |SELECT source, phrase,
       |  count(CASE WHEN n_occ > 0 THEN 1 END) AS n_docs,
       |  CAST(sum(n_occ) AS BIGINT) AS n_occurrences
       |FROM o GROUP BY 1, 2 ORDER BY source, phrase""".stripMargin
  }

  /** d87: per-source quality-quantile cutoffs — the "keep the top 70%
    * of each source" curation gate (thresholding per SOURCE, not
    * globally, is what stops one clean source's scores from drowning a
    * noisy one — the d30/d21 fairness discipline applied to quality):
    * signal = stopword density in exact bp (the C4/Gopher fluency
    * proxy d3 profiles), cutoff = the exact discrete p30 per source
    * via the q46/q50 crossing pattern over the VALUE-GROUPED density
    * frame, keep = density ≥ cutoff (ties keep — deterministic). Per
    * source: cutoff, volumes, exact kept share in bp (> 7000 only
    * through ties at the cutoff).
    *
    * Shape: ONE corpus scan → row-local density → (source, density)
    * value-grouped reduce; windows and the min(struct) crossing pick
    * run on the reduced frame; every per-source output value (total,
    * kept) rides the crossing row, so there is no second aggregate
    * branch (and no second scan). */
  def d87QualityCutoffs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = tokens(col("text"))
    val stops = Seq("the", "a", "of", "and", "to", "in").map(lit(_))
    val stopCnt = size(filter(toks, x => array_contains(array(stops: _*), x)))
    val byVal = Tables.documents(spark, dir)
      .select(col("source"), stopCnt.as("stop_cnt"), size(toks).as("n_tokens"))
      .select(col("source"),
        expr("(stop_cnt * 10000) div greatest(1, n_tokens)").as("stop_bp"))
    val wCum = Window.partitionBy(col("source")).orderBy(col("stop_bp"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("source"))
    byVal
      .groupBy(col("source"), col("stop_bp"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("total", sum(col("cnt")).over(wAll))
      .filter(col("cum") * 10 >= col("total") * 3)
      .groupBy(col("source"))
      .agg(min(struct(col("stop_bp"), col("cum"), col("cnt"), col("total"))).as("x"))
      .select(col("source"), col("x.stop_bp").as("cutoff_bp"),
        col("x.total").as("n_docs"),
        (col("x.total") - col("x.cum") + col("x.cnt")).as("n_kept"),
        expr("((x.total - x.cum + x.cnt) * 10000) div x.total").as("kept_bp"))
      .orderBy(col("source"))
  }

  val d87Sql: String =
    """WITH t AS (
      |  SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      |  FROM documents),
      |d AS (
      |  SELECT source,
      |    (len(list_filter(toks, x -> x IN ('the','a','of','and','to','in'))) * 10000)
      |      // greatest(1, len(toks)) AS stop_bp
      |  FROM t),
      |v AS (SELECT source, stop_bp, count(*) AS cnt FROM d GROUP BY 1, 2),
      |c AS (
      |  SELECT source, stop_bp, cnt,
      |    sum(cnt) OVER (PARTITION BY source ORDER BY stop_bp
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(cnt) OVER (PARTITION BY source) AS total
      |  FROM v),
      |x AS (
      |  SELECT source, stop_bp, cum, cnt, total,
      |    row_number() OVER (PARTITION BY source ORDER BY stop_bp) AS pick
      |  FROM c WHERE cum * 10 >= total * 3)
      |SELECT source, CAST(stop_bp AS BIGINT) AS cutoff_bp,
      |  CAST(total AS BIGINT) AS n_docs,
      |  CAST(total - cum + cnt AS BIGINT) AS n_kept,
      |  CAST(((total - cum + cnt) * 10000) // total AS BIGINT) AS kept_bp
      |FROM x WHERE pick = 1 ORDER BY source""".stripMargin

  /** d88: temperature-scaled mixture weights — the α-sampling knob
    * every multi-source/multilingual LM mixture uses (p_s ∝ n_s^α;
    * α=1 is proportional, α→0 uniform — the exponentiated-share
    * scheme of multilingual BERT / XLM-R / mT5 data sampling): per
    * source, exact token mass, exact proportional share in bp, and
    * the relative sampling weight vs the LARGEST source at α ∈
    * {0.25, 0.5, 0.75}.
    *
    * Determinism discipline: weights are reported RELATIVE TO THE MAX
    * source, not normalized — normalizing needs Σ n_s^α, a sum of
    * irrational doubles whose value depends on fold order (the no-
    * ln/pow rule's summation sibling); n_s/n_max is one exact-rounded
    * IEEE division and α powers compose from sqrt (α=.5 → sqrt, .25 →
    * sqrt∘sqrt, .75 → their product) — every step correctly rounded
    * in both engines, so the hash match is exact. The consumer
    * normalizes driver-side over its ≤|sources| rows.
    *
    * Shape: ONE corpus scan reduced map-side to |sources| rows; the
    * total/max are unpartitioned windows over that reduced frame (the
    * q11 idiom — integer-exact sums). */
  def d88TemperatureMix(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = Window.partitionBy()
    val per = Tables.documents(spark, dir)
      .select(col("source"), size(tokens(col("text"))).cast("long").as("n"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_tokens"))
    val r = col("n_tokens").cast("double") / col("n_max").cast("double")
    per
      .withColumn("total", sum(col("n_tokens")).over(all))
      .withColumn("n_max", max(col("n_tokens")).over(all))
      .select(col("source"), col("n_tokens"),
        expr("(n_tokens * 10000) div total").as("share_bp"),
        sqrt(sqrt(r)).as("rel_w25"),
        sqrt(r).as("rel_w50"),
        (sqrt(r) * sqrt(sqrt(r))).as("rel_w75"))
      .orderBy(col("source"))
  }

  val d88Sql: String =
    """WITH per AS (
      |  SELECT source,
      |    CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1),
      |w AS (
      |  SELECT *, sum(n_tokens) OVER () AS total, max(n_tokens) OVER () AS n_max
      |  FROM per)
      |SELECT source, n_tokens,
      |  CAST((n_tokens * 10000) // total AS BIGINT) AS share_bp,
      |  sqrt(sqrt(CAST(n_tokens AS DOUBLE) / n_max)) AS rel_w25,
      |  sqrt(CAST(n_tokens AS DOUBLE) / n_max) AS rel_w50,
      |  sqrt(CAST(n_tokens AS DOUBLE) / n_max)
      |    * sqrt(sqrt(CAST(n_tokens AS DOUBLE) / n_max)) AS rel_w75
      |FROM w ORDER BY source""".stripMargin

  /** d97 noise density: share of tokens masked, in percent (T5's 15). */
  val CorruptNoisePct = 15L
  /** d97 mean corrupted-span length in tokens (T5's 3). */
  val CorruptMeanSpan = 3L

  /** d97: span-corruption length plan (T5 denoising; Raffel et al.
    * JMLR 2020 §3.1.4) — the sizing pass a seq2seq pretraining
    * pipeline runs BEFORE building batches: masking
    * [[CorruptNoisePct]]% of each document's tokens in mean-
    * [[CorruptMeanSpan]] spans replaces each span with one sentinel,
    * so encoder input shrinks to n − n_corrupt + n_spans and decoder
    * target is n_corrupt + n_spans + 1. Those two lengths — not the
    * raw token count — are what the d24/d41 packing budget must pack,
    * and their corpus totals price a training run's true step count.
    * Per source: docs, raw tokens, corrupted tokens, sentinels
    * (spans), the exact input/target token totals, and the
    * input-shrink in bp. Closed-form integer arithmetic per doc
    * (n_corrupt = n·pct div 100; n_spans = ceil div; empty docs carry
    * zeros), one (source) reduce — nothing wider than the token count
    * ever computed, no per-token work at all.
    *
    * Shape: ONE scan, map-side partials into a ≤|sources| reduce. */
  def d97SpanCorruptionPlan(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), size(tokens(col("text"))).cast("long").as("n"))
      .select(col("source"), col("n"),
        expr(s"(n * $CorruptNoisePct) div 100").as("nc"))
      .select(col("source"), col("n"), col("nc"),
        expr(s"(nc + ${CorruptMeanSpan - 1}) div $CorruptMeanSpan").as("ns"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("n_tokens"),
        sum(col("nc")).as("n_corrupt"),
        sum(col("ns")).as("n_sentinels"),
        sum(col("n") - col("nc") + col("ns")).as("input_tokens"),
        sum(when(col("n") > 0, col("nc") + col("ns") + 1).otherwise(0L)).as("target_tokens"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_corrupt"),
        col("n_sentinels"), col("input_tokens"), col("target_tokens"),
        expr("((n_tokens - input_tokens) * 10000) div greatest(1L, n_tokens)")
          .as("input_shrink_bp"))
      .orderBy(col("source"))

  val d97Sql: String =
    s"""WITH d AS (
       |  SELECT source,
       |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n
       |  FROM documents),
       |p AS (
       |  SELECT source, n, (n * $CorruptNoisePct) // 100 AS nc FROM d),
       |q AS (
       |  SELECT source, n, nc, (nc + ${CorruptMeanSpan - 1}) // $CorruptMeanSpan AS ns FROM p)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n) AS BIGINT) AS n_tokens,
       |  CAST(sum(nc) AS BIGINT) AS n_corrupt,
       |  CAST(sum(ns) AS BIGINT) AS n_sentinels,
       |  CAST(sum(n - nc + ns) AS BIGINT) AS input_tokens,
       |  CAST(sum(CASE WHEN n > 0 THEN nc + ns + 1 ELSE 0 END) AS BIGINT) AS target_tokens,
       |  CAST((sum(nc - ns) * 10000) // greatest(1, sum(n)) AS BIGINT) AS input_shrink_bp
       |FROM q GROUP BY 1 ORDER BY source""".stripMargin

  /** d98 candidate-vocab cap: ranks beyond this are never inspected
    * (bounded TakeOrdered — the literal-capacity sketch discipline). */
  val VocabCoverageCap = 16384
  /** d98 vocab-size ladder to price. */
  val VocabLadder = Seq(256, 1024, 4096, 16384)

  /** d98: vocabulary coverage curve — the tokenizer-sizing readout:
    * for each candidate vocab size k on [[VocabLadder]], how much of
    * the corpus token mass the top-k types cover (exact ppm), plus
    * the smallest k reaching 99% coverage (NULL when it lies beyond
    * [[VocabCoverageCap]] — reported, never silently truncated).
    * Coverage mass is TIE-INDEPENDENT: types tied at the k boundary
    * contribute the same mass whichever the rank order picks, so the
    * ladder replays exactly even though the tie order itself is just
    * a convention ((freq DESC, token) in both engines).
    *
    * Shape: ONE scan → global (token) reduce (map-side partials) →
    * bounded TakeOrderedAndProject of the top [[VocabCoverageCap]]
    * types (never a full vocab sort-shuffle) → windows and the ladder
    * explode over that ≤cap frame (value-bounded, the c31 rule). The
    * corpus-totals branch shares the token-reduce lineage, so AQE
    * reuses its shuffle stage (ReusedExchange, spec-asserted — the
    * q59 rule): one corpus scan executes. The totals then ride a
    * 1-row scalar broadcast (allowlisted). At
    * 100 TB the vocab is corpus-derived and huge — everything past
    * the reduce is capped by the literal, so the plan cost is the
    * token reduce alone. */
  def d98VocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val freqs = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
    val totals = freqs.agg(sum(col("n")).as("n_tokens"), count(lit(1)).as("n_types"))
    val wRank = Window.orderBy(col("n").desc, col("tok"))
    val wCum = wRank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = freqs.orderBy(col("n").desc, col("tok")).limit(VocabCoverageCap)
      .crossJoin(broadcast(totals))
      .withColumn("rn", row_number().over(wRank))
      .withColumn("cum", sum(col("n")).over(wCum))
      .withColumn("k99", min(when(col("cum") * 100 >= col("n_tokens") * 99, col("rn")))
        .over(Window.partitionBy()))
    ranked
      .select(col("rn"), col("cum"), col("k99"), col("n_tokens"), col("n_types"),
        explode(array(VocabLadder.map(lit(_)): _*)).as("vocab_k"))
      .filter(col("rn") <= col("vocab_k"))
      .groupBy(col("vocab_k"))
      .agg(max(col("rn")).as("k_used"),
        max(col("cum")).as("covered_tokens"),
        max(col("k99")).as("k99"),
        max(col("n_tokens")).as("n_tokens"),
        max(col("n_types")).as("n_types"))
      .select(col("vocab_k"), col("k_used"), col("covered_tokens"),
        expr("(covered_tokens * 1000000) div n_tokens").as("coverage_ppm"),
        col("k99"), col("n_tokens"), col("n_types"))
      .orderBy(col("vocab_k"))
  }

  val d98Sql: String =
    s"""WITH occ AS (
       |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
       |  FROM documents),
       |tf AS (SELECT tok, count(*) AS n FROM occ GROUP BY 1),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_tokens, CAST(count(*) AS BIGINT) AS n_types FROM tf),
       |r0 AS (
       |  SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rn,
       |    CAST(sum(n) OVER (ORDER BY n DESC, tok
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |  FROM tf ORDER BY n DESC, tok LIMIT $VocabCoverageCap),
       |r AS (
       |  SELECT r0.*, n_tokens, n_types,
       |    min(CASE WHEN cum * 100 >= n_tokens * 99 THEN rn END) OVER () AS k99
       |  FROM r0 CROSS JOIN tot),
       |lad AS (SELECT unnest([${VocabLadder.mkString(", ")}]) AS vocab_k)
       |SELECT CAST(vocab_k AS INTEGER) AS vocab_k,
       |  CAST(max(rn) AS INTEGER) AS k_used,
       |  CAST(max(cum) AS BIGINT) AS covered_tokens,
       |  CAST((max(cum) * 1000000) // max(n_tokens) AS BIGINT) AS coverage_ppm,
       |  CAST(max(k99) AS INTEGER) AS k99,
       |  CAST(max(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(max(n_types) AS BIGINT) AS n_types
       |FROM lad JOIN r ON rn <= vocab_k
       |GROUP BY lad.vocab_k ORDER BY vocab_k""".stripMargin

  def d99DupQuality(spark: SparkSession, dir: String): DataFrame =
    d99DupQualityOf(Tables.documents(spark, dir))

  /** d99: duplication × quality interaction audit — the ORDERING
    * decision every curation pipeline makes once ("dedup before or
    * after the quality filter?") answered with data: if duplicated
    * documents skew low-quality (boilerplate, error pages, scraped
    * chrome — the common case, Penedo et al. 2023's FineWeb ablations),
    * dedup-first is cheaper because the quality model never scores
    * copies; if dups skew HIGH quality (popular canonical pages),
    * quality-first risks keeping N copies of the same passing doc.
    * Emits the dup-class × quality-flag contingency: docs, tokens,
    * and each flag's share WITHIN its dup class (bp) — the column you
    * read across classes to see the skew. Classes: unique (1 copy),
    * small (2–4), large (5+); quality is d3's flag, the same
    * deterministic rule its standalone operator oracles.
    *
    * Shape: ONE documents scan → row-local flag + d5's content hash →
    * count window over the hash partition (the d15 idiom — group
    * sizes without losing the row grain) → reduce to the ≤3×2
    * contingency frame, where the share window runs (c31-safe). */
  def d99DupQualityOf(docs: DataFrame): DataFrame = {
    val wH = Window.partitionBy(col("content_hash"))
    val wC = Window.partitionBy(col("dup_class"))
    docs
      .select(
        qualityFlagOf(col("text")).as("quality_flag"),
        md5(trim(lower(col("text")))).as("content_hash"),
        size(tokens(col("text"))).cast("long").as("toks"))
      .withColumn("grp", count(lit(1)).over(wH))
      .withColumn("dup_class",
        when(col("grp") === 1, lit("unique"))
          .when(col("grp") <= 4, lit("small"))
          .otherwise(lit("large")))
      .groupBy(col("dup_class"), col("quality_flag"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
      .withColumn("class_total", sum(col("n_docs")).over(wC))
      .select(col("dup_class"), col("quality_flag"), col("n_docs"), col("n_tokens"),
        expr("(10000 * n_docs) div class_total").as("class_share_bp"))
      .orderBy(col("dup_class"), col("quality_flag"))
  }

  val d99Sql: String =
    """WITH f AS (
      |  SELECT md5(trim(lower(text))) AS content_hash,
      |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_toks,
      |    CAST(length(replace(text, ' ', '')) AS DOUBLE)
      |      / len(list_filter(string_split(text, ' '), x -> x <> '')) AS avg_len
      |  FROM documents),
      |q AS (
      |  SELECT content_hash, n_toks,
      |    CASE WHEN n_toks BETWEEN 5 AND 1000 AND avg_len BETWEEN 2.0 AND 12.0
      |         THEN 'ok' ELSE 'low' END AS quality_flag
      |  FROM f),
      |g AS (SELECT *, count(*) OVER (PARTITION BY content_hash) AS grp FROM q),
      |c AS (
      |  SELECT quality_flag, n_toks,
      |    CASE WHEN grp = 1 THEN 'unique' WHEN grp <= 4 THEN 'small'
      |         ELSE 'large' END AS dup_class
      |  FROM g),
      |a AS (
      |  SELECT dup_class, quality_flag, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(n_toks) AS BIGINT) AS n_tokens
      |  FROM c GROUP BY 1, 2)
      |SELECT dup_class, quality_flag, n_docs, n_tokens,
      |  CAST((10000 * n_docs) // (sum(n_docs) OVER (PARTITION BY dup_class)) AS BIGINT)
      |    AS class_share_bp
      |FROM a ORDER BY dup_class, quality_flag""".stripMargin

  def d100DecontamPlan(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    d100DecontamPlanOf(
      docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(97)) === 0))
  }

  /** d100: span-level DECONTAMINATION plan — d20 detects training docs
    * that share 3-gram shingles with the eval split; this plans the
    * surgical fix: cut the contaminated token spans and KEEP the rest
    * of the document (the Lee et al. 2022 / PaLM-style move — dropping
    * whole docs over one quoted benchmark line wastes clean tokens at
    * corpus scale). Per contaminated doc: hit-shingle count, tokens
    * cut (the UNION of the 3-token windows at every contaminated
    * position — overlapping hits must not double-count), tokens kept,
    * keep share (bp), and the decision: `cut_spans` when ≥80% of the
    * doc survives, `drop` when the doc is too shredded to be worth
    * stitching (the standard contamination-density cutoff).
    *
    * The span union is exact and integer: for the sorted hit
    * positions, each contributes min(next − pos, 3) tokens (3 for the
    * last) — the c34 sweep at token grain, as a lag window over HIT
    * rows only (never the corpus; hits are the reduced frame).
    *
    * Shape: corpus scan → positional shingle explode (the
    * explodedShinglesOf transform+sequence form with the position
    * riding in a struct — map-only); eval scan → distinct shingle set
    * (reduced); LEFT SEMI join keeps each contaminated position once;
    * per-doc lead window + reduce over hit rows. Two scans = two
    * genuine inputs (corpus vs eval split — the d20/a21 precedent). */
  def d100DecontamPlanOf(corpus: DataFrame, evalDocs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    val posShingles = corpus
      .filter(size(t) >= 3)
      .select(col("doc_id"), size(t).cast("long").as("n_tokens"),
        explode(transform(sequence(lit(1), size(t) - 2),
          i => struct(i.as("pos"), concat_ws(" ", element_at(t, i),
            element_at(t, i + 1), element_at(t, i + 2)).as("shingle")))).as("z"))
      .select(col("doc_id"), col("n_tokens"),
        col("z.pos").as("pos"), col("z.shingle").as("shingle"))
    val evalShingles = DedupOps.explodedShinglesOf(evalDocs)
      .select(col("shingle")).distinct()
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    posShingles
      .join(evalShingles, Seq("shingle"), "left_semi")
      .withColumn("nxt", lead(col("pos"), 1).over(w))
      .groupBy(col("doc_id"))
      .agg(max(col("n_tokens")).as("n_tokens"),
        count(lit(1)).as("n_hit_shingles"),
        sum(when(col("nxt").isNull, lit(3L))
          .otherwise(least(col("nxt") - col("pos"), lit(3)).cast("long"))).as("tokens_cut"))
      .withColumn("tokens_kept", col("n_tokens") - col("tokens_cut"))
      .withColumn("keep_bp", expr("(tokens_kept * 10000) div n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("n_hit_shingles"), col("tokens_cut"),
        col("tokens_kept"), col("keep_bp"),
        when(col("keep_bp") >= 8000, lit("cut_spans")).otherwise(lit("drop")).as("decision"))
      .orderBy(col("doc_id"))
  }

  val d100Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
      |corp AS (
      |  SELECT doc_id, len(t) AS n_tokens,
      |    unnest(range(1, len(t) - 1)) AS pos,
      |    unnest(list_transform(range(1, len(t) - 1),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      |  FROM toks WHERE doc_id % 97 <> 0 AND len(t) >= 3),
      |ev AS (
      |  SELECT DISTINCT unnest(list_transform(range(1, len(t) - 1),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      |  FROM toks WHERE doc_id % 97 = 0 AND len(t) >= 3),
      |hits AS (
      |  SELECT doc_id, n_tokens, pos FROM corp
      |  WHERE shingle IN (SELECT shingle FROM ev)),
      |lagged AS (
      |  SELECT doc_id, n_tokens, pos,
      |    lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
      |  FROM hits),
      |a AS (
      |  SELECT doc_id, max(n_tokens) AS n_tokens, count(*) AS n_hit_shingles,
      |    sum(CASE WHEN nxt IS NULL THEN 3 ELSE least(nxt - pos, 3) END) AS tokens_cut
      |  FROM lagged GROUP BY 1)
      |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(n_hit_shingles AS BIGINT) AS n_hit_shingles,
      |  CAST(tokens_cut AS BIGINT) AS tokens_cut,
      |  CAST(n_tokens - tokens_cut AS BIGINT) AS tokens_kept,
      |  CAST(((n_tokens - tokens_cut) * 10000) // n_tokens AS BIGINT) AS keep_bp,
      |  CASE WHEN ((n_tokens - tokens_cut) * 10000) // n_tokens >= 8000
      |       THEN 'cut_spans' ELSE 'drop' END AS decision
      |FROM a ORDER BY doc_id""".stripMargin

  def d102PiiDensity(spark: SparkSession, dir: String): DataFrame =
    d102PiiDensityOf(Tables.documents(spark, dir))

  /** d102: per-SOURCE PII density report — the compliance dashboard
    * grain d18 (per-doc scrub) feeds but doesn't provide: a curation
    * owner decides per SOURCE whether to scrub, quarantine, or drop,
    * and that decision wants density, not rows. Per source: docs,
    * docs with any hit (exact bp), email/phone hit totals, hits per
    * MiB (integral — the cross-corpus-comparable rate: raw counts
    * just restate corpus size), and the worst single doc's hit count
    * (the tail drives legal risk, not the mean). Same deterministic
    * injection rule as d18 so the testdata carries planted truth;
    * same cross-engine regexes (RE2-safe classes, no lookarounds).
    *
    * Shape: ONE scan, row-local regexp counts (codegen'd, zero
    * shuffle until the |sources|-row reduce). */
  def d102PiiDensityOf(docs: DataFrame): DataFrame = {
    val injected = concat(col("text"),
      when(pmod(col("doc_id"), lit(10)) === 0,
        concat(lit(" contact agent"), col("doc_id").cast("string"),
          lit("@example.org or call 555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
        .otherwise(lit(""))).as("text")
    docs.select(col("doc_id"), col("source"), injected)
      .select(col("source"),
        octet_length(col("text").cast("binary")).cast("long").as("n_bytes"),
        regexp_count(col("text"), lit(EmailRe)).cast("long").as("e"),
        regexp_count(col("text"), lit(PhoneRe)).cast("long").as("p"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countIf(col("e") + col("p") > 0).as("docs_with_pii"),
        sum(col("e")).as("n_emails"),
        sum(col("p")).as("n_phones"),
        sum(col("n_bytes")).as("total_bytes"),
        max(col("e") + col("p")).as("max_doc_hits"))
      .select(col("source"), col("n_docs"), col("docs_with_pii"),
        expr("(docs_with_pii * 10000) div n_docs").as("pii_bp"),
        col("n_emails"), col("n_phones"),
        expr("((n_emails + n_phones) * 1048576) div total_bytes").as("hits_per_mib"),
        col("max_doc_hits"))
      .orderBy(col("source"))
  }

  val d102Sql: String =
    s"""WITH injected AS (
       |  SELECT doc_id, source,
       |    concat(text, CASE WHEN doc_id % 10 = 0
       |      THEN concat(' contact agent', CAST(doc_id AS VARCHAR),
       |        '@example.org or call 555-',
       |        lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'))
       |      ELSE '' END) AS text
       |  FROM documents),
       |hits AS (
       |  SELECT source,
       |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       |    CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS e,
       |    CAST(len(regexp_extract_all(text, '$PhoneRe')) AS BIGINT) AS p
       |  FROM injected),
       |g AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(count(CASE WHEN e + p > 0 THEN 1 END) AS BIGINT) AS docs_with_pii,
       |    CAST(sum(e) AS BIGINT) AS n_emails, CAST(sum(p) AS BIGINT) AS n_phones,
       |    CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
       |    CAST(max(e + p) AS BIGINT) AS max_doc_hits
       |  FROM hits GROUP BY 1)
       |SELECT source, n_docs, docs_with_pii,
       |  (docs_with_pii * 10000) // n_docs AS pii_bp,
       |  n_emails, n_phones,
       |  ((n_emails + n_phones) * 1048576) // total_bytes AS hits_per_mib,
       |  max_doc_hits
       |FROM g ORDER BY source""".stripMargin

  /** Cross-engine markup patterns (RE2 ∩ Java regex — no lookarounds,
    * no word boundaries, the EmailRe discipline). */
  private[graft] val TagRe = "</?[a-z][a-z0-9]*"
  private[graft] val UrlRe = "https?://[a-zA-Z0-9./?=&_-]+"
  private[graft] val FenceRe = "```"

  def d105MarkupProfile(spark: SparkSession, dir: String): DataFrame =
    d105MarkupProfileOf(Tables.documents(spark, dir))

  /** d105: structural markup density per source — the C4/RefinedWeb
    * curation axis (Raffel et al. 2020 strip code/markup lines;
    * Penedo et al. 2023 gate on symbol ratios) that d3's per-doc
    * quality features don't report at decision grain: whether a
    * SOURCE needs an HTML-strip / code-separation pass is decided
    * from its tag/URL/code-fence density, not from row counts. Per
    * source: docs, docs with any markup (exact bp), tag/url/fence hit
    * totals, and markup hits per MiB (the cross-corpus-comparable
    * rate). Synthetic docs carry no markup, so a deterministic
    * doc_id-keyed injection plants ground truth the oracle AND the
    * spec replay (the d18/d102 discipline); patterns are RE2 ∩ Java
    * regex so both engines count identical hits.
    *
    * Shape: ONE scan, row-local codegen'd regexp counts, zero shuffle
    * until the |sources|-row reduce. */
  def d105MarkupProfileOf(docs: DataFrame): DataFrame = {
    val injected = concat(col("text"),
      when(pmod(col("doc_id"), lit(7)) === 0,
        lit(" <div class=m>planted</div>")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(5)) === 0,
        concat(lit(" see https://example.org/d"), col("doc_id").cast("string")))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(9)) === 0,
        lit(" ```code``` ")).otherwise(lit(""))).as("text")
    docs.select(col("doc_id"), col("source"), injected)
      .select(col("source"),
        octet_length(col("text").cast("binary")).cast("long").as("n_bytes"),
        regexp_count(col("text"), lit(TagRe)).cast("long").as("t"),
        regexp_count(col("text"), lit(UrlRe)).cast("long").as("u"),
        regexp_count(col("text"), lit(FenceRe)).cast("long").as("f"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countIf(col("t") + col("u") + col("f") > 0).as("docs_with_markup"),
        sum(col("t")).as("n_tags"),
        sum(col("u")).as("n_urls"),
        sum(col("f")).as("n_fences"),
        sum(col("n_bytes")).as("total_bytes"))
      .select(col("source"), col("n_docs"), col("docs_with_markup"),
        expr("(docs_with_markup * 10000) div n_docs").as("markup_bp"),
        col("n_tags"), col("n_urls"), col("n_fences"),
        expr("((n_tags + n_urls + n_fences) * 1048576) div total_bytes")
          .as("hits_per_mib"))
      .orderBy(col("source"))
  }

  val d105Sql: String =
    s"""WITH injected AS (
       |  SELECT doc_id, source,
       |    concat(text,
       |      CASE WHEN doc_id % 7 = 0 THEN ' <div class=m>planted</div>' ELSE '' END,
       |      CASE WHEN doc_id % 5 = 0
       |        THEN concat(' see https://example.org/d', CAST(doc_id AS VARCHAR))
       |        ELSE '' END,
       |      CASE WHEN doc_id % 9 = 0 THEN ' ```code``` ' ELSE '' END) AS text
       |  FROM documents),
       |hits AS (
       |  SELECT source,
       |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       |    CAST(len(regexp_extract_all(text, '$TagRe')) AS BIGINT) AS t,
       |    CAST(len(regexp_extract_all(text, '$UrlRe')) AS BIGINT) AS u,
       |    CAST(len(regexp_extract_all(text, '$FenceRe')) AS BIGINT) AS f
       |  FROM injected),
       |g AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(count(CASE WHEN t + u + f > 0 THEN 1 END) AS BIGINT) AS docs_with_markup,
       |    CAST(sum(t) AS BIGINT) AS n_tags, CAST(sum(u) AS BIGINT) AS n_urls,
       |    CAST(sum(f) AS BIGINT) AS n_fences,
       |    CAST(sum(n_bytes) AS BIGINT) AS total_bytes
       |  FROM hits GROUP BY 1)
       |SELECT source, n_docs, docs_with_markup,
       |  (docs_with_markup * 10000) // n_docs AS markup_bp,
       |  n_tags, n_urls, n_fences,
       |  ((n_tags + n_urls + n_fences) * 1048576) // total_bytes AS hits_per_mib
       |FROM g ORDER BY source""".stripMargin

  def d110CodeSwitch(spark: SparkSession, dir: String): DataFrame =
    d110CodeSwitchOf(Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text")))

  /** d110: intra-document code-switch detection — documents whose
    * first and second HALVES identify as different languages. In a
    * crawled corpus these are overwhelmingly concatenation artifacts
    * (boilerplate in the site language glued to content in another,
    * two pages merged by a bad extractor) that doc-level lang-id (d2)
    * assigns confidently to ONE language, poisoning monolingual
    * training splits. Per source: docs checked, switched docs, share
    * in bp, and the dominant switch direction (the from→to pair a
    * cleaning rule would target).
    *
    * Reuses d2's exact predictor ([[withLangPred]] — CJK override,
    * stopword-hit argmax, first-lexicon tie rule) verbatim on each
    * half, so batch lang-id and this audit CANNOT drift. Halves are
    * token halves (≥4 tokens to split meaningfully); an 'und' half
    * counts as a switch only against a non-'und' half — two
    * unidentifiable halves agree.
    *
    * Shape: ONE scan → half explode (2 rows/doc) → the d2 hit
    * aggregation (one doc-half-keyed exchange) → doc regroup →
    * (source, from, to) reduce → per-source windows (d107 argmax
    * idiom) → 1-row per source. */
  def d110CodeSwitchOf(documents: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    val halves = documents
      .filter(size(t) >= 4)
      .select(col("doc_id"), col("source"),
        explode(array(
          struct(lit(0L).as("half"),
            concat_ws(" ", slice(t, lit(1), (size(t) / 2))).as("htext")),
          struct(lit(1L).as("half"),
            concat_ws(" ", slice(t, size(t) / 2 + 1, size(t))).as("htext"))))
          .as("h"))
      .select(col("doc_id"), col("source"), col("h.half").as("half"),
        col("h.htext").as("htext"))
      .withColumn("hid", col("doc_id") * 2 + col("half"))
    val perDoc = withLangPred(halves, "hid", "htext")
      .groupBy(col("doc_id"), col("source"))
      .agg(max(when(col("half") === 0, col("lang_pred"))).as("l0"),
        max(when(col("half") === 1, col("lang_pred"))).as("l1"))
    val wS = Window.partitionBy(col("source"))
    perDoc
      .groupBy(col("source"), col("l0"), col("l1"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("tot", sum(col("cnt")).over(wS))
      .withColumn("switched",
        sum(when(col("l0") =!= col("l1"), col("cnt")).otherwise(0L)).over(wS))
      .withColumn("rn", row_number().over(wS.orderBy(
        when(col("l0") =!= col("l1"), col("cnt")).otherwise(lit(-1L)).desc,
        col("l0"), col("l1"))))
      .filter(col("rn") === 1)
      .select(col("source"), col("tot").as("n_docs"),
        col("switched").as("switched_docs"),
        expr("(switched * 10000) div tot").as("switched_bp"),
        when(col("l0") =!= col("l1"), col("l0")).as("top_from"),
        when(col("l0") =!= col("l1"), col("l1")).as("top_to"))
      .orderBy(col("source"))
  }

  val d110Sql: String = {
    def langToks(e: String) =
      s"""list_filter(string_split_regex(regexp_replace(lower($e), '[^\\p{L}\\s]', ' ', 'g'), '\\s+'), x -> x <> '')"""
    val hitCols = lexicons.map { case (lang, words) =>
      val in = words.map(w => s"'${w.replace("'", "''")}'").mkString(", ")
      s"len(list_filter(toks, x -> x IN ($in))) AS h_$lang"
    }.mkString(",\n    ")
    val gmax = lexicons.map { case (l, _) => s"h_$l" }.mkString("greatest(", ", ", ")")
    val pick = lexicons.map { case (l, _) => s"WHEN h_$l = $gmax THEN '$l'" }.mkString("\n      ")
    s"""WITH t0 AS (
       |  SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS t
       |  FROM documents),
       |h AS (
       |  SELECT doc_id, source, 0 AS half,
       |    array_to_string(t[1:len(t)//2], ' ') AS htext
       |  FROM t0 WHERE len(t) >= 4
       |  UNION ALL
       |  SELECT doc_id, source, 1, array_to_string(t[len(t)//2+1:len(t)], ' ')
       |  FROM t0 WHERE len(t) >= 4),
       |norm AS (
       |  SELECT doc_id, source, half, htext, ${langToks("htext")} AS toks FROM h),
       |hits AS (
       |  SELECT doc_id, source, half,
       |    regexp_matches(htext, '[\\x{4e00}-\\x{9fff}]') AS has_cjk,
       |    $hitCols
       |  FROM norm),
       |pred AS (
       |  SELECT doc_id, source, half,
       |    CASE WHEN has_cjk THEN 'zh'
       |         WHEN $gmax = 0 THEN 'und'
       |        $pick
       |        ELSE 'und' END AS lang_pred
       |  FROM hits),
       |doc AS (
       |  SELECT doc_id, source,
       |    max(CASE WHEN half = 0 THEN lang_pred END) AS l0,
       |    max(CASE WHEN half = 1 THEN lang_pred END) AS l1
       |  FROM pred GROUP BY 1, 2),
       |cells AS (
       |  SELECT source, l0, l1, CAST(count(*) AS BIGINT) AS cnt
       |  FROM doc GROUP BY 1, 2, 3),
       |sc AS (
       |  SELECT source, l0, l1, cnt,
       |    sum(cnt) OVER (PARTITION BY source) AS tot,
       |    sum(CASE WHEN l0 <> l1 THEN cnt ELSE 0 END)
       |      OVER (PARTITION BY source) AS switched,
       |    row_number() OVER (PARTITION BY source ORDER BY
       |      CASE WHEN l0 <> l1 THEN cnt ELSE -1 END DESC, l0, l1) AS rn
       |  FROM cells)
       |SELECT source, CAST(tot AS BIGINT) AS n_docs,
       |  CAST(switched AS BIGINT) AS switched_docs,
       |  CAST((switched * 10000) // tot AS BIGINT) AS switched_bp,
       |  CASE WHEN l0 <> l1 THEN l0 END AS top_from,
       |  CASE WHEN l0 <> l1 THEN l1 END AS top_to
       |FROM sc WHERE rn = 1 ORDER BY source""".stripMargin
  }

  /** d111 sample size per source and the deterministic-hash modulus
    * (a prime, so consecutive doc_ids spray uniformly). */
  val SampleK = 5
  val SampleMod = 1000003L

  def d111WeightedSample(spark: SparkSession, dir: String): DataFrame =
    d111WeightedSampleOf(Tables.documents(spark, dir))

  /** d111: deterministic weighted sampling without replacement per
    * source — the curation primitive behind "show me K representative
    * docs per source, longer docs proportionally more likely" (d16
    * stratifies by COUNT; this weights WITHIN the stratum): the
    * Efraimidis–Spirakis shape (priority = u/weight per item, take the
    * K best) with the uniform u replaced by a Knuth multiplicative
    * hash of doc_id — deterministic, replayable, seedable by changing
    * the multiplier, and exact integer end-to-end (priority =
    * (M − u)·10⁹ div weight, smaller wins, so heavier docs
    * stochastically dominate exactly as in E-S). A re-run, a retry, or
    * the DuckDB oracle all draw the SAME sample — the property a
    * training-data pipeline needs from its samplers (the d22 shuffle
    * makes the same determinism argument).
    *
    * Shape: ONE scan → integer priority per row (no shuffle) → per-
    * source top-K window on the (source, priority) pair. At 100 TB the
    * window input is corpus-wide but carries 3 longs + source; the
    * streaming twin keeps the same K in one state row per source. */
  def d111WeightedSampleOf(docs: DataFrame): DataFrame = {
    val ranked = docs
      .select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("weight"))
      .withColumn("u", pmod(col("doc_id") * 2654435761L, lit(SampleMod)))
      .withColumn("priority",
        expr(s"(($SampleMod - u) * 1000000000) div weight"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("priority"), col("doc_id"))))
      .filter(col("rk") <= SampleK)
    ranked.select(col("source"), col("rk").as("rank"), col("doc_id"),
        col("weight"), col("priority"))
      .orderBy(col("source"), col("rank"))
  }

  val d111Sql: String =
    s"""WITH p AS (
       |  SELECT doc_id, source, CAST(length(text) AS BIGINT) AS weight,
       |    (doc_id * 2654435761) % $SampleMod AS u
       |  FROM documents),
       |pri AS (
       |  SELECT *, (($SampleMod - u) * 1000000000) // weight AS priority FROM p),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY source
       |    ORDER BY priority, doc_id) AS rank FROM pri)
       |SELECT source, rank, doc_id, weight, CAST(priority AS BIGINT) AS priority
       |FROM r WHERE rank <= $SampleK ORDER BY source, rank""".stripMargin

  /** d112 keywords per doc. */
  val KeywordsK = 3

  def d112SalientTerms(spark: SparkSession, dir: String): DataFrame =
    d112SalientTermsOf(Tables.documents(spark, dir))

  /** d112: per-DOCUMENT salient terms — the doc-tagging primitive
    * (cluster labeling, curation browse, d95's coherence input) where
    * d34 answers the same question per SOURCE: for each doc, the top-3
    * tokens by integer salience tf·10⁶ div df (rank-equivalent to
    * tf/df — the tf-idf ORDER without the log, so the whole pipeline
    * stays exact integer; the log only compresses magnitude, it never
    * reorders a single-corpus comparison at fixed tf... and where it
    * would (cross-tf), the tf factor dominates identically in both
    * orderings). Ties break lexicographically. Token rule is the
    * corpus-wide `tokens` convention (d34/d43).
    *
    * Shape: token explode → (doc, tok) tf reduce → df via one window
    * over the REDUCED term frame → per-doc top-K window. Gram tier
    * (the d34/d51 cost family, budget-locked). */
  def d112SalientTermsOf(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy(col("tok"))))
      .withColumn("salience", expr("(tf * 1000000) div df"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("salience").desc, col("tok"))))
      .filter(col("rank") <= KeywordsK)
      .select(col("doc_id"), col("rank"), col("tok").as("token"),
        col("tf"), col("df"), col("salience"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val d112Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
       |  FROM documents),
       |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
       |d AS (SELECT *, count(*) OVER (PARTITION BY tok) AS df FROM tf),
       |s AS (SELECT *, (tf * 1000000) // df AS salience FROM d),
       |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY salience DESC, tok) AS rank FROM s)
       |SELECT doc_id, rank, tok AS token, tf, df, CAST(salience AS BIGINT) AS salience
       |FROM r WHERE rank <= $KeywordsK ORDER BY doc_id, rank""".stripMargin

  def d117SampleCoverage(spark: SparkSession, dir: String): DataFrame =
    d117SampleCoverageOf(Tables.documents(spark, dir))

  /** d117: SAMPLE token coverage per source — before training a
    * tokenizer (or estimating corpus statistics) on a cheap subsample,
    * measure what the deterministic 1-in-8 doc sample actually
    * covers: the fraction of each source's DISTINCT vocabulary that
    * appears in the sample, and the fraction of its total TOKEN MASS
    * carried by those covered types (mass coverage is always ≥ vocab
    * coverage — frequent types are caught first; the gap IS the
    * long-tail risk). d90's Good–Turing estimates the unseen mass of
    * the corpus from itself; this measures a concrete sample against
    * the corpus it came from — the number a pipeline owner checks
    * before trusting sample-fitted BPE merges (d67) at 100 TB. Exact
    * integers end-to-end (counts and basis-point divs).
    *
    * Shape: one token explode → (source, token) grain reduce with a
    * bool-or "seen in sample" flag folded into the SAME aggregate (no
    * second corpus pass, no join back) → per-source reduce. */
  def d117SampleCoverageOf(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("source"), (col("doc_id") % 8 === 0).as("in_sample"),
        explode(tokens(col("text"))).as("tok"))
    toks.groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("n"), max(col("in_sample")).as("covered"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"),
        sum(when(col("covered"), 1L).otherwise(0L)).as("vocab_covered"),
        sum(col("n")).as("mass"),
        sum(when(col("covered"), col("n")).otherwise(0L)).as("mass_covered"))
      .select(col("source"), col("vocab").cast("bigint").as("vocab"),
        col("vocab_covered").cast("bigint").as("vocab_covered"),
        col("mass").cast("bigint").as("mass"),
        col("mass_covered").cast("bigint").as("mass_covered"),
        expr("(vocab_covered * 10000) div vocab").cast("bigint").as("vocab_bp"),
        expr("(mass_covered * 10000) div mass").cast("bigint").as("mass_bp"))
      .orderBy(col("source"))
  }

  val d117Sql: String =
    """WITH toks AS (
      |  SELECT source, doc_id % 8 = 0 AS in_sample,
      |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      |  FROM documents),
      |tt AS (
      |  SELECT source, tok, count(*) AS n, bool_or(in_sample) AS covered
      |  FROM toks GROUP BY 1, 2)
      |SELECT source, CAST(count(*) AS BIGINT) AS vocab,
      |  CAST(sum(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT) AS vocab_covered,
      |  CAST(sum(n) AS BIGINT) AS mass,
      |  CAST(sum(CASE WHEN covered THEN n ELSE 0 END) AS BIGINT) AS mass_covered,
      |  CAST(sum(CASE WHEN covered THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT) AS vocab_bp,
      |  CAST(sum(CASE WHEN covered THEN n ELSE 0 END) * 10000 // sum(n) AS BIGINT) AS mass_bp
      |FROM tt GROUP BY source ORDER BY source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d117_sample_coverage" -> (d117SampleCoverage _),
    "d112_salient_terms" -> (d112SalientTerms _),
    "d111_weighted_sample" -> (d111WeightedSample _),
    "d110_code_switch" -> (d110CodeSwitch _),
    "d105_markup_profile" -> (d105MarkupProfile _),
    "d102_pii_density" -> (d102PiiDensity _),
    "d100_decontam_plan" -> (d100DecontamPlan _),
    "d99_dup_quality" -> (d99DupQuality _),
    "d98_vocab_coverage" -> (d98VocabCoverage _),
    "d97_span_corruption_plan" -> (d97SpanCorruptionPlan _),
    "d88_temperature_mix" -> (d88TemperatureMix _),
    "d87_quality_cutoffs" -> (d87QualityCutoffs _),
    "d86_substring_scan" -> (d86SubstringScan _),
    "d85_bm25_topk" -> (d85Bm25Topk _),
    "d84_dict_code" -> (d84DictCode _),
    "d83_blocklist_gate" -> (d83BlocklistGate _),
    "d80_crawl_churn" -> (d80CrawlChurn _),
    "d79_mixture_schedule" -> (d79MixtureSchedule _),
    "d78_heavy_hitters" -> (d78HeavyHitters _),
    "d76_sentence_profile" -> (d76SentenceProfile _),
    "d75_token_concentration" -> (d75TokenConcentration _),
    "d74_quality_calibration" -> (d74QualityCalibration _),
    "d72_vocab_growth" -> (d72VocabGrowth _),
    "d71_boundary_stitch" -> (d71BoundaryStitch _),
    "d68_bpe_encode" -> (d68BpeEncode _),
    "d67_bpe_merges" -> (d67BpeMerges _),
    "d64_boilerplate_prefixes" -> (d64BoilerplatePrefixes _),
    "d63_collocations" -> (d63Collocations _),
    "d62_lexical_diversity" -> (d62LexicalDiversity _),
    "d61_token_burstiness" -> (d61TokenBurstiness _),
    "d59_oov_rate" -> (d59OovRate _),
    "d48_lm_familiarity" -> (d48LmFamiliarity _),
    "d51_ngram_novelty" -> (d51NgramNovelty _),
    "d49_token_budget" -> (d49TokenBudgetSample _),
    "d43_ngram_lm" -> (d43NgramLm _),
    "d18_pii_scrub" -> (d18PiiScrub _),
    "d19_repetition_filter" -> (d19RepetitionFilter _),
    "d20_contamination" -> (d20Contamination _),
    "d21_mixture_weights" -> (d21MixtureWeights _),
    "d22_corpus_shuffle" -> (d22CorpusShuffle _),
    "d11_vocab" -> (d11Vocab _),
    "d1_text_stats" -> (d1TextStats _),
    "d2_lang_id" -> (d2LangId _),
    "d53_lang_confusion" -> (d53LangConfusion _),
    "d14_subword_tokens" -> (d14SubwordTokens _),
    "d27_tokenizer_fertility" -> (d27TokenizerFertility _),
    "d29_dedup_summary" -> (d29DedupSummary _),
    "d15_corpus_filter" -> (d15CorpusFilter _),
    "d16_stratified_sample" -> (d16StratifiedSample _),
    "d30_domain_cap" -> (d30DomainCap _),
    "d40_url_canonical" -> (d40UrlCanonical _),
    "d31_source_divergence" -> (d31SourceDivergence _),
    "d3_quality_score" -> (d3QualityScore _),
    "d4_fingerprint" -> (d4Fingerprint _),
    "d5_dedup_exact" -> (d5DedupExact _),
    "d8_ngram_jaccard" -> (d8NgramJaccard _))

  val oracles: Map[String, String] = Map(
    "d117_sample_coverage" -> d117Sql,
    "d112_salient_terms" -> d112Sql,
    "d111_weighted_sample" -> d111Sql,
    "d105_markup_profile" -> d105Sql,
    "d102_pii_density" -> d102Sql,
    "d110_code_switch" -> d110Sql,
    "d100_decontam_plan" -> d100Sql,
    "d99_dup_quality" -> d99Sql,
    "d98_vocab_coverage" -> d98Sql,
    "d97_span_corruption_plan" -> d97Sql,
    "d88_temperature_mix" -> d88Sql,
    "d87_quality_cutoffs" -> d87Sql,
    "d86_substring_scan" -> d86Sql,
    "d85_bm25_topk" -> d85Sql,
    "d84_dict_code" -> d84Sql,
    "d83_blocklist_gate" -> d83Sql,
    "d80_crawl_churn" -> d80Sql,
    "d79_mixture_schedule" -> d79Sql,
    "d78_heavy_hitters" -> d78Sql,
    "d76_sentence_profile" -> d76Sql,
    "d75_token_concentration" -> d75Sql,
    "d74_quality_calibration" -> d74Sql,
    "d72_vocab_growth" -> d72Sql,
    "d71_boundary_stitch" -> d71Sql,
    "d68_bpe_encode" -> d68Sql,
    "d67_bpe_merges" -> d67Sql,
    "d64_boilerplate_prefixes" -> d64Sql,
    "d63_collocations" -> d63Sql,
    "d62_lexical_diversity" -> d62Sql,
    "d61_token_burstiness" -> d61Sql,
    "d59_oov_rate" -> d59Sql,
    "d48_lm_familiarity" -> d48Sql,
    "d51_ngram_novelty" -> d51Sql,
    "d49_token_budget" -> d49Sql,
    "d43_ngram_lm" -> d43Sql,
    "d18_pii_scrub" -> d18Sql,
    "d19_repetition_filter" -> d19Sql,
    "d20_contamination" -> d20Sql,
    "d21_mixture_weights" -> d21Sql,
    "d22_corpus_shuffle" -> d22Sql,
    "d11_vocab" -> d11Sql,
    "d1_text_stats" -> d1Sql,
    "d2_lang_id" -> d2Sql,
    "d53_lang_confusion" -> d53Sql,
    "d14_subword_tokens" -> d14Sql,
    "d27_tokenizer_fertility" -> d27Sql,
    "d29_dedup_summary" -> d29Sql,
    "d15_corpus_filter" -> d15Sql,
    "d16_stratified_sample" -> d16Sql,
    "d30_domain_cap" -> d30Sql,
    "d40_url_canonical" -> d40Sql,
    "d31_source_divergence" -> d31Sql,
    "d3_quality_score" -> d3Sql,
    "d4_fingerprint" -> d4Sql,
    "d5_dedup_exact" -> d5Sql,
    "d8_ngram_jaccard" -> d8Sql)
}
