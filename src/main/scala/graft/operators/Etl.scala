package graft.operators

import graft.{Cols, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The reference's ETL capability surface re-expressed as declarative
  * Spark operators (SURVEY.md §2.A), instantiated on the test star
  * schema (orders as the control table, nation/region as the source
  * registry, events as the staging object log).
  *
  * Reference semantics:
  *  - pending-work selection: collect-data.py:162-166 (status empty)
  *  - control upsert:         update-control.py:29-36 (keyed status merge)
  *  - staging→raw promotion:  process-staging.py:32-50 (y/m/d/h layout)
  *  - CDC compaction:         process-staging.py:38 (initial vs cdc loads)
  *  - city scoring:           README.md (normalize+weight+rank metrics)
  */
object Etl {
  import Cols._

  /** Control-table pending-work selection: minimal projection + a pushed
    * filter — at 100 TB the parquet scan reads 4 columns and skips
    * non-matching row groups via min/max stats. */
  def a1PendingFilter(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "O")
      .select(
        col("o_orderkey").as("id"),
        col("o_custkey").as("entity_id"),
        col("o_orderdate").as("requested_at"),
        col("o_orderpriority").as("priority"))
      .orderBy(col("id"))

  val a1Sql: String =
    """SELECT o_orderkey AS id, o_custkey AS entity_id, o_orderdate AS requested_at,
      |  o_orderpriority AS priority
      |FROM orders WHERE o_orderstatus = 'O' ORDER BY id""".stripMargin

  /** Keyed upsert (the update-control merge): base LEFT JOIN updates on
    * id, new status wins via coalesce. Updates derive from lineitem
    * (fully-shipped orders). Both sides shuffle once on the key. */
  def a2ControlMerge(spark: SparkSession, dir: String): DataFrame = {
    val updates = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(max(col("l_shipdate")).as("completed_at"))
      .filter(col("completed_at") < lit("1997-01-01"))
      .withColumn("new_status", lit("shipped"))
    Tables.orders(spark, dir)
      .join(updates, col("o_orderkey") === col("l_orderkey"), "left_outer")
      .select(
        col("o_orderkey").as("id"),
        coalesce(col("new_status"), col("o_orderstatus")).as("status"),
        col("completed_at").as("date_completed"))
      .orderBy(col("id"))
  }

  val a2Sql: String =
    """WITH updates AS (
      |  SELECT l_orderkey, 'shipped' AS new_status, max(l_shipdate) AS completed_at
      |  FROM lineitem GROUP BY l_orderkey HAVING max(l_shipdate) < TIMESTAMP '1997-01-01')
      |SELECT o_orderkey AS id,
      |  coalesce(new_status, o_orderstatus) AS status,
      |  completed_at AS date_completed
      |FROM orders LEFT JOIN updates ON o_orderkey = l_orderkey
      |ORDER BY id""".stripMargin

  /** Staging→raw promotion: derive the y/m/d/h partition columns and the
    * hive-style object key (process-staging.py's path scheme). Pure
    * map-side projection — no shuffle. */
  def a3PromotePartition(spark: SparkSession, dir: String): DataFrame = {
    val pad2 = (c: Column) => lpad(c.cast("string"), 2, "0")
    Tables.events(spark, dir)
      .select(
        col("event_id"),
        col("event_type").as("source"),
        year(col("ts")).as("y"),
        month(col("ts")).as("m"),
        dayofmonth(col("ts")).as("d"),
        hour(col("ts")).as("h"),
        concat(
          lit("raw/"), col("event_type"), lit("/"),
          year(col("ts")).cast("string"), lit("/"),
          pad2(month(col("ts"))), lit("/"),
          pad2(dayofmonth(col("ts"))), lit("/"),
          pad2(hour(col("ts"))), lit("/"),
          col("event_id").cast("string"), lit(".parquet")).as("object_key"))
      .orderBy(col("event_id"))
  }

  val a3Sql: String =
    """SELECT event_id, event_type AS source,
      |  CAST(year(ts) AS INTEGER) AS y, CAST(month(ts) AS INTEGER) AS m,
      |  CAST(day(ts) AS INTEGER) AS d, CAST(hour(ts) AS INTEGER) AS h,
      |  concat('raw/', event_type, '/', CAST(year(ts) AS VARCHAR), '/',
      |    lpad(CAST(month(ts) AS VARCHAR), 2, '0'), '/',
      |    lpad(CAST(day(ts) AS VARCHAR), 2, '0'), '/',
      |    lpad(CAST(hour(ts) AS VARCHAR), 2, '0'), '/',
      |    CAST(event_id AS VARCHAR), '.parquet') AS object_key
      |FROM events ORDER BY event_id""".stripMargin

  /** Source-registry enrichment: config lookup join (broadcast dim). */
  def a4RegistryEnrich(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select(
        col("n_nationkey").as("source_id"),
        col("n_name").as("source"),
        col("r_name").as("source_group"),
        concat(lit("https://data.example.org/"), lower(col("n_name")),
          lit("?region="), lower(col("r_name"))).as("endpoint"))
      .orderBy(col("source_id"))
  }

  val a4Sql: String =
    """SELECT n_nationkey AS source_id, n_name AS source, r_name AS source_group,
      |  concat('https://data.example.org/', lower(n_name), '?region=', lower(r_name)) AS endpoint
      |FROM nation JOIN region ON n_regionkey = r_regionkey ORDER BY source_id""".stripMargin

  /** Multi-metric scoring (the README's city scoring): per-nation
    * metrics → min-max normalize → weighted score → rank. Normalization
    * is a window over the (tiny) aggregated result, not the facts. */
  def a5CityScore(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(dec2(col("o_totalprice"))).as("s"))
    val m = Tables.customer(spark, dir)
      .join(spend, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_nationkey"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(coalesce(col("s"), lit(0).cast(DecimalType(22, 2)))).cast("double").as("total_spend"),
        sum(dec2(col("c_acctbal"))).cast("double").as("total_bal"))
    val all = Window.partitionBy()
    def norm(c: Column): Column =
      (c - min(c).over(all)) / nullif(max(c).over(all) - min(c).over(all), lit(0))
    val score = lit(0.5) * norm(col("total_spend")) +
      lit(0.3) * norm(col("n_customers").cast("double")) +
      lit(0.2) * norm(col("total_bal"))
    m.join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_nationkey"), col("n_name"), col("n_customers"), col("total_spend"),
        col("total_bal"), score.as("score"))
      .withColumn("rnk", rank().over(Window.orderBy(col("score").desc, col("n_nationkey"))))
      .orderBy(col("rnk"), col("n_nationkey"))
  }

  val a5Sql: String =
    """WITH spend AS (
      |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(12,2))) AS s
      |  FROM orders GROUP BY o_custkey),
      |m AS (
      |  SELECT c_nationkey, count(*) AS n_customers,
      |    CAST(sum(coalesce(s, CAST(0 AS DECIMAL(22,2)))) AS DOUBLE) AS total_spend,
      |    CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
      |  FROM customer LEFT JOIN spend ON c_custkey = o_custkey
      |  GROUP BY c_nationkey),
      |scored AS (
      |  SELECT n_nationkey, n_name, n_customers, total_spend, total_bal,
      |    0.5 * ((total_spend - min(total_spend) OVER ()) / nullif(max(total_spend) OVER () - min(total_spend) OVER (), 0))
      |    + 0.3 * ((CAST(n_customers AS DOUBLE) - min(CAST(n_customers AS DOUBLE)) OVER ()) / nullif(max(CAST(n_customers AS DOUBLE)) OVER () - min(CAST(n_customers AS DOUBLE)) OVER (), 0))
      |    + 0.2 * ((total_bal - min(total_bal) OVER ()) / nullif(max(total_bal) OVER () - min(total_bal) OVER (), 0)) AS score
      |  FROM m JOIN nation ON c_nationkey = n_nationkey)
      |SELECT n_nationkey, n_name, n_customers, total_spend, total_bal, score,
      |  rank() OVER (ORDER BY score DESC, n_nationkey) AS rnk
      |FROM scored ORDER BY rnk, n_nationkey""".stripMargin

  /** Per-source completion stats (the control files' status rollup). */
  def a6CompletionStats(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("total"),
        countIf(col("o_orderstatus") === "F").as("completed"),
        (countIf(col("o_orderstatus") === "F").cast("double") / count(lit(1))).as("completion_rate"),
        max(col("o_orderdate")).as("latest"))
      .orderBy(col("o_orderpriority"))

  val a6Sql: String =
    """SELECT o_orderpriority, count(*) AS total,
      |  count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS completed,
      |  CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS DOUBLE) / count(*) AS completion_rate,
      |  max(o_orderdate) AS latest
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** CDC compaction: latest record per key (initial+cdc loads collapse
    * to current state). One shuffle on the key; at scale this is the
    * standard row_number compaction that AQE skew-handles. */
  def a7CdcCompact(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"), col("value"))
      .orderBy(col("user_id"))
  }

  val a7Sql: String =
    """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value FROM events)
      |SELECT user_id, event_id, ts, event_type, value FROM (
      |  SELECT user_id, event_id, ts, event_type, value,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM e) t WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** Staging object-key log: deterministic stand-in for the reference's
    * staging bucket listing. Keys follow the reference's three layouts:
    * `manual/<file>.csv` drop-ins and
    * `source/schema/table/load/<file>.parquet` replication loads
    * (process-staging.py:32-44), plus the api collector's
    * underscore-flat `{source}_{name}_{state}_{city}_{ts}.txt` objects
    * (collect-data.py:206-210). */
  private def stagingKeys(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(
      col("event_id"), col("ts"),
      when(pmod(col("user_id"), lit(7)) === 0,
        concat(lit("manual/metrics_"), col("event_id").cast("string"), lit(".csv")))
        .when(pmod(col("user_id"), lit(7)) === 1,
          concat(col("event_type"), lit("_metrics_t"),
            pmod(col("user_id"), lit(5)).cast("string"), lit("_c"),
            pmod(col("user_id"), lit(3)).cast("string"), lit("_"),
            col("event_id").cast("string"), lit(".txt")))
        .otherwise(concat(
          col("event_type"), lit("/public/t"),
          pmod(col("user_id"), lit(5)).cast("string"), lit("/"),
          when(pmod(col("event_id"), lit(3)) === 0, lit("initial")).otherwise(lit("cdc")),
          lit("/"), col("event_id").cast("string"), lit(".parquet"))).as("object_key"))

  /** a8: staging→raw key-parsing promotion — the INVERSE of a3: parse an
    * incoming object key into (source, schema, table, load, filename),
    * classify `initial` vs `cdc`, and handle the `manual/` drop-in branch
    * (manual keys promote as manual/misc/<table>/initial —
    * process-staging.py:32-44) plus the api collector's underscore-flat
    * `{source}_{name}_{state}_{city}_{ts}.txt` objects
    * (collect-data.py:206-210: no slashes at all — classified by the
    * absence of '/', parsed on '_', promoted as source/api/<name>/
    * initial with the whole flat key as the filename). The promoted key
    * re-partitions under y/m/d/h derived from the object's event time
    * (the deterministic stand-in for the reference's wall-clock
    * datetime.today()). Pure map-side string projection — no shuffle at
    * any scale. */
  def a8KeyPromote(spark: SparkSession, dir: String): DataFrame = {
    val p = split(col("object_key"), "/")
    val f = split(col("object_key"), "_")
    val isFlat = !col("object_key").contains("/")
    val isManual = element_at(p, 1) === "manual"
    val manualFile = element_at(p, 2)
    val source = when(isFlat, element_at(f, 1)).otherwise(element_at(p, 1))
    val schema = when(isManual, lit("misc")).when(isFlat, lit("api")).otherwise(element_at(p, 2))
    val table = when(isManual, regexp_replace(manualFile, "\\.csv$", ""))
      .when(isFlat, element_at(f, 2)).otherwise(element_at(p, 3))
    val load = when(isManual || isFlat, lit("initial")).otherwise(element_at(p, 4))
    val filename = when(isManual, manualFile).when(isFlat, col("object_key"))
      .otherwise(element_at(p, 5))
    val pad2 = (c: Column) => lpad(c.cast("string"), 2, "0")
    stagingKeys(spark, dir)
      .select(
        col("event_id"), col("object_key"),
        source.as("source"), schema.as("schema_name"), table.as("table_name"),
        load.as("load_type"), filename.as("filename"),
        concat_ws("/", source, schema, table, load,
          year(col("ts")).cast("string"), pad2(month(col("ts"))),
          pad2(dayofmonth(col("ts"))), pad2(hour(col("ts"))), filename).as("promoted_key"))
      .orderBy(col("event_id"))
  }

  val a8Sql: String =
    """WITH staged AS (
      |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CASE WHEN user_id % 7 = 0
      |      THEN concat('manual/metrics_', CAST(event_id AS VARCHAR), '.csv')
      |    WHEN user_id % 7 = 1
      |      THEN concat(event_type, '_metrics_t', CAST(user_id % 5 AS VARCHAR), '_c',
      |        CAST(user_id % 3 AS VARCHAR), '_', CAST(event_id AS VARCHAR), '.txt')
      |      ELSE concat(event_type, '/public/t', CAST(user_id % 5 AS VARCHAR), '/',
      |        CASE WHEN event_id % 3 = 0 THEN 'initial' ELSE 'cdc' END, '/',
      |        CAST(event_id AS VARCHAR), '.parquet') END AS object_key
      |  FROM events),
      |parsed AS (
      |  SELECT event_id, ts, object_key, string_split(object_key, '/') AS p,
      |    string_split(object_key, '_') AS f,
      |    string_split(object_key, '/')[1] = 'manual' AS is_manual,
      |    strpos(object_key, '/') = 0 AS is_flat
      |  FROM staged),
      |fields AS (
      |  SELECT event_id, ts, object_key,
      |    CASE WHEN is_flat THEN f[1] ELSE p[1] END AS source,
      |    CASE WHEN is_manual THEN 'misc' WHEN is_flat THEN 'api' ELSE p[2] END AS schema_name,
      |    CASE WHEN is_manual THEN regexp_replace(p[2], '\.csv$', '')
      |         WHEN is_flat THEN f[2] ELSE p[3] END AS table_name,
      |    CASE WHEN is_manual OR is_flat THEN 'initial' ELSE p[4] END AS load_type,
      |    CASE WHEN is_manual THEN p[2] WHEN is_flat THEN object_key ELSE p[5] END AS filename
      |  FROM parsed)
      |SELECT event_id, object_key, source, schema_name, table_name, load_type, filename,
      |  concat_ws('/', source, schema_name, table_name, load_type,
      |    CAST(year(ts) AS VARCHAR), lpad(CAST(month(ts) AS VARCHAR), 2, '0'),
      |    lpad(CAST(day(ts) AS VARCHAR), 2, '0'), lpad(CAST(hour(ts) AS VARCHAR), 2, '0'),
      |    filename) AS promoted_key
      |FROM fields ORDER BY event_id""".stripMargin

  /** Generic keyed status writeback over ARBITRARY match columns: base
    * LEFT JOIN updates on every (base, update) key pair; a non-null
    * update status wins, everything else passes through — the merge
    * primitive behind the success path (a2), the reference's error
    * writeback (collect-data.py:178-180), and the config-driven
    * composite-key update (update-control.py:25-30 resolves WHICH
    * columns identify a control row from the registry's s3_directory
    * list — e.g. `state,city` — and a single event may update every
    * row matching that composite filter). One shuffle on the key
    * tuple; the updates side is pre-aggregated per key, so it stays
    * broadcastable whenever the key space is. */
  def statusWriteback(base: DataFrame, updates: DataFrame,
                      keys: Seq[(Column, Column)], idCol: Column,
                      baseStatus: Column, updStatus: Column,
                      updCompletedAt: Column): DataFrame =
    base.join(updates, keys.map { case (b, u) => b === u }.reduce(_ && _), "left_outer")
      .select(
        idCol.as("id"),
        coalesce(updStatus, baseStatus).as("status"),
        updCompletedAt.as("date_completed"))

  /** Single-key convenience form (the id IS the match key). */
  def statusWriteback(base: DataFrame, updates: DataFrame,
                      baseKey: Column, updKey: Column,
                      baseStatus: Column, updStatus: Column,
                      updCompletedAt: Column): DataFrame =
    statusWriteback(base, updates, Seq(baseKey -> updKey), baseKey,
      baseStatus, updStatus, updCompletedAt)

  /** a9: arbitrary-status control writeback — fully-shipped orders mark
    * `completed` with their completion ts; orders with any returned
    * lineitem mark `error` (error wins, no completion ts — the
    * reference's failure branch); untouched orders keep their status. */
  def a9ErrorWriteback(spark: SparkSession, dir: String): DataFrame = {
    val upd = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(
        max(col("l_shipdate")).as("max_ship"),
        countIf(col("l_returnflag") === "R").as("n_returned"))
      .select(
        col("l_orderkey"),
        when(col("n_returned") > 0, lit("error"))
          .when(col("max_ship") < lit("1997-01-01"), lit("completed"))
          .as("new_status"),
        when(col("n_returned") === 0 && col("max_ship") < lit("1997-01-01"), col("max_ship"))
          .as("completed_at"))
    statusWriteback(
      Tables.orders(spark, dir), upd,
      col("o_orderkey"), col("l_orderkey"),
      col("o_orderstatus"), col("new_status"), col("completed_at"))
      .orderBy(col("id"))
  }

  val a9Sql: String =
    """WITH upd AS (
      |  SELECT l_orderkey,
      |    CASE WHEN count(CASE WHEN l_returnflag = 'R' THEN 1 END) > 0 THEN 'error'
      |         WHEN max(l_shipdate) < TIMESTAMP '1997-01-01' THEN 'completed' END AS new_status,
      |    CASE WHEN count(CASE WHEN l_returnflag = 'R' THEN 1 END) = 0
      |           AND max(l_shipdate) < TIMESTAMP '1997-01-01'
      |         THEN max(l_shipdate) END AS completed_at
      |  FROM lineitem GROUP BY l_orderkey)
      |SELECT o_orderkey AS id,
      |  coalesce(new_status, o_orderstatus) AS status,
      |  completed_at AS date_completed
      |FROM orders LEFT JOIN upd ON o_orderkey = l_orderkey
      |ORDER BY id""".stripMargin

  /** a10: URL templating — expand a source's `{}` url template into
    * per-work-item URLs (the reference loads templates like
    * `https://www.city-data.com/city/{}.html` from scraper_config.csv
    * and formats them per (state, city) control row; collect-data.py
    * consumes the expanded url column). Registry side is broadcast;
    * expansion is map-side string work. */
  def a10UrlExpand(spark: SparkSession, dir: String): DataFrame = {
    val registry = Tables.region(spark, dir).select(
      col("r_regionkey"),
      concat(lit("https://data.example.org/"), lower(regexp_replace(col("r_name"), " ", "-")),
        lit("/{}.html")).as("url_template"))
    val slug = regexp_replace(lower(col("n_name")), " ", "-")
    Tables.nation(spark, dir)
      .join(broadcast(registry), col("n_regionkey") === col("r_regionkey"))
      .select(
        col("n_nationkey").as("item_id"),
        col("n_name").as("city"),
        col("url_template"),
        replace(col("url_template"), lit("{}"), slug).as("work_url"))
      .orderBy(col("item_id"))
  }

  val a10Sql: String =
    """WITH registry AS (
      |  SELECT r_regionkey,
      |    concat('https://data.example.org/', lower(replace(r_name, ' ', '-')), '/{}.html') AS url_template
      |  FROM region)
      |SELECT n_nationkey AS item_id, n_name AS city, url_template,
      |  replace(url_template, '{}', replace(lower(n_name), ' ', '-')) AS work_url
      |FROM nation JOIN registry ON n_regionkey = r_regionkey
      |ORDER BY item_id""".stripMargin

  /** a11: due-for-collection selection — the reference's per-source
    * `scrape_interval` semantics (config.json: city-data 3600 s, usa
    * 7200 s): a source is due when its last activity plus its interval
    * precedes the as-of time. Intervals derive deterministically from
    * the source name (the registry stand-in); the as-of time is the
    * corpus max ts (no wall clock — reruns are reproducible). All time
    * math in epoch micros: portable integer comparisons, no
    * engine-specific interval types. */
  def a11DueSources(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val per = e.groupBy(col("event_type").as("source"))
      .agg(max(col("ts")).as("last_ts"))
    val asof = e.agg(max(col("ts")).as("asof_ts"))
    val intervalHours = (length(col("source")) % 3 + 1)
    per.join(broadcast(asof))
      .select(
        col("source"), col("last_ts"),
        intervalHours.as("interval_hours"),
        (unix_micros(col("last_ts")) + intervalHours.cast("long") * 3600000000L <
          unix_micros(col("asof_ts"))).as("due"))
      .orderBy(col("source"))
  }

  val a11Sql: String =
    """WITH e AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |per AS (SELECT event_type AS source, max(ts) AS last_ts FROM e GROUP BY 1),
      |g AS (SELECT max(ts) AS asof_ts FROM e)
      |SELECT source, last_ts,
      |  CAST(length(source) % 3 + 1 AS INTEGER) AS interval_hours,
      |  (epoch_us(last_ts) + (length(source) % 3 + 1) * 3600000000 < epoch_us(asof_ts)) AS due
      |FROM per CROSS JOIN g ORDER BY source""".stripMargin

  /** a12: column profiling — the data-quality gate a pipeline runs
    * before promoting a load (null counts, exact distinct counts,
    * min/max ranges). ALL columns' stats come from ONE aggregation pass
    * over ONE scan (Spark expands the multi-distinct internally), then
    * the 1-row wide result is stacked into per-column rows — the
    * per-column-query formulation would scan the fact table N times. */
  def a12Profile(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val aggs = cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
        count_distinct(col(c)).as(s"${c}_distinct"),
        min(col(c)).as(s"${c}_min"),
        max(col(c)).as(s"${c}_max"))
    }
    // spread loader (guide §2.5): r16 A/B-measured win (1.81 -> 1.44)
    val wide = Tables.spread(spark, dir, "lineitem", "l_orderkey")
      .agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map(c => struct(
      lit(c).as("column_name"),
      col(s"${c}_nulls").as("n_nulls"),
      col(s"${c}_distinct").as("n_distinct"),
      col(s"${c}_min").as("min_val"),
      col(s"${c}_max").as("max_val")))
    wide.select(explode(array(stacked: _*)).as("p"))
      .select(col("p.column_name"), col("p.n_nulls"), col("p.n_distinct"),
        col("p.min_val"), col("p.max_val"))
      .orderBy(col("column_name"))
  }

  val a12Sql: String =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map { c =>
      s"""SELECT '$c' AS column_name,
         |  count(CASE WHEN $c IS NULL THEN 1 END) AS n_nulls,
         |  count(DISTINCT $c) AS n_distinct,
         |  min($c) AS min_val, max($c) AS max_val
         |FROM lineitem""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")

  /** a13: config-driven composite-key writeback — the registry names
    * WHICH columns identify a control row (update-control.py:25-30
    * resolves them from s3_directory; greatschools_control.csv keys on
    * city/state, not id), and every control row matching the composite
    * filter takes the update's status. Here the registry binds
    * orders' control rows to (custkey, priority): a (custkey,
    * priority) group whose orders are all final archives with its
    * completion date; one with stale activity marks `stale`; the rest
    * pass through. */
  def a13ConfigWriteback(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val registry = Seq(
      ("orders_ctl", "custkey, priority"),
      ("events_ctl", "user_id, event_type")).toDF("name", "s3_directory")
    val matchCols = graft.sources.SourceRegistry.matchCols(registry, "orders_ctl")
    val binding: Map[String, (Column, Column)] = Map(
      "custkey" -> (col("o_custkey"), col("u_custkey")),
      "priority" -> (col("o_orderpriority"), col("u_priority")))
    val upd = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("u_custkey"), col("o_orderpriority").as("u_priority"))
      .agg(
        countIf(col("o_orderstatus") =!= "F").as("open_cnt"),
        max(col("o_orderdate")).as("last_date"))
      .select(col("u_custkey"), col("u_priority"),
        when(col("open_cnt") === 0, lit("archived"))
          .when(col("last_date") < lit("1996-01-01"), lit("stale")).as("new_status"),
        when(col("open_cnt") === 0, col("last_date")).as("completed_at"))
    statusWriteback(
      Tables.orders(spark, dir), upd,
      matchCols.map(binding), col("o_orderkey"),
      col("o_orderstatus"), col("new_status"), col("completed_at"))
      .orderBy(col("id"))
  }

  val a13Sql: String =
    """WITH upd AS (
      |  SELECT o_custkey AS u_custkey, o_orderpriority AS u_priority,
      |    CASE WHEN count(CASE WHEN o_orderstatus <> 'F' THEN 1 END) = 0 THEN 'archived'
      |         WHEN max(o_orderdate) < TIMESTAMP '1996-01-01' THEN 'stale' END AS new_status,
      |    CASE WHEN count(CASE WHEN o_orderstatus <> 'F' THEN 1 END) = 0
      |         THEN max(o_orderdate) END AS completed_at
      |  FROM orders GROUP BY 1, 2)
      |SELECT o_orderkey AS id,
      |  coalesce(new_status, o_orderstatus) AS status,
      |  completed_at AS date_completed
      |FROM orders LEFT JOIN upd
      |  ON o_custkey = u_custkey AND o_orderpriority = u_priority
      |ORDER BY id""".stripMargin

  /** a15: staging↔control reconciliation — the audit a copy+delete
    * promotion pipeline needs: the reference moves objects with a
    * NON-ATOMIC copy-then-delete (process-staging.py:47-55), so a crash
    * between the two leaves either an orphan object in staging (copied,
    * control never updated) or a control row whose object is gone
    * (deleted early / upload lost). Full-outer join the control rows
    * (expected collections) against the staged-object listing on the
    * work-item key and classify each row ok / missing_object /
    * orphan_object — one key-partitioned join at any scale. Both sides
    * are deterministic subsets of events (control expects
    * user_id % 13 ≠ 0; staging holds event_id % 11 ≠ 0), so all three
    * statuses occur in the test data. */
  def a15ManifestReconcile(spark: SparkSession, dir: String): DataFrame = {
    val control = Tables.events(spark, dir)
      .filter(pmod(col("user_id"), lit(13)) =!= 0)
      .select(col("event_id").as("ctl_id"))
    val staged = stagingKeys(spark, dir)
      .filter(pmod(col("event_id"), lit(11)) =!= 0)
      .select(col("event_id").as("obj_id"), col("object_key"))
    control.join(staged, col("ctl_id") === col("obj_id"), "full_outer")
      .select(
        coalesce(col("ctl_id"), col("obj_id")).as("event_id"),
        col("object_key"),
        when(col("obj_id").isNull, lit("missing_object"))
          .when(col("ctl_id").isNull, lit("orphan_object"))
          .otherwise(lit("ok")).as("status"))
      .orderBy(col("event_id"))
  }

  val a15Sql: String =
    """WITH staged_keys AS (
      |  SELECT event_id,
      |    CASE WHEN user_id % 7 = 0
      |      THEN concat('manual/metrics_', CAST(event_id AS VARCHAR), '.csv')
      |    WHEN user_id % 7 = 1
      |      THEN concat(event_type, '_metrics_t', CAST(user_id % 5 AS VARCHAR), '_c',
      |        CAST(user_id % 3 AS VARCHAR), '_', CAST(event_id AS VARCHAR), '.txt')
      |      ELSE concat(event_type, '/public/t', CAST(user_id % 5 AS VARCHAR), '/',
      |        CASE WHEN event_id % 3 = 0 THEN 'initial' ELSE 'cdc' END, '/',
      |        CAST(event_id AS VARCHAR), '.parquet') END AS object_key
      |  FROM events),
      |control AS (
      |  SELECT event_id AS ctl_id FROM events WHERE user_id % 13 <> 0),
      |staged AS (
      |  SELECT event_id AS obj_id, object_key FROM staged_keys WHERE event_id % 11 <> 0)
      |SELECT coalesce(ctl_id, obj_id) AS event_id, object_key,
      |  CASE WHEN obj_id IS NULL THEN 'missing_object'
      |       WHEN ctl_id IS NULL THEN 'orphan_object'
      |       ELSE 'ok' END AS status
      |FROM control FULL OUTER JOIN staged ON ctl_id = obj_id
      |ORDER BY event_id""".stripMargin

  /** a16: packed work-item explosion — the reference's control rows
    * pack a MULTI-VALUE column (greatschools_control.csv `zips`: one
    * space-separated string of every zip in the city) that the api
    * collector consumes one value at a time (api_config.csv parameters
    * `state,zip`): deriving per-zip work items is split → explode →
    * per-unit request URL, the relational form of that fan-out. Pure
    * map-side (explode multiplies rows inside the stage, no shuffle);
    * the zip stand-ins derive deterministically from user_id with
    * disjoint ranges so in-row values never collide. */
  def a16WorkitemExplode(spark: SparkSession, dir: String): DataFrame = {
    val packed = concat_ws(" ",
      (pmod(col("user_id"), lit(89)) + 10000).cast("string"),
      (pmod(col("user_id"), lit(97)) + 20000).cast("string"),
      (pmod(col("user_id"), lit(83)) + 30000).cast("string"))
    Tables.events(spark, dir)
      .select(col("event_id"), col("event_type").as("source"), packed.as("zips"))
      .select(col("event_id"), col("source"), explode(split(col("zips"), " ")).as("zip"))
      .select(col("event_id"), col("source"), col("zip"),
        concat(lit("https://data.example.org/"), col("source"),
          lit("/schools?zip="), col("zip")).as("work_url"))
      .orderBy(col("event_id"), col("zip"))
  }

  val a16Sql: String =
    """WITH packed AS (
      |  SELECT event_id, event_type AS source,
      |    concat(CAST(user_id % 89 + 10000 AS VARCHAR), ' ',
      |      CAST(user_id % 97 + 20000 AS VARCHAR), ' ',
      |      CAST(user_id % 83 + 30000 AS VARCHAR)) AS zips
      |  FROM events),
      |units AS (
      |  SELECT event_id, source, unnest(string_split(zips, ' ')) AS zip FROM packed)
      |SELECT event_id, source, zip,
      |  concat('https://data.example.org/', source, '/schools?zip=', zip) AS work_url
      |FROM units ORDER BY event_id, zip""".stripMargin

  /** Staged page payloads: deterministic stand-in for the scraper's
    * fetched HTML (collect-data.py:66-78 stores driver.page_source per
    * work item). One synthetic page per event: elements with stable ids
    * whose contents derive from event columns; the `m2` element is
    * ABSENT on event_id % 5 = 0 pages — the real-world "element not on
    * this page" case soup.find answers with None. */
  private def stagedPages(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(
      col("event_id"), col("event_type").as("source"),
      concat(
        lit("<html><body><div id=\"hdr\">city data</div><span id=\"m0\">"),
        col("user_id").cast("string"),
        lit("</span><span id=\"m1\">"),
        col("event_type"), lit("-"), pmod(col("event_id"), lit(97)).cast("string"),
        lit("</span>"),
        when(pmod(col("event_id"), lit(5)) =!= 0,
          concat(lit("<span id=\"m2\">"), col("event_id").cast("string"), lit("</span>")))
          .otherwise(lit("")),
        lit("<div id=\"ftr\">ok</div></body></html>")).as("payload"))

  /** a14: HTML element extraction — the reference's scrape step pulls
    * ONE element by id from each fetched page (collect-data.py:80-92:
    * `soup.find(id=element_id)`, the id configured per source in
    * scraper_config.csv). Relational form: the per-source registry
    * names the element_id, staged payloads join it (broadcast — the
    * registry is dims-sized), and regexp_extract with a per-row
    * assembled pattern pulls the element text. The pattern is RE2-safe
    * (no lookaround; ids are [A-Za-z0-9_], so no metacharacter
    * escaping is needed) and `nullif(…, '')` normalizes "element not
    * found" to NULL — the soup.find-returns-None branch. Map-side work
    * after one broadcast join; no shuffle at any scale. */
  def a14HtmlExtract(spark: SparkSession, dir: String): DataFrame = {
    val registry = Tables.events(spark, dir)
      .select(col("event_type").as("source")).distinct()
      .select(col("source"),
        concat(lit("m"), pmod(length(col("source")), lit(3)).cast("string")).as("element_id"))
    stagedPages(spark, dir)
      .join(broadcast(registry), "source")
      .withColumn("content",
        nullif(expr("""regexp_extract(payload, concat('id="', element_id, '">([^<]*)'), 1)"""),
          lit("")))
      .select(col("event_id"), col("source"), col("element_id"),
        col("content"), col("content").isNotNull.as("found"))
      .orderBy(col("event_id"))
  }

  val a14Sql: String =
    """WITH pages AS (
      |  SELECT event_id, event_type AS source,
      |    concat('<html><body><div id="hdr">city data</div><span id="m0">',
      |      CAST(user_id AS VARCHAR),
      |      '</span><span id="m1">', event_type, '-', CAST(event_id % 97 AS VARCHAR), '</span>',
      |      CASE WHEN event_id % 5 <> 0
      |        THEN concat('<span id="m2">', CAST(event_id AS VARCHAR), '</span>') ELSE '' END,
      |      '<div id="ftr">ok</div></body></html>') AS payload
      |  FROM events),
      |registry AS (
      |  SELECT DISTINCT event_type AS source,
      |    concat('m', CAST(length(event_type) % 3 AS VARCHAR)) AS element_id
      |  FROM events)
      |SELECT event_id, source, element_id,
      |  nullif(regexp_extract(payload, concat('id="', element_id, '">([^<]*)'), 1), '') AS content,
      |  nullif(regexp_extract(payload, concat('id="', element_id, '">([^<]*)'), 1), '') IS NOT NULL AS found
      |FROM pages JOIN registry USING (source)
      |ORDER BY event_id""".stripMargin

  /** Retry policy from the reference's state machine
    * (stepfunction/definition.json Retry block: IntervalSeconds=30,
    * MaxAttempts=10; ErrorEquals names the RETRYABLE error classes —
    * anything else dead-letters immediately). The reference's
    * BackoffRate is 1 (constant wait); the engine implements the
    * general exponential form and a rate of 2 exercises it here: wait
    * stays integer-exact as interval << (attempt-1) — never a double
    * pow. */
  val RetryIntervalSec = 30L
  val RetryMaxAttempts = 10

  /** a17: retry scheduling — the Step Function's Retry semantics as a
    * relational operator over the control table. Failed work items
    * (a9's error rule: any returned line; the failure time is the last
    * returned shipment) classify into error kinds; kinds named by the
    * policy's ErrorEquals are retryable, others dead-letter at once.
    * Retryable items below MaxAttempts get next_due = failed_at +
    * interval·2^(attempt−1), all in epoch-micros integer math (a11
    * idiom — portable, no engine interval types); at or beyond the cap
    * they dead-letter. Attempt counts derive deterministically from the
    * item key (the control schema stores none). One fact reduce, then
    * map-side classification — nothing shuffles after the groupBy. */
  def a17RetrySchedule(spark: SparkSession, dir: String): DataFrame = {
    val failed = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(
        countIf(col("l_returnflag") === "R").as("n_returned"),
        max(when(col("l_returnflag") === "R", col("l_shipdate"))).as("failed_at"))
      .filter(col("n_returned") > 0)
      .select(col("l_orderkey").as("item_id"), col("failed_at"))
    val errorKind = when(pmod(col("item_id"), lit(3)) === 0, lit("states_timeout"))
      .when(pmod(col("item_id"), lit(3)) === 1, lit("lambda_unknown"))
      .otherwise(lit("access_denied"))
    failed
      .withColumn("attempt", (pmod(col("item_id"), lit(12)) + 1).cast("int"))
      .withColumn("error_kind", errorKind)
      .withColumn("retryable", col("error_kind").isin("states_timeout", "lambda_unknown"))
      .withColumn("wait_seconds",
        when(col("retryable") && col("attempt") < RetryMaxAttempts,
          expr(s"shiftleft(CAST($RetryIntervalSec AS BIGINT), attempt - 1)")))
      .withColumn("next_due",
        timestamp_micros(unix_micros(col("failed_at").cast("timestamp")) +
          col("wait_seconds") * 1000000L))
      .withColumn("action",
        when(col("wait_seconds").isNotNull, lit("retry_scheduled")).otherwise(lit("dead_letter")))
      .select(col("item_id"), col("error_kind"), col("attempt"), col("retryable"),
        col("wait_seconds"), col("next_due"), col("action"))
      .orderBy(col("item_id"))
  }

  val a17Sql: String =
    s"""WITH failed AS (
       |  SELECT l_orderkey AS item_id,
       |    max(CASE WHEN l_returnflag = 'R' THEN l_shipdate END) AS failed_at
       |  FROM lineitem GROUP BY l_orderkey
       |  HAVING count(CASE WHEN l_returnflag = 'R' THEN 1 END) > 0),
       |cls AS (
       |  SELECT item_id, failed_at,
       |    CAST(item_id % 12 + 1 AS INTEGER) AS attempt,
       |    CASE WHEN item_id % 3 = 0 THEN 'states_timeout'
       |         WHEN item_id % 3 = 1 THEN 'lambda_unknown'
       |         ELSE 'access_denied' END AS error_kind
       |  FROM failed),
       |sched AS (
       |  SELECT *,
       |    error_kind IN ('states_timeout', 'lambda_unknown') AS retryable,
       |    CASE WHEN error_kind IN ('states_timeout', 'lambda_unknown')
       |           AND attempt < $RetryMaxAttempts
       |      THEN $RetryIntervalSec * (CAST(1 AS BIGINT) << (attempt - 1)) END AS wait_seconds
       |  FROM cls)
       |SELECT item_id, error_kind, attempt, retryable, wait_seconds,
       |  make_timestamp(epoch_us(failed_at) + wait_seconds * 1000000) AS next_due,
       |  CASE WHEN wait_seconds IS NOT NULL THEN 'retry_scheduled'
       |       ELSE 'dead_letter' END AS action
       |FROM sched ORDER BY item_id""".stripMargin

  /** Incremental-load horizon for a18 (hours before the corpus as-of). */
  val IncrementalHorizonHours = 72L

  /** a18: incremental-partition selection — which hive partitions
    * (source/y/m/d/h, a3's layout) an incremental promotion/compaction
    * run must re-process: exactly those with activity after the
    * watermark (as-of − horizon). The watermark derives from the data
    * (corpus max ts — reproducible, a11's rule), so the plan reduces
    * the fact table to per-partition stats FIRST and takes the global
    * max as an unpartitioned window over that reduced frame — one
    * scan, no 1-row broadcast join, and the partition list is what
    * PartitionedSink's dynamic overwrite consumes for idempotent
    * re-runs. Epoch-micros integer comparison at the boundary. */
  def a18IncrementalPartitions(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(
        col("event_type").as("source"),
        year(col("ts")).as("y"), month(col("ts")).as("m"),
        dayofmonth(col("ts")).as("d"), hour(col("ts")).as("h"))
      .agg(count(lit(1)).as("n_events"), max(col("ts")).as("last_ts"))
      .withColumn("asof_ts", max(col("last_ts")).over(Window.partitionBy()))
      .filter(unix_micros(col("last_ts")) >
        unix_micros(col("asof_ts")) - IncrementalHorizonHours * 3600000000L)
      .select(col("source"), col("y"), col("m"), col("d"), col("h"),
        col("n_events"), col("last_ts"))
      .orderBy(col("source"), col("y"), col("m"), col("d"), col("h"))

  val a18Sql: String =
    s"""WITH per AS (
       |  SELECT event_type AS source,
       |    CAST(year(CAST(ts AS TIMESTAMP)) AS INTEGER) AS y,
       |    CAST(month(CAST(ts AS TIMESTAMP)) AS INTEGER) AS m,
       |    CAST(day(CAST(ts AS TIMESTAMP)) AS INTEGER) AS d,
       |    CAST(hour(CAST(ts AS TIMESTAMP)) AS INTEGER) AS h,
       |    count(*) AS n_events, max(CAST(ts AS TIMESTAMP)) AS last_ts
       |  FROM events GROUP BY 1, 2, 3, 4, 5),
       |w AS (SELECT *, max(last_ts) OVER () AS asof_ts FROM per)
       |SELECT source, y, m, d, h, n_events, last_ts
       |FROM w
       |WHERE epoch_us(last_ts) > epoch_us(asof_ts) - $IncrementalHorizonHours * 3600000000
       |ORDER BY source, y, m, d, h""".stripMargin

  /** Lease horizon for a19 (hours a claimed item may run before it is
    * presumed dead and reclaimed). */
  val LeaseHours = 48L

  /** a19: stale-lease reclamation — the control-table lifecycle piece
    * between a1 (claim pending) and a2/a9 (write back results): a
    * worker that claimed an item and died leaves it stuck
    * "in progress" forever unless a reaper resets it. Claimed items =
    * orders still open ('O' stands in for claimed) whose LAST activity
    * (latest shipment — the worker's heartbeat) is older than the
    * lease horizon at the data-derived as-of (a11's reproducibility
    * rule: corpus max, no wall clock). Output is the writeback frame:
    * expired leases → status 'pending' + incremented retry generation
    * (a17's attempt derivation), live leases pass through. One fact
    * reduce + one keyed join; epoch-micros integer comparison. */
  def a19LeaseReclaim(spark: SparkSession, dir: String): DataFrame = {
    val lastBeat = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(max(col("l_shipdate")).as("last_beat"))
    val asof = max(unix_micros(col("last_beat").cast("timestamp"))).over(Window.partitionBy())
    Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "O")
      .join(lastBeat, col("o_orderkey") === col("l_orderkey"), "left_outer")
      .withColumn("asof_us", asof)
      .select(
        col("o_orderkey").as("item_id"),
        col("last_beat"),
        (col("last_beat").isNull ||
          unix_micros(col("last_beat").cast("timestamp")) <
            col("asof_us") - LeaseHours * 3600000000L).as("expired"))
      .withColumn("new_status",
        when(col("expired"), lit("pending")).otherwise(lit("in_progress")))
      .withColumn("retry_generation",
        when(col("expired"), (pmod(col("item_id"), lit(12)) + 1).cast("int") + 1)
          .otherwise((pmod(col("item_id"), lit(12)) + 1).cast("int")))
      .select(col("item_id"), col("last_beat"), col("expired"),
        col("new_status"), col("retry_generation"))
      .orderBy(col("item_id"))
  }

  val a19Sql: String =
    s"""WITH beat AS (
       |  SELECT l_orderkey, max(l_shipdate) AS last_beat
       |  FROM lineitem GROUP BY l_orderkey),
       |j AS (
       |  SELECT o_orderkey AS item_id, last_beat
       |  FROM orders LEFT JOIN beat ON o_orderkey = l_orderkey
       |  WHERE o_orderstatus = 'O'),
       |w AS (
       |  SELECT *, max(epoch_us(CAST(last_beat AS TIMESTAMP))) OVER () AS asof_us FROM j),
       |f AS (
       |  SELECT item_id, last_beat,
       |    (last_beat IS NULL OR epoch_us(CAST(last_beat AS TIMESTAMP))
       |      < asof_us - $LeaseHours * 3600000000) AS expired
       |  FROM w)
       |SELECT item_id, last_beat, expired,
       |  CASE WHEN expired THEN 'pending' ELSE 'in_progress' END AS new_status,
       |  CAST(CASE WHEN expired THEN item_id % 12 + 2
       |            ELSE item_id % 12 + 1 END AS INTEGER) AS retry_generation
       |FROM f ORDER BY item_id""".stripMargin

  /** Columns a20 profiles for drift. */
  private val DriftCols = Seq("o_custkey", "o_orderpriority", "o_orderstatus", "o_totalprice")

  /** a20: schema/profile drift between two loads — the regression gate
    * a pipeline runs when a NEW batch arrives: compare each column's
    * profile (a12's null/distinct/range stats) between the previous
    * load and the incoming one and flag drift. Loads are the
    * deterministic even/odd o_orderdate-year split (load A = even
    * years, B = odd). ONE scan: both loads' stats come from a single
    * conditional-aggregation pass (never one scan per load), stacked to
    * per-column rows like a12. Flags are exact: `range_widened` = B
    * observed values outside A's [min, max] (typed comparison before
    * stacking — no lossy casts); `drifted` = distinct-count change
    * beyond 20%, tested as 5·|Δ| > distinct_A in pure integers.
    *
    * Price adjudication (slowest bench query, ~3 s at sf0.1, both
    * passes): 8 exact count_distinct aggregates in one Aggregate make
    * Catalyst plan an Expand (factor 9) over the scan. That is still
    * the right 100 TB shape — ONE pass over the fact table, and the
    * partial aggregate dedups each (gid, value) map-side, so the
    * post-expand shuffle carries per-column distinct VALUES, not rows.
    * The alternatives are worse at scale: one aggregation per column
    * = 4 full scans; approx_count_distinct (q17's HLL path) is the
    * escape hatch when the gate can tolerate ±1% — exactness is the
    * point of a regression gate, so a20 keeps the exact form. */
  def a20SchemaDrift(spark: SparkSession, dir: String): DataFrame = {
    val loadA = year(col("o_orderdate")) % 2 === 0
    val aggs = DriftCols.flatMap { c =>
      def side(name: String, cond: Column) = Seq(
        sum(when(cond && col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls_$name"),
        count_distinct(when(cond, col(c))).as(s"${c}_distinct_$name"),
        min(when(cond, col(c))).as(s"${c}_min_$name"),
        max(when(cond, col(c))).as(s"${c}_max_$name"))
      side("a", loadA) ++ side("b", !loadA)
    }
    // spread loader (guide §2.5): the 8 exact count_distincts plan an
    // Expand ×9 whose partial aggregation otherwise runs inside the
    // single-split scan task (measured r16: one 2.8 s one-task stage;
    // 4.9 s → 1.2 s with the scan spread to session parallelism)
    val wide = Tables.spread(spark, dir, "orders", "o_orderkey")
      .agg(aggs.head, aggs.tail: _*)
    val stacked = DriftCols.map { c =>
      struct(
        lit(c).as("column_name"),
        col(s"${c}_nulls_a").as("n_nulls_a"),
        col(s"${c}_nulls_b").as("n_nulls_b"),
        col(s"${c}_distinct_a").as("n_distinct_a"),
        col(s"${c}_distinct_b").as("n_distinct_b"),
        (col(s"${c}_min_b") < col(s"${c}_min_a") ||
          col(s"${c}_max_b") > col(s"${c}_max_a")).as("range_widened"),
        (abs(col(s"${c}_distinct_b") - col(s"${c}_distinct_a")) * 5 >
          col(s"${c}_distinct_a")).as("drifted"))
    }
    wide.select(explode(array(stacked: _*)).as("p"))
      .select(col("p.*"))
      .orderBy(col("column_name"))
  }

  val a20Sql: String =
    DriftCols.map { c =>
      s"""SELECT '$c' AS column_name,
         |  count(CASE WHEN year(o_orderdate) % 2 = 0 AND $c IS NULL THEN 1 END) AS n_nulls_a,
         |  count(CASE WHEN year(o_orderdate) % 2 = 1 AND $c IS NULL THEN 1 END) AS n_nulls_b,
         |  count(DISTINCT CASE WHEN year(o_orderdate) % 2 = 0 THEN $c END) AS n_distinct_a,
         |  count(DISTINCT CASE WHEN year(o_orderdate) % 2 = 1 THEN $c END) AS n_distinct_b,
         |  min(CASE WHEN year(o_orderdate) % 2 = 1 THEN $c END)
         |    < min(CASE WHEN year(o_orderdate) % 2 = 0 THEN $c END)
         |  OR max(CASE WHEN year(o_orderdate) % 2 = 1 THEN $c END)
         |    > max(CASE WHEN year(o_orderdate) % 2 = 0 THEN $c END) AS range_widened,
         |  abs(count(DISTINCT CASE WHEN year(o_orderdate) % 2 = 1 THEN $c END)
         |    - count(DISTINCT CASE WHEN year(o_orderdate) % 2 = 0 THEN $c END)) * 5
         |    > count(DISTINCT CASE WHEN year(o_orderdate) % 2 = 0 THEN $c END) AS drifted
         |FROM orders""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")

  /** Relative standard deviation for a27's HLL distinct sketches. */
  val DriftSketchRsd = 0.02

  /** a27: the HLL sketch twin of a20 (r6 verdict #4) — the SAME drift
    * report with `approx_count_distinct` in place of the 8 exact
    * `count_distinct`s. Why it exists: a20's exact form plans an
    * Expand ×9 over the scan (the suite's cost ceiling, ~3 s at
    * sf0.1); at 100 TB, 8 exact distincts per load audit is the wrong
    * default when the gate can tolerate ±2%. Here there are NO
    * distinct aggregates, so Catalyst plans a single plain
    * conditional-aggregation pass — no Expand at all — and the partial
    * HLL sketches merge map-side like any other aggregate. Null
    * counts and min/max (and thus `range_widened`) stay exact — only
    * the distinct counts and the `drifted` flag derived from them are
    * approximate. a20 remains the oracled exact gate; this entry is
    * rows-only by design (sketch values are engine-specific, like
    * q17/q22) and its agreement with a20 is spec-asserted within rsd
    * bounds. */
  def a27DriftSketch(spark: SparkSession, dir: String): DataFrame = {
    val loadA = year(col("o_orderdate")) % 2 === 0
    val aggs = DriftCols.flatMap { c =>
      def side(name: String, cond: Column) = Seq(
        sum(when(cond && col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls_$name"),
        approx_count_distinct(when(cond, col(c)), DriftSketchRsd)
          .as(s"${c}_distinct_$name"),
        min(when(cond, col(c))).as(s"${c}_min_$name"),
        max(when(cond, col(c))).as(s"${c}_max_$name"))
      side("a", loadA) ++ side("b", !loadA)
    }
    val wide = Tables.orders(spark, dir).agg(aggs.head, aggs.tail: _*)
    val stacked = DriftCols.map { c =>
      struct(
        lit(c).as("column_name"),
        col(s"${c}_nulls_a").as("n_nulls_a"),
        col(s"${c}_nulls_b").as("n_nulls_b"),
        col(s"${c}_distinct_a").as("n_distinct_a"),
        col(s"${c}_distinct_b").as("n_distinct_b"),
        (col(s"${c}_min_b") < col(s"${c}_min_a") ||
          col(s"${c}_max_b") > col(s"${c}_max_a")).as("range_widened"),
        (abs(col(s"${c}_distinct_b") - col(s"${c}_distinct_a")) * 5 >
          col(s"${c}_distinct_a")).as("drifted"))
    }
    wide.select(explode(array(stacked: _*)).as("p"))
      .select(col("p.*"))
      .orderBy(col("column_name"))
  }

  /** a21: snapshot diff — the CDC audit between two compacted loads of
    * a keyed table (what actually changed between yesterday's and
    * today's a7 output): full outer join on the key, classified into
    * insert (key new in B) / delete (key gone in B) / update (key in
    * both, tracked column changed); unchanged rows are dropped so the
    * output is the diff, not the table. Snapshots derive
    * deterministically from orders (the a7/a20 idiom): A omits keys
    * ≡ 5 (mod 13) — B's inserts; B omits keys ≡ 3 (mod 11) — B's
    * deletes; B flags status on keys ≡ 2 (mod 7) — the updates.
    *
    * Shape: one key-partitioned sort-merge full outer join (both sides
    * shuffle on the key once); at scale this is the standard
    * snapshot-reconciliation plan — no broadcast assumption (both
    * snapshots are fact-sized), AQE skew-handles hot keys. */
  def a21SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    def snap(df: DataFrame) = df.select(
      col("o_orderkey").as("key"), col("o_orderstatus").as("status"))
    val base = Tables.orders(spark, dir)
    val snapA = snap(base.filter(pmod(col("o_orderkey"), lit(13)) =!= 5))
    val snapB = snap(base.filter(pmod(col("o_orderkey"), lit(11)) =!= 3))
      .withColumn("status",
        when(pmod(col("key"), lit(7)) === 2, concat(col("status"), lit("*")))
          .otherwise(col("status")))
    snapA.as("a").join(snapB.as("b"), col("a.key") === col("b.key"), "full_outer")
      .select(
        coalesce(col("a.key"), col("b.key")).as("key"),
        when(col("a.key").isNull, lit("insert"))
          .when(col("b.key").isNull, lit("delete"))
          .when(col("a.status") =!= col("b.status"), lit("update"))
          .otherwise(lit("unchanged")).as("change_type"),
        col("a.status").as("old_status"), col("b.status").as("new_status"))
      .filter(col("change_type") =!= "unchanged")
      .orderBy(col("key"))
  }

  val a21Sql: String =
    """WITH a AS (
      |  SELECT o_orderkey AS key, o_orderstatus AS status
      |  FROM orders WHERE o_orderkey % 13 <> 5),
      |b AS (
      |  SELECT o_orderkey AS key,
      |    CASE WHEN o_orderkey % 7 = 2 THEN o_orderstatus || '*' ELSE o_orderstatus END AS status
      |  FROM orders WHERE o_orderkey % 11 <> 3),
      |d AS (
      |  SELECT coalesce(a.key, b.key) AS key,
      |    CASE WHEN a.key IS NULL THEN 'insert'
      |         WHEN b.key IS NULL THEN 'delete'
      |         WHEN a.status <> b.status THEN 'update'
      |         ELSE 'unchanged' END AS change_type,
      |    a.status AS old_status, b.status AS new_status
      |  FROM a FULL OUTER JOIN b ON a.key = b.key)
      |SELECT key, change_type, old_status, new_status
      |FROM d WHERE change_type <> 'unchanged' ORDER BY key""".stripMargin

  /** a22: partition-size skew report over the a3-derived (year, month)
    * layout — the profile an ETL operator reads before deciding to salt
    * or re-bucket a write (and the first question when a job's last
    * task runs 10× longer than the rest). Per partition: rows, an
    * estimated byte size (variable-width columns measured, fixed-width
    * costed at 24 B/row), share in basis points, and a skew flag.
    * All-integer: share = rows·10⁴ div total; skewed = rows·n_parts >
    * 2·total (cross-multiplied 2×-mean test, no division). ONE scan +
    * one exchange for the (y, m) aggregate; the totals come from
    * unpartitioned windows over the ALREADY-AGGREGATED ~84-row frame
    * (the adjudicated q11 idiom — never a second fact scan). */
  /** a23: declarative data-quality rule evaluation (the Deequ/dbt-test
    * capability class): a rule set over the control table — not-null,
    * value-range, date-range, and referential integrity — evaluated to
    * per-rule violation counts + pass flags in ONE result. ALL four
    * rules share a single fact scan: the FK rule rides the same pass
    * as a row-preserving LEFT join against the dim key column
    * (c_custkey is the dim's primary key, so the join can't fan out),
    * folded into the same conditional aggregate — one scan, one 1-row
    * aggregate, vs. the naive second fact scan for the anti-join. The
    * key column carries NO broadcast hint: billions of customer keys
    * are tens of GB, so AQE broadcasts at test SF and shuffles at
    * scale. Counts are exact integers; stacking to rows is an explode
    * over a 4-element literal array. */
  def a23QualityRules(spark: SparkSession, dir: String): DataFrame = {
    val custKeys = Tables.customer(spark, dir).select(col("c_custkey"))
    Tables.orders(spark, dir)
      .join(custKeys, col("o_custkey") === col("c_custkey"), "left")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("v_null"),
        sum(when(dec2(col("o_totalprice")) <= 0, 1L).otherwise(0L)).as("v_price"),
        sum(when(col("o_orderdate") < lit("1992-01-01").cast("timestamp") ||
          col("o_orderdate") >= lit("1999-01-01").cast("timestamp"), 1L).otherwise(0L))
          .as("v_date"),
        sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("v_fk"))
      .select(explode(array(
        struct(lit("custkey_fk_exists").as("rule_name"), col("v_fk").as("n_violations")),
        struct(lit("custkey_not_null").as("rule_name"), col("v_null").as("n_violations")),
        struct(lit("orderdate_in_range").as("rule_name"), col("v_date").as("n_violations")),
        struct(lit("totalprice_positive").as("rule_name"), col("v_price").as("n_violations"))))
        .as("r"), col("n_rows"))
      .select(col("r.rule_name"), col("r.n_violations"), col("n_rows"),
        (col("r.n_violations") === 0L).as("passed"))
      .orderBy(col("rule_name"))
  }

  /** a26: TTL retention sweep planner — the partition-level expiry plan
    * a lakehouse retention job executes over the a3 layout: an hour
    * unit whose NEWEST row predates the TTL horizon (data-derived
    * max ts − 72 h, the a11/a18 as-of idiom) is fully expired; a day
    * partition then classifies `drop` when every hour is expired (a
    * pure metadata delete — the cheap case a planner must separate),
    * `rewrite` when mixed (row-level expiry inside a partition IS the
    * rewrite case — priced honestly, never a hidden second scan), and
    * `keep` when untouched. One fact scan, one hour-grain agg
    * exchange; the horizon is an unpartitioned window over the
    * ALREADY-REDUCED ~720-row frame, then day classification. */
  def a26RetentionPlan(spark: SparkSession, dir: String): DataFrame = {
    val hours = Tables.events(spark, dir)
      .groupBy(year(col("ts")).as("y"), month(col("ts")).as("m"),
        dayofmonth(col("ts")).as("d"), hour(col("ts")).as("h"))
      .agg(count(lit(1)).as("n_rows"), max(col("ts")).as("unit_max"))
    val cutoff = max(col("unit_max")).over(Window.partitionBy()) -
      expr("INTERVAL 72 HOURS")
    hours.withColumn("expired", col("unit_max") < cutoff)
      .groupBy(col("y"), col("m"), col("d"))
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(when(col("expired"), col("n_rows")).otherwise(0L)).as("n_expired_rows"),
        count(lit(1)).as("n_hours"),
        sum(when(col("expired"), 1L).otherwise(0L)).as("n_expired_hours"))
      .withColumn("action",
        when(col("n_expired_hours") === col("n_hours"), lit("drop"))
          .when(col("n_expired_hours") > 0, lit("rewrite"))
          .otherwise(lit("keep")))
      .orderBy(col("y"), col("m"), col("d"))
  }

  val a26Sql: String =
    """WITH e AS (
      |  SELECT year(CAST(ts AS TIMESTAMP)) AS y, month(CAST(ts AS TIMESTAMP)) AS m,
      |    day(CAST(ts AS TIMESTAMP)) AS d, hour(CAST(ts AS TIMESTAMP)) AS h,
      |    CAST(ts AS TIMESTAMP) AS ts
      |  FROM events),
      |units AS (
      |  SELECT y, m, d, h, count(*) AS n_rows, max(ts) AS unit_max
      |  FROM e GROUP BY 1, 2, 3, 4),
      |flagged AS (
      |  SELECT *, unit_max < max(unit_max) OVER () - INTERVAL 72 HOUR AS expired
      |  FROM units),
      |days AS (
      |  SELECT y, m, d, CAST(sum(n_rows) AS BIGINT) AS n_rows,
      |    CAST(sum(CASE WHEN expired THEN n_rows ELSE 0 END) AS BIGINT) AS n_expired_rows,
      |    count(*) AS n_hours,
      |    CAST(sum(CASE WHEN expired THEN 1 ELSE 0 END) AS BIGINT) AS n_expired_hours
      |  FROM flagged GROUP BY 1, 2, 3)
      |SELECT y, m, d, n_rows, n_expired_rows, n_hours, n_expired_hours,
      |  CASE WHEN n_expired_hours = n_hours THEN 'drop'
      |       WHEN n_expired_hours > 0 THEN 'rewrite'
      |       ELSE 'keep' END AS action
      |FROM days ORDER BY y, m, d""".stripMargin

  /** a25: small-file compaction planner — the metadata-side fix for the
    * small-files problem a copy-per-object promotion pipeline (the
    * reference's layout, process-staging.py) creates: per partition
    * dir, greedily pack files in deterministic file-id order into
    * target-size compaction bins (start-offset fill, the e2/d24 cumsum
    * idiom at the MANIFEST grain — the plan only ever shuffles manifest
    * rows, never data bytes, so it prices by file COUNT at 100 TB).
    * File sizes are a deterministic integer hash of the file id (a
    * stand-in for a real listing's size column — swap the column, the
    * plan is unchanged). Output: per (y, m, bin) file count, byte sum,
    * and integer-basis-point fill vs the target — the exec plan a
    * rewrite job consumes directly. */
  def a25CompactionPlan(spark: SparkSession, dir: String): DataFrame = {
    val target = 4L * 1024 * 1024
    val files = Tables.events(spark, dir).select(
      year(col("ts")).as("y"), month(col("ts")).as("m"),
      col("event_id").as("file_id"),
      // id pre-reduced before the multiply (a28 discipline): the raw
      // product overflows int64 for ids >= ~3.5e9
      (pmod(pmod(col("event_id"), lit(1048576L)) * lit(2654435761L % 1048576L),
        lit(1048576L)) + lit(1024L)).as("bytes"))
    val w = Window.partitionBy(col("y"), col("m")).orderBy(col("file_id"))
    files.withColumn("cum", sum(col("bytes")).over(w))
      .withColumn("bin_id", expr(s"(cum - bytes) div ${target}L"))
      .groupBy(col("y"), col("m"), col("bin_id"))
      .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("bin_bytes"))
      .select(col("y"), col("m"), col("bin_id"), col("n_files"), col("bin_bytes"),
        expr(s"(bin_bytes * 10000) div ${target}L").as("fill_bp"))
      .orderBy(col("y"), col("m"), col("bin_id"))
  }

  val a25Sql: String =
    """WITH f AS (
      |  SELECT year(CAST(ts AS TIMESTAMP)) AS y, month(CAST(ts AS TIMESTAMP)) AS m,
      |    event_id AS file_id,
      |    ((event_id % 1048576) * (2654435761 % 1048576)) % 1048576 + 1024 AS bytes
      |  FROM events),
      |c AS (
      |  SELECT y, m, bytes,
      |    sum(bytes) OVER (PARTITION BY y, m ORDER BY file_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM f),
      |b AS (
      |  SELECT y, m, CAST((cum - bytes) // 4194304 AS BIGINT) AS bin_id,
      |    count(*) AS n_files, CAST(sum(bytes) AS BIGINT) AS bin_bytes
      |  FROM c GROUP BY 1, 2, 3)
      |SELECT y, m, bin_id, n_files, bin_bytes,
      |  (bin_bytes * 10000) // 4194304 AS fill_bp
      |FROM b ORDER BY y, m, bin_id""".stripMargin

  /** Interleave bit width for a30's Z-value (both keys ≤ 11 bits). */
  val ZBits = 11

  /** a30: Z-order clustering planner — the CONTENT-key layout pass a25
    * deliberately does not do (r7 verdict gap #3): a25 packs files by
    * size in id order; this plans packing in MORTON (Z-curve) order of
    * the query keys, which is what makes multi-key predicate pruning
    * cheap on a lakehouse (Delta/Iceberg OPTIMIZE ZORDER BY semantics
    * — both engines' z-ordering interleaves key bits exactly like
    * this). Keys here: the user bucket (user_id mod 1024, 10 bits) and
    * minute-of-day (11 bits) — a point lookup on either key then
    * touches O(√files) instead of all of them (the Z-curve's range
    * guarantee). The Z-value interleaves [[ZBits]] bits of each key
    * (key-a bits at even positions), is integer-exact and
    * SQL-portable, and the packer is a25's start-offset cumsum at the
    * MANIFEST grain in (z, file_id) order. Output per (partition,
    * file): entry count, bytes, the Z-range, and both per-key ranges —
    * what a rewrite job and a file-pruning scan planner consume.
    *
    * At 100 TB: only manifest rows shuffle (one (y, m)-partitioned
    * window sort in z order); data bytes never move in the PLAN. The
    * spec proves per-partition Z-range DISJOINTNESS across output
    * files (boundary ties excepted) — the property pruning relies
    * on. */
  def a30ClusterPlan(spark: SparkSession, dir: String): DataFrame = {
    val target = 4L * 1024 * 1024
    def bit(c: Column, i: Int): Column = shiftright(c, i).bitwiseAND(lit(1L))
    val ka = pmod(col("user_id"), lit(1024L))
    val kb = (hour(col("ts")) * 60 + minute(col("ts"))).cast("long")
    val z = (0 until ZBits).foldLeft(lit(0L)) { (acc, i) =>
      acc + shiftleft(bit(ka, i), 2 * i) + shiftleft(bit(kb, i), 2 * i + 1)
    }
    val manifest = Tables.events(spark, dir).select(
      year(col("ts")).as("y"), month(col("ts")).as("m"),
      col("event_id").as("file_id"),
      (pmod(pmod(col("event_id"), lit(1048576L)) * lit(2654435761L % 1048576L),
        lit(1048576L)) + lit(1024L)).as("bytes"),
      ka.as("ka"), kb.as("kb"), z.as("zval"))
    val w = Window.partitionBy(col("y"), col("m")).orderBy(col("zval"), col("file_id"))
    manifest.withColumn("cum", sum(col("bytes")).over(w))
      .withColumn("bin_id", expr(s"(cum - bytes) div ${target}L"))
      .groupBy(col("y"), col("m"), col("bin_id"))
      .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("bin_bytes"),
        min(col("zval")).as("z_min"), max(col("zval")).as("z_max"),
        min(col("ka")).as("ka_min"), max(col("ka")).as("ka_max"),
        min(col("kb")).as("kb_min"), max(col("kb")).as("kb_max"))
      .orderBy(col("y"), col("m"), col("bin_id"))
  }

  val a30Sql: String = {
    val zExpr = (0 until ZBits)
      .map(i => s"(((ka >> $i) & 1) << ${2 * i}) + (((kb >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")
    s"""WITH k AS (
       |  SELECT year(CAST(ts AS TIMESTAMP)) AS y, month(CAST(ts AS TIMESTAMP)) AS m,
       |    event_id AS file_id,
       |    ((event_id % 1048576) * (2654435761 % 1048576)) % 1048576 + 1024 AS bytes,
       |    user_id % 1024 AS ka,
       |    hour(CAST(ts AS TIMESTAMP)) * 60 + minute(CAST(ts AS TIMESTAMP)) AS kb
       |  FROM events),
       |f AS (SELECT *, $zExpr AS zval FROM k),
       |c AS (
       |  SELECT y, m, bytes, ka, kb, zval,
       |    sum(bytes) OVER (PARTITION BY y, m ORDER BY zval, file_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM f)
       |SELECT y, m, CAST((cum - bytes) // 4194304 AS BIGINT) AS bin_id,
       |  count(*) AS n_files, CAST(sum(bytes) AS BIGINT) AS bin_bytes,
       |  CAST(min(zval) AS BIGINT) AS z_min, CAST(max(zval) AS BIGINT) AS z_max,
       |  CAST(min(ka) AS BIGINT) AS ka_min, CAST(max(ka) AS BIGINT) AS ka_max,
       |  CAST(min(kb) AS BIGINT) AS kb_min, CAST(max(kb) AS BIGINT) AS kb_max
       |FROM c GROUP BY y, m, bin_id
       |ORDER BY y, m, bin_id""".stripMargin
  }

  /** Deterministic user-bucket probe points for a31 (spread across the
    * 1024-bucket key space, off the bin boundaries). */
  val ZoneProbes: Seq[Long] = (0 until 8).map(i => i * 32L + 7L)

  /** a31: zone-map pruning audit — the MEASUREMENT closing a30's layout
    * story (Delta/Iceberg file skipping: a scan planner prunes a file
    * when the predicate value falls outside the file's min/max zone
    * map; clustering only pays off if those ranges are actually
    * narrow). For each deterministic point-lookup probe on the user
    * bucket, count the bins a planner must touch — and the bytes behind
    * them — under BOTH layouts: a30's Z-order packing and a25's naive
    * id-order packing, same file manifest, same bin target. The output
    * is the before/after card that justifies (or rejects) a layout
    * rewrite; the spec asserts the Z layout never touches more bins
    * than the naive one in aggregate.
    *
    * Scale shape: the manifest frame builds once (one scan, row-local
    * keys), each layout is one (y, m)-partitioned window sort at
    * MANIFEST grain, zone maps reduce to the ≤ #bins frame, and the
    * 8-row probe set cross-joins (broadcast) against that reduced frame
    * only — data bytes never move, probes never see the corpus. */
  /** Per-bin (ka_min, ka_max, bytes) zone maps for BOTH layouts (a30's
    * Z-order packing, tag "z", and a25's id-order packing, tag "id") —
    * the shared reduced frame behind a31's probe audit and a33's
    * overlap-depth card. Manifest grain throughout. */
  private[graft] def layoutZones(spark: SparkSession, dir: String): DataFrame = {
    val target = 4L * 1024 * 1024
    def bit(c: Column, i: Int): Column = shiftright(c, i).bitwiseAND(lit(1L))
    val ka = pmod(col("user_id"), lit(1024L))
    val kb = (hour(col("ts")) * 60 + minute(col("ts"))).cast("long")
    val z = (0 until ZBits).foldLeft(lit(0L)) { (acc, i) =>
      acc + shiftleft(bit(ka, i), 2 * i) + shiftleft(bit(kb, i), 2 * i + 1)
    }
    val manifest = Tables.events(spark, dir).select(
      year(col("ts")).as("y"), month(col("ts")).as("m"),
      col("event_id").as("file_id"),
      (pmod(pmod(col("event_id"), lit(1048576L)) * lit(2654435761L % 1048576L),
        lit(1048576L)) + lit(1024L)).as("bytes"),
      ka.as("ka"), z.as("zval"))
    def zoneMaps(order: Seq[Column], tag: String): DataFrame = {
      val w = Window.partitionBy(col("y"), col("m")).orderBy(order: _*)
      manifest.withColumn("cum", sum(col("bytes")).over(w))
        .withColumn("bin_id", expr(s"(cum - bytes) div ${target}L"))
        .groupBy(col("y"), col("m"), col("bin_id"))
        .agg(min(col("ka")).as("ka_min"), max(col("ka")).as("ka_max"),
          sum(col("bytes")).as("bin_bytes"))
        .withColumn("layout", lit(tag))
    }
    zoneMaps(Seq(col("zval"), col("file_id")), "z")
      .unionByName(zoneMaps(Seq(col("file_id")), "id"))
  }

  def a31ZoneMapAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zones = layoutZones(spark, dir)
    val hit = col("probe_ka").between(col("ka_min"), col("ka_max"))
    zones.crossJoin(broadcast(ZoneProbes.toDF("probe_ka")))
      .groupBy(col("probe_ka"))
      .agg(
        sum(when(col("layout") === "z", 1L).otherwise(0L)).as("n_bins_z"),
        sum(when(col("layout") === "id", 1L).otherwise(0L)).as("n_bins_id"),
        sum(when(col("layout") === "z" && hit, 1L).otherwise(0L)).as("n_hit_z"),
        sum(when(col("layout") === "id" && hit, 1L).otherwise(0L)).as("n_hit_id"),
        sum(when(col("layout") === "z" && hit, col("bin_bytes")).otherwise(0L)).as("bytes_hit_z"),
        sum(when(col("layout") === "id" && hit, col("bin_bytes")).otherwise(0L)).as("bytes_hit_id"))
      .orderBy(col("probe_ka"))
  }

  val a31Sql: String = {
    val zExpr = (0 until ZBits)
      .map(i => s"(((ka >> $i) & 1) << ${2 * i}) + (((kb >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")
    val probeList = ZoneProbes.mkString("[", ", ", "]")
    s"""WITH k AS (
       |  SELECT year(CAST(ts AS TIMESTAMP)) AS y, month(CAST(ts AS TIMESTAMP)) AS m,
       |    event_id AS file_id,
       |    ((event_id % 1048576) * (2654435761 % 1048576)) % 1048576 + 1024 AS bytes,
       |    user_id % 1024 AS ka,
       |    hour(CAST(ts AS TIMESTAMP)) * 60 + minute(CAST(ts AS TIMESTAMP)) AS kb
       |  FROM events),
       |f AS (SELECT *, $zExpr AS zval FROM k),
       |cz AS (
       |  SELECT y, m, ka, bytes,
       |    sum(bytes) OVER (PARTITION BY y, m ORDER BY zval, file_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM f),
       |zz AS (
       |  SELECT 'z' AS layout, y, m, CAST((cum - bytes) // 4194304 AS BIGINT) AS bin_id,
       |    min(ka) AS ka_min, max(ka) AS ka_max, CAST(sum(bytes) AS BIGINT) AS bin_bytes
       |  FROM cz GROUP BY 2, 3, 4),
       |ci AS (
       |  SELECT y, m, ka, bytes,
       |    sum(bytes) OVER (PARTITION BY y, m ORDER BY file_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM f),
       |zi AS (
       |  SELECT 'id' AS layout, y, m, CAST((cum - bytes) // 4194304 AS BIGINT) AS bin_id,
       |    min(ka) AS ka_min, max(ka) AS ka_max, CAST(sum(bytes) AS BIGINT) AS bin_bytes
       |  FROM ci GROUP BY 2, 3, 4),
       |zones AS (SELECT * FROM zz UNION ALL SELECT * FROM zi),
       |probes AS (SELECT unnest($probeList) AS probe_ka),
       |j AS (SELECT * FROM zones CROSS JOIN probes)
       |SELECT probe_ka,
       |  CAST(sum(CASE WHEN layout = 'z' THEN 1 ELSE 0 END) AS BIGINT) AS n_bins_z,
       |  CAST(sum(CASE WHEN layout = 'id' THEN 1 ELSE 0 END) AS BIGINT) AS n_bins_id,
       |  CAST(sum(CASE WHEN layout = 'z' AND probe_ka BETWEEN ka_min AND ka_max THEN 1 ELSE 0 END) AS BIGINT) AS n_hit_z,
       |  CAST(sum(CASE WHEN layout = 'id' AND probe_ka BETWEEN ka_min AND ka_max THEN 1 ELSE 0 END) AS BIGINT) AS n_hit_id,
       |  CAST(sum(CASE WHEN layout = 'z' AND probe_ka BETWEEN ka_min AND ka_max THEN bin_bytes ELSE 0 END) AS BIGINT) AS bytes_hit_z,
       |  CAST(sum(CASE WHEN layout = 'id' AND probe_ka BETWEEN ka_min AND ka_max THEN bin_bytes ELSE 0 END) AS BIGINT) AS bytes_hit_id
       |FROM j GROUP BY probe_ka ORDER BY probe_ka""".stripMargin
  }

  /** a24: SCD Type-2 dimension build from the change log — the history
    * the reference's latest-wins compaction (a7) throws away, kept as
    * validity intervals: per entity, consecutive identical states are
    * collapsed (a record only opens a version when the tracked
    * attribute actually changes), then each version gets
    * [valid_from, valid_to) from its own ts and its successor's, a
    * 1-based version number, and an is_current flag on the open
    * interval. Both windows (the change-compression lag and the
    * interval lead / version number) use the SAME (user_id; ts,
    * event_id) partition+order, and the intervening filter preserves
    * partitioning and order — ONE exchange + one sort total for the
    * whole build. Ties on ts break by event_id, so versions are
    * deterministic. */
  def a24Scd2Build(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .select(col("user_id"), row_number().over(w).as("version"),
        col("event_type"), col("ts").as("valid_from"),
        lead(col("ts"), 1).over(w).as("valid_to"),
        lead(col("ts"), 1).over(w).isNull.as("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  val a24Sql: String =
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type FROM events),
      |ch AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |  FROM e),
      |f AS (SELECT * FROM ch WHERE prev_type IS NULL OR prev_type <> event_type)
      |SELECT user_id, CAST(row_number() OVER w AS INT) AS version, event_type,
      |  ts AS valid_from, lead(ts) OVER w AS valid_to,
      |  lead(ts) OVER w IS NULL AS is_current
      |FROM f WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, version""".stripMargin

  val a23Sql: String =
    """WITH s AS (
      |  SELECT count(*) AS n_rows,
      |    count(CASE WHEN o_custkey IS NULL THEN 1 END) AS v_null,
      |    count(CASE WHEN CAST(o_totalprice AS DECIMAL(12,2)) <= 0 THEN 1 END) AS v_price,
      |    count(CASE WHEN o_orderdate < TIMESTAMP '1992-01-01'
      |               OR o_orderdate >= TIMESTAMP '1999-01-01' THEN 1 END) AS v_date
      |  FROM orders),
      |fk AS (
      |  SELECT count(*) AS v_fk
      |  FROM orders LEFT JOIN customer ON o_custkey = c_custkey
      |  WHERE c_custkey IS NULL),
      |stacked AS (
      |  SELECT 'custkey_fk_exists' AS rule_name, v_fk AS n_violations, n_rows FROM s CROSS JOIN fk
      |  UNION ALL SELECT 'custkey_not_null', v_null, n_rows FROM s
      |  UNION ALL SELECT 'orderdate_in_range', v_date, n_rows FROM s
      |  UNION ALL SELECT 'totalprice_positive', v_price, n_rows FROM s)
      |SELECT rule_name, n_violations, n_rows, n_violations = 0 AS passed
      |FROM stacked ORDER BY rule_name""".stripMargin

  def a22PartitionSkew(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy()
    Tables.orders(spark, dir)
      .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("n_rows"),
        sum(length(col("o_orderpriority")) + length(col("o_orderstatus")) + lit(24))
          .cast("long").as("est_bytes"))
      .withColumn("total_rows", sum(col("n_rows")).over(w))
      .withColumn("n_parts", count(lit(1)).over(w))
      .select(col("y"), col("m"), col("n_rows"), col("est_bytes"),
        expr("(n_rows * 10000) div total_rows").as("share_bp"),
        (col("n_rows") * col("n_parts") > col("total_rows") * 2).as("skewed"))
      .orderBy(col("y"), col("m"))
  }

  val a22Sql: String =
    """WITH p AS (
      |  SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
      |    count(*) AS n_rows,
      |    CAST(sum(length(o_orderpriority) + length(o_orderstatus) + 24) AS BIGINT) AS est_bytes
      |  FROM orders GROUP BY 1, 2),
      |t AS (
      |  SELECT *, CAST(sum(n_rows) OVER () AS BIGINT) AS total_rows,
      |    count(*) OVER () AS n_parts
      |  FROM p)
      |SELECT y, m, n_rows, est_bytes,
      |  (n_rows * 10000) // total_rows AS share_bp,
      |  n_rows * n_parts > 2 * total_rows AS skewed
      |FROM t ORDER BY y, m""".stripMargin

  /** a28: late-data audit — the watermark-sizing report a streaming or
    * incremental-batch pipeline needs before choosing its lateness
    * tolerance (the reference's hourly Step Function schedule implies
    * exactly this question: how much of an hour's data hasn't arrived
    * when the hour closes). Arrival lag is the deterministic synthetic
    * delay ((event_id mod 7200)·(2654435761 mod 7200)) mod 7200 seconds
    * — the id pre-reduced before the multiply so the product never
    * overflows int64 (0..2 h; stands in
    * for a real ingest log's load_ts − event_ts). Per event day:
    * volume, count/share beyond the 1 h watermark (exact basis
    * points), the max lag, and the exact discrete p95 lag via the
    * crossing pattern (c18/q46): lags reduce FIRST to (day, lag_sec)
    * counts, the quantile walks the reduced frame — never a
    * row_number over fact rows.
    *
    * Shape: one scan → (day, lag) reduce (map-side combined; lag
    * cardinality ≤ 7200 per day) → per-day windows over the reduced
    * frame → per-day reduce. */
  def a28LateDataAudit(spark: SparkSession, dir: String): DataFrame = {
    // id pre-reduced before the multiply (the VectorOps centroid-hash
    // discipline): (a·k) mod m ≡ ((a mod m)·(k mod m)) mod m, and the
    // raw product overflows int64 for ids ≥ ~3.5e9 — Spark would wrap
    // silently while the DuckDB oracle errors, so neither engine may
    // ever form it
    val byVal = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day"),
        pmod(pmod(col("event_id"), lit(7200L)) * lit(2654435761L % 7200L),
          lit(7200L)).as("lag_sec"))
      .groupBy(col("day"), col("lag_sec")).agg(count(lit(1)).as("n"))
    val wCum = Window.partitionBy(col("day")).orderBy(col("lag_sec"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("day"))
    byVal
      .withColumn("cum", sum(col("n")).over(wCum))
      .withColumn("total", sum(col("n")).over(wAll))
      .groupBy(col("day"))
      .agg(
        max(col("total")).as("n_events"),
        sum(when(col("lag_sec") > 3600L, col("n")).otherwise(0L)).as("n_late"),
        max(col("lag_sec")).as("max_lag_sec"),
        min(when(col("cum") * 20 >= col("total") * 19, col("lag_sec"))).as("p95_lag_sec"))
      .select(col("day"), col("n_events"), col("n_late"),
        expr("(n_late * 10000) div n_events").as("late_bp"),
        col("max_lag_sec"), col("p95_lag_sec"))
      .orderBy(col("day"))
  }

  val a28Sql: String =
    """WITH e AS (
      |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    ((event_id % 7200) * (2654435761 % 7200)) % 7200 AS lag_sec
      |  FROM events),
      |v AS (SELECT day, lag_sec, count(*) AS n FROM e GROUP BY 1, 2),
      |r AS (
      |  SELECT *,
      |    CAST(sum(n) OVER (PARTITION BY day ORDER BY lag_sec
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
      |    CAST(sum(n) OVER (PARTITION BY day) AS BIGINT) AS total
      |  FROM v),
      |a AS (
      |  SELECT day, max(total) AS n_events,
      |    CAST(sum(CASE WHEN lag_sec > 3600 THEN n ELSE 0 END) AS BIGINT) AS n_late,
      |    max(lag_sec) AS max_lag_sec,
      |    min(CASE WHEN cum * 20 >= total * 19 THEN lag_sec END) AS p95_lag_sec
      |  FROM r GROUP BY day)
      |SELECT day, n_events, n_late,
      |  (n_late * 10000) // n_events AS late_bp,
      |  max_lag_sec, p95_lag_sec
      |FROM a ORDER BY day""".stripMargin

  /** a29: control-table status lifecycle report — the operational
    * dashboard over the reference's control table (the counts an
    * on-call reads before anything else: how much work is pending,
    * done, stuck): per order year, the status breakdown with exact
    * bp completion share and a year-over-year completion delta (lag
    * over the ≤ |years| reduced frame). ONE conditional-aggregation
    * scan — never one scan per status (the a20 adjudication). */
  def a29StatusReport(spark: SparkSession, dir: String): DataFrame = {
    val byYear = Tables.orders(spark, dir)
      .groupBy(year(col("o_orderdate")).as("y"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("n_open"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_done"),
        sum(when(col("o_orderstatus") === "P", 1L).otherwise(0L)).as("n_partial"))
      .withColumn("done_bp", expr("(n_done * 10000) div n_total"))
    val w = Window.partitionBy().orderBy(col("y"))
    byYear
      .withColumn("done_bp_delta", col("done_bp") - lag(col("done_bp"), 1).over(w))
      .orderBy(col("y"))
  }

  val a29Sql: String =
    """WITH b AS (
      |  SELECT year(o_orderdate) AS y, count(*) AS n_total,
      |    CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
      |    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_done,
      |    CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_partial
      |  FROM orders GROUP BY 1),
      |d AS (SELECT *, (n_done * 10000) // n_total AS done_bp FROM b)
      |SELECT y, n_total, n_open, n_done, n_partial, done_bp,
      |  done_bp - lag(done_bp) OVER (ORDER BY y) AS done_bp_delta
      |FROM d ORDER BY y""".stripMargin

  /** a32: hourly backfill plan — the gap detector that closes the a18
    * incremental story: a18 selects the partitions that ARRIVED
    * recently; nothing yet finds the hours that never arrived at all (an
    * upstream outage leaves silent holes a recency rule can't see).
    * Per source: each maximal run of missing hours inside the source's
    * own observed [min, max] hour span, as a backfill work item
    * (run start/end/length) — the frame an orchestrator feeds straight
    * into per-hour re-collection jobs, ordered oldest-first per source.
    *
    * Shape: the (source, hour) reduce derives twice (two map-side-
    * reduced pruned scans — spine bounds and the anti-join side); the spine
    * is sequence(min,max) per source — TIME-bounded, not data-bounded
    * (a year is 8 760 rows/source at the manifest grain, regardless of
    * corpus bytes); missing = spine anti-join observed; runs form via
    * the gaps-and-islands constant `hour − row_number()` (the c20
    * idiom) with per-source windows over the bounded missing frame.
    * Engine-portable: integer epoch-hours only, no calendar functions. */
  def a32BackfillPlan(spark: SparkSession, dir: String): DataFrame = {
    val observed = Tables.events(spark, dir)
      .select(col("event_type").as("source"),
        expr("unix_micros(ts) div 3600000000").as("hour_idx"))
      .groupBy(col("source"), col("hour_idx"))
      .agg(count(lit(1)).as("cnt"))
    val spine = observed.groupBy(col("source"))
      .agg(min(col("hour_idx")).as("mn"), max(col("hour_idx")).as("mx"))
      .select(col("source"), explode(sequence(col("mn"), col("mx"))).as("hour_idx"))
    val missing = spine.join(observed.select(col("source"), col("hour_idx")),
      Seq("source", "hour_idx"), "left_anti")
    val w = Window.partitionBy(col("source")).orderBy(col("hour_idx"))
    missing
      .withColumn("island", col("hour_idx") - row_number().over(w))
      .groupBy(col("source"), col("island"))
      .agg(min(col("hour_idx")).as("gap_start_hour"),
        max(col("hour_idx")).as("gap_end_hour"),
        count(lit(1)).as("n_missing_hours"))
      .select(col("source"), col("gap_start_hour"), col("gap_end_hour"),
        col("n_missing_hours"))
      .orderBy(col("source"), col("gap_start_hour"))
  }

  val a32Sql: String =
    """WITH obs AS (
      |  SELECT event_type AS source,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hour_idx
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT source, min(hour_idx) AS mn, max(hour_idx) AS mx FROM obs GROUP BY 1),
      |spine AS (
      |  SELECT source, unnest(range(mn, mx + 1)) AS hour_idx FROM span),
      |missing AS (
      |  SELECT s.source, s.hour_idx FROM spine s
      |  ANTI JOIN obs o ON o.source = s.source AND o.hour_idx = s.hour_idx),
      |isl AS (
      |  SELECT source, hour_idx,
      |    hour_idx - row_number() OVER (PARTITION BY source ORDER BY hour_idx) AS island
      |  FROM missing)
      |SELECT source, min(hour_idx) AS gap_start_hour, max(hour_idx) AS gap_end_hour,
      |  count(*) AS n_missing_hours
      |FROM isl GROUP BY source, island
      |ORDER BY source, gap_start_hour""".stripMargin

  /** a33: key-range overlap-depth card — the CLUSTERING-QUALITY metric
    * behind a31's probe samples (Iceberg/Delta read amplification: when
    * bin key ranges overlap, every point lookup pays every overlapping
    * bin; a31 measures 8 sample probes, this measures the layout
    * itself). Per (layout, partition): bin count, total overlapping
    * bin PAIRS, and the maximum stacking depth of the ka key space.
    *
    * Shape: the pair count is exact WITHOUT an interval self-join
    * (quadratic in bins at 100 TB): each bin emits (+1 at ka_min,
    * −1 at ka_max+1) sweep events — c19's idiom at the zone-map
    * grain — and every bin contributes (active-at-its-start − 1)
    * pairs; ends sort before starts at equal positions (delta asc) so
    * touching-only-at-a-point counts as the shared-point overlap it
    * is. Ties among equal (pos, delta) rows permute cum values within
    * the run, so the per-partition SUM and MAX are deterministic even
    * though per-row attribution is not. Windows run over the reduced
    * zone frame only. */
  def a33OverlapDepth(spark: SparkSession, dir: String): DataFrame = {
    val ev = layoutZones(spark, dir)
      .select(col("layout"), col("y"), col("m"),
        explode(array(
          struct(col("ka_min").as("pos"), lit(1L).as("delta")),
          struct((col("ka_max") + 1L).as("pos"), lit(-1L).as("delta")))).as("e"))
      .select(col("layout"), col("y"), col("m"),
        col("e.pos").as("pos"), col("e.delta").as("delta"))
    val w = Window.partitionBy(col("layout"), col("y"), col("m"))
      .orderBy(col("pos"), col("delta"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("active", sum(col("delta")).over(w))
      .filter(col("delta") === 1)
      .groupBy(col("layout"), col("y"), col("m"))
      .agg(count(lit(1)).as("n_bins"),
        sum(col("active") - 1).as("overlap_pairs"),
        max(col("active")).as("max_depth"))
      .orderBy(col("layout"), col("y"), col("m"))
  }

  val a33Sql: String = {
    val zExpr = (0 until ZBits)
      .map(i => s"(((ka >> $i) & 1) << ${2 * i}) + (((kb >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")
    s"""WITH k AS (
       |  SELECT year(CAST(ts AS TIMESTAMP)) AS y, month(CAST(ts AS TIMESTAMP)) AS m,
       |    event_id AS file_id,
       |    ((event_id % 1048576) * (2654435761 % 1048576)) % 1048576 + 1024 AS bytes,
       |    user_id % 1024 AS ka,
       |    hour(CAST(ts AS TIMESTAMP)) * 60 + minute(CAST(ts AS TIMESTAMP)) AS kb
       |  FROM events),
       |f AS (SELECT *, $zExpr AS zval FROM k),
       |cz AS (
       |  SELECT y, m, ka, bytes,
       |    sum(bytes) OVER (PARTITION BY y, m ORDER BY zval, file_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM f),
       |zz AS (
       |  SELECT 'z' AS layout, y, m, CAST((cum - bytes) // 4194304 AS BIGINT) AS bin_id,
       |    min(ka) AS ka_min, max(ka) AS ka_max
       |  FROM cz GROUP BY 2, 3, 4),
       |ci AS (
       |  SELECT y, m, ka, bytes,
       |    sum(bytes) OVER (PARTITION BY y, m ORDER BY file_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM f),
       |zi AS (
       |  SELECT 'id' AS layout, y, m, CAST((cum - bytes) // 4194304 AS BIGINT) AS bin_id,
       |    min(ka) AS ka_min, max(ka) AS ka_max
       |  FROM ci GROUP BY 2, 3, 4),
       |zones AS (SELECT * FROM zz UNION ALL SELECT * FROM zi),
       |ev AS (
       |  SELECT layout, y, m, ka_min AS pos, CAST(1 AS BIGINT) AS delta FROM zones
       |  UNION ALL
       |  SELECT layout, y, m, ka_max + 1 AS pos, CAST(-1 AS BIGINT) AS delta FROM zones),
       |sw AS (
       |  SELECT *, sum(delta) OVER (PARTITION BY layout, y, m
       |    ORDER BY pos, delta ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS active
       |  FROM ev)
       |SELECT layout, y, m, count(*) AS n_bins,
       |  CAST(sum(active - 1) AS BIGINT) AS overlap_pairs,
       |  CAST(max(active) AS BIGINT) AS max_depth
       |FROM sw WHERE delta = 1
       |GROUP BY layout, y, m
       |ORDER BY layout, y, m""".stripMargin
  }

  /** a34: point-in-time dimension lookup against the a24 SCD2 build —
    * the TEMPORAL join a versioned warehouse runs constantly ("which
    * state was this entity in WHEN the fact happened"; a7's compaction
    * answers only "now", c3's as-of joins two event streams — this
    * probes validity INTERVALS). Probes are data-derived (per user,
    * the midpoint of observed history — integer-micros midpoint, the
    * a11 as-of idiom); the answer is the version whose
    * [valid_from, valid_to) contains the probe.
    *
    * Shape — ONE scan, ONE user exchange (the c3 discipline taken one
    * step further): the probe midpoint rides the SAME user partition
    * as the a24 change-compression windows (unordered min/max window
    * shares the ordered windows' exchange and sort), and the
    * containing version is a per-user `max(struct(valid_from,
    * version, state))` over changes at-or-before the probe — interval
    * containment as an AGGREGATE, never a per-probe range join and
    * never a second scan to build the probe set. Same-ts version
    * pairs resolve to the higher version, exactly the empty-interval
    * [t,t) semantics of the BETWEEN-join form the oracle uses.
    * Probes can't precede version 1 by construction (midpoint ≥
    * first event). */
  def a34PitLookup(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wU = Window.partitionBy(col("user_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(wOrd))
      .withColumn("mn_us", unix_micros(min(col("ts")).over(wU)))
      .withColumn("mx_us", unix_micros(max(col("ts")).over(wU)))
      .withColumn("probe_ts", timestamp_micros(expr("(mn_us + mx_us) div 2")))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .withColumn("version", row_number().over(wOrd))
      .groupBy(col("user_id"))
      .agg(
        max(col("probe_ts")).as("probe_ts"),
        max(when(col("ts") <= col("probe_ts"),
          struct(col("ts").as("valid_from"), col("version"), col("event_type")))).as("cur"))
      .select(col("user_id"), col("probe_ts"),
        col("cur.version").as("version"), col("cur.event_type").as("state"),
        col("cur.valid_from").as("valid_from"))
      .orderBy(col("user_id"))
  }

  val a34Sql: String =
    s"""WITH pr AS (
       |  SELECT user_id,
       |    make_timestamp((epoch_us(min(ts)) + epoch_us(max(ts))) // 2) AS probe_ts
       |  FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events)
       |  GROUP BY user_id)
       |SELECT p.user_id, p.probe_ts, s.version, s.event_type AS state, s.valid_from
       |FROM pr p LEFT JOIN ($a24Sql) s
       |  ON p.user_id = s.user_id AND p.probe_ts >= s.valid_from
       |     AND (s.valid_to IS NULL OR p.probe_ts < s.valid_to)
       |ORDER BY p.user_id""".stripMargin

  /** a35: functional-dependency / candidate-key audit — the DISCOVERY
    * half of the Deequ-class profiling story (a12 profiles columns,
    * a23 evaluates DECLARED rules; this finds the structure: which
    * columns key the table, which determine which). FD A→B holds iff
    * |distinct A| = |distinct (A,B)|; a key is the FD to the row id.
    * Output: one row per audited dependency with both distinct counts
    * and the verdict — the input to primary-key inference, join-key
    * validation and denormalization checks on an undocumented table.
    *
    * Shape: ONE orders scan; all six exact distincts ride one
    * aggregate (an Expand ×6 — the a20 adjudication: exact-distinct
    * Expand IS the oracled gate, and the 100 TB swap is
    * approx_count_distinct per the a27 twin pattern, which turns the
    * verdict into "holds within sketch error"); the audited-pair list
    * stacks via the a23 literal-array explode. All audited columns
    * are non-null in this schema — count(DISTINCT a, b) drops
    * any-null rows in BOTH engines, so the null caveat is documented
    * rather than papered over. */
  def a35FdAudit(spark: SparkSession, dir: String): DataFrame = {
    val agg = Tables.orders(spark, dir).agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("o_orderkey")).as("d_ok"),
      countDistinct(col("o_orderkey"), col("o_custkey")).as("d_ok_ck"),
      countDistinct(col("o_custkey")).as("d_ck"),
      countDistinct(col("o_custkey"), col("o_orderpriority")).as("d_ck_pr"),
      countDistinct(col("o_orderpriority")).as("d_pr"),
      countDistinct(col("o_orderpriority"), col("o_orderstatus")).as("d_pr_st"))
    agg.select(explode(array(
        struct(lit("orderkey_is_key").as("check_name"), lit("o_orderkey").as("lhs"),
          lit("<row>").as("rhs"), col("d_ok").as("n_lhs"), col("n_rows").as("n_pairs")),
        struct(lit("orderkey_det_custkey").as("check_name"), lit("o_orderkey").as("lhs"),
          lit("o_custkey").as("rhs"), col("d_ok").as("n_lhs"), col("d_ok_ck").as("n_pairs")),
        struct(lit("custkey_det_priority").as("check_name"), lit("o_custkey").as("lhs"),
          lit("o_orderpriority").as("rhs"), col("d_ck").as("n_lhs"), col("d_ck_pr").as("n_pairs")),
        struct(lit("priority_det_status").as("check_name"), lit("o_orderpriority").as("lhs"),
          lit("o_orderstatus").as("rhs"), col("d_pr").as("n_lhs"), col("d_pr_st").as("n_pairs"))
      )).as("c"))
      .select(col("c.check_name"), col("c.lhs"), col("c.rhs"),
        col("c.n_lhs"), col("c.n_pairs"),
        (col("c.n_lhs") === col("c.n_pairs")).as("holds"))
      .orderBy(col("check_name"))
  }

  val a35Sql: String =
    """WITH a AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |    CAST(count(DISTINCT o_orderkey) AS BIGINT) AS d_ok,
      |    CAST(count(DISTINCT (o_orderkey, o_custkey)) AS BIGINT) AS d_ok_ck,
      |    CAST(count(DISTINCT o_custkey) AS BIGINT) AS d_ck,
      |    CAST(count(DISTINCT (o_custkey, o_orderpriority)) AS BIGINT) AS d_ck_pr,
      |    CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS d_pr,
      |    CAST(count(DISTINCT (o_orderpriority, o_orderstatus)) AS BIGINT) AS d_pr_st
      |  FROM orders),
      |s AS (
      |  SELECT 'orderkey_is_key' AS check_name, 'o_orderkey' AS lhs, '<row>' AS rhs,
      |    d_ok AS n_lhs, n_rows AS n_pairs FROM a
      |  UNION ALL SELECT 'orderkey_det_custkey', 'o_orderkey', 'o_custkey', d_ok, d_ok_ck FROM a
      |  UNION ALL SELECT 'custkey_det_priority', 'o_custkey', 'o_orderpriority', d_ck, d_ck_pr FROM a
      |  UNION ALL SELECT 'priority_det_status', 'o_orderpriority', 'o_orderstatus', d_pr, d_pr_st FROM a)
      |SELECT check_name, lhs, rhs, n_lhs, n_pairs, n_lhs = n_pairs AS holds
      |FROM s ORDER BY check_name""".stripMargin

  /** a36: incremental aggregate maintenance — the MERGE of a
    * materialized per-key aggregate state with a new delta batch,
    * recomputing NOTHING (the mergeable-monoid discipline Profiles
    * proves component-level, here as an oracled query — and the
    * economics that make a 100 TB daily pipeline affordable: the base
    * state is |keys|-sized, only the delta is corpus-priced). Base =
    * orders before the data-derived watermark (max day − 30, the
    * a11/a18 as-of idiom), delta = at-or-after; each side reduces to a
    * per-customer (count, DECIMAL sum, min/max day) state and the
    * states merge: counts/sums add, mins/maxes fold (least/greatest
    * skip nulls in both engines), src labels the provenance. The oracle
    * recomputes the same facts from scratch in an independent
    * formulation (two subqueries + FULL OUTER JOIN) — so the gate IS
    * the merge ≡ recompute theorem, per key, bit for bit. In
    * production the base state is a |keys|-sized materialized frame
    * and the merge is Sinks.mergeByKey's keyed join; here both sides
    * derive from the same fact table, so they share ONE conditional-
    * aggregation scan (the a20 adjudication — never a scan per side)
    * and the merge algebra runs in the projection.
    *
    * Shape: one corpus scan + one key-partitioned agg exchange; the
    * watermark scalar is a 1-row broadcast (q27 idiom). */
  def a36IncrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    val withDay = Tables.orders(spark, dir).select(col("o_custkey"),
      // o_orderdate ships TIMESTAMP_NTZ; under the pinned-UTC session the
      // LTZ cast is a pure reinterpretation (Tables.events discipline)
      expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000").as("day"),
      dec2(col("o_totalprice")).as("p"))
    val wm = withDay.agg(max(col("day")).as("mxd"))
    val base = !col("is_delta")
    withDay.crossJoin(broadcast(wm))
      .withColumn("is_delta", col("day") >= col("mxd") - 30)
      .groupBy(col("o_custkey"))
      .agg(
        countIf(base).as("bn"), countIf(col("is_delta")).as("dn"),
        sum(when(base, col("p"))).as("bs"), sum(when(col("is_delta"), col("p"))).as("ds"),
        min(when(base, col("day"))).as("bf"), min(when(col("is_delta"), col("day"))).as("df"),
        max(when(base, col("day"))).as("bl"), max(when(col("is_delta"), col("day"))).as("dl"))
      .select(
        col("o_custkey"),
        when(col("bn") === 0, lit("delta_only"))
          .when(col("dn") === 0, lit("base_only"))
          .otherwise(lit("both")).as("src"),
        (col("bn") + col("dn")).as("n_orders"),
        ((coalesce(col("bs"), lit(0)) + coalesce(col("ds"), lit(0))) * 100)
          .cast("long").as("total_cents"),
        least(col("bf"), col("df")).as("first_day"),
        greatest(col("bl"), col("dl")).as("last_day"))
      .orderBy(col("o_custkey"))
  }

  val a36Sql: String =
    """WITH d AS (
      |  SELECT o_custkey, epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000 AS day,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS p
      |  FROM orders),
      |mx AS (SELECT max(day) AS mxd FROM d),
      |t AS (SELECT o_custkey, day, p, day >= mxd - 30 AS is_delta FROM d, mx),
      |b AS (
      |  SELECT o_custkey AS bk, count(*) AS bn, sum(p) AS bs, min(day) AS bf, max(day) AS bl
      |  FROM t WHERE NOT is_delta GROUP BY 1),
      |dl AS (
      |  SELECT o_custkey AS dk, count(*) AS dn, sum(p) AS ds, min(day) AS df, max(day) AS dlx
      |  FROM t WHERE is_delta GROUP BY 1)
      |SELECT coalesce(bk, dk) AS o_custkey,
      |  CASE WHEN bk IS NULL THEN 'delta_only'
      |       WHEN dk IS NULL THEN 'base_only' ELSE 'both' END AS src,
      |  coalesce(bn, 0) + coalesce(dn, 0) AS n_orders,
      |  CAST((coalesce(bs, 0) + coalesce(ds, 0)) * 100 AS BIGINT) AS total_cents,
      |  least(bf, df) AS first_day,
      |  greatest(bl, dlx) AS last_day
      |FROM b FULL OUTER JOIN dl ON bk = dk
      |ORDER BY o_custkey""".stripMargin

  /** a37 synthetic erasure-request rule: every 97th customer key. A
    * deterministic stand-in for the deletion-request TABLE a real
    * pipeline joins; 97 is coprime to every id stride in the testdata
    * (the e9 modulus lesson), so requests spread across partitions. */
  val ErasureMod = 97

  /** a37 policy knob: erased density (basis points) up to which a
    * partition takes the deletion-vector path; at or above it, the
    * partition is worth a physical rewrite (merge-on-read read
    * amplification + compliance purge policy). */
  val DvMaxBp = 100L

  /** Priced bytes per DV entry (file-name dictionary share + 8-byte
    * position — CommitLogTableFormat's sidecar row). */
  val DvEntryBytes = 16L

  /** a37: right-to-be-forgotten erasure plan — the GDPR/CCPA executor's
    * input (the lakehouse op a26's TTL sweep doesn't cover: deletes
    * keyed by USER, not by age, so they land mid-partition): per (y, m)
    * partition of the a3 layout — total rows, affected rows (exact bp),
    * affected distinct requesters, and a THREE-WAY decision matching
    * what [[graft.sources.CommitLogTableFormat]] can actually execute:
    * untouched partitions are metadata-only `keep`; lightly affected
    * ones (< [[DvMaxBp]]) take the `dv` path — `CommitLogTableFormat
    * .erase` publishes a deletion-vector sidecar, cost O(erased rows ×
    * [[DvEntryBytes]]), zero data-file IO; densely affected ones price
    * a `rewrite` at bytes ≈ surviving rows × est row width (a22's
    * sizing discipline — merge-on-read amplification makes dense DVs a
    * poor steady state, and a compliance purge wants the bytes gone).
    *
    * Shape: the request predicate is row-local here (a real request
    * table is an ids-only broadcast or a key-partitioned semi-join —
    * both documented), so the WHOLE plan is one conditional-aggregation
    * scan at partition grain; one exact distinct rides the same
    * aggregate (a12 discipline, a27-style sketch swap documented). */
  def a37ErasurePlan(spark: SparkSession, dir: String): DataFrame =
    a37ErasurePlanOf(Tables.orders(spark, dir))

  def a37ErasurePlanOf(orders: DataFrame): DataFrame = {
    val rowBytes = 100L
    orders
      .select(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"),
        col("o_custkey"), (pmod(col("o_custkey"), lit(ErasureMod)) === 0).as("hit"))
      .groupBy(col("y"), col("m"))
      .agg(count(lit(1)).as("n_rows"),
        countIf(col("hit")).as("n_erased"),
        countDistinct(when(col("hit"), col("o_custkey"))).as("n_requesters"))
      .select(col("y"), col("m"), col("n_rows"), col("n_erased"), col("n_requesters"),
        expr("(n_erased * 10000) div n_rows").as("erased_bp"))
      .withColumn("decision",
        when(col("n_erased") === 0, lit("keep"))
          .when(col("erased_bp") < DvMaxBp, lit("dv"))
          .otherwise(lit("rewrite")))
      .withColumn("cost_bytes",
        when(col("n_erased") === 0, lit(0L))
          .when(col("erased_bp") < DvMaxBp, col("n_erased") * DvEntryBytes)
          .otherwise((col("n_rows") - col("n_erased")) * rowBytes))
      .orderBy(col("y"), col("m"))
  }

  val a37Sql: String =
    s"""WITH t AS (
       |  SELECT year(o_orderdate) AS y, month(o_orderdate) AS m, o_custkey,
       |    o_custkey % $ErasureMod = 0 AS hit
       |  FROM orders),
       |g AS (
       |  SELECT y, m, count(*) AS n_rows,
       |    count(CASE WHEN hit THEN 1 END) AS n_erased,
       |    count(DISTINCT CASE WHEN hit THEN o_custkey END) AS n_requesters
       |  FROM t GROUP BY 1, 2),
       |p AS (
       |  SELECT *, (n_erased * 10000) // n_rows AS erased_bp FROM g)
       |SELECT CAST(y AS INTEGER) AS y, CAST(m AS INTEGER) AS m, n_rows, n_erased, n_requesters,
       |  erased_bp,
       |  CASE WHEN n_erased = 0 THEN 'keep'
       |       WHEN erased_bp < $DvMaxBp THEN 'dv'
       |       ELSE 'rewrite' END AS decision,
       |  CAST(CASE WHEN n_erased = 0 THEN 0
       |       WHEN erased_bp < $DvMaxBp THEN n_erased * $DvEntryBytes
       |       ELSE (n_rows - n_erased) * 100 END AS BIGINT) AS cost_bytes
       |FROM p ORDER BY y, m""".stripMargin

  /** k thresholds the a38 report prices (the values privacy reviews
    * actually ask about). A literal array — the a23 stacking idiom. */
  val KAnonThresholds = Seq(2L, 5L, 10L, 20L)

  /** a38: k-anonymity audit over a quasi-identifier tuple — the
    * re-identification-risk report (Sweeney 2002) a governance review
    * runs before any data release, completing the privacy family
    * (d18 redacts direct identifiers, a37 plans erasure; this
    * measures what the INDIRECT identifiers still leak): customers
    * grouped by the QI tuple (nation, market segment, coarse balance
    * bucket) form equivalence classes; a row in a class smaller than
    * k is re-identifiable among fewer than k candidates. Per k
    * threshold: classes below k, rows at risk (exact bp), and the
    * global minimum class size (the dataset's actual k).
    *
    * Determinism: the balance bucket offsets cents to NONNEGATIVE
    * before the integral division (Spark `div` truncates toward zero
    * while DuckDB `//` floors — they agree only on nonnegative
    * operands, the documented rule; acctbal can be negative).
    *
    * Shape: ONE scan → QI-grain reduce (map-side combinable) → the
    * 4-element literal threshold explode fans the ≤|QI classes| frame
    * → per-k conditional aggregation. Nothing corpus-sized past the
    * first reduce. */
  def a38KAnonymity(spark: SparkSession, dir: String): DataFrame = {
    val balBucket =
      expr("(cast(cast(c_acctbal as decimal(12,2)) * 100 as bigint) + 100000) div 100000")
    val classes = Tables.customer(spark, dir)
      .select(col("c_nationkey"), col("c_mktsegment"), balBucket.as("bal_bucket"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_bucket"))
      .agg(count(lit(1)).as("sz"))
    classes
      .select(col("sz"),
        explode(array(KAnonThresholds.map(lit(_)): _*)).as("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_classes"),
        countIf(col("sz") < col("k")).as("classes_below"),
        sum(when(col("sz") < col("k"), col("sz")).otherwise(0L)).as("rows_below"),
        sum(col("sz")).as("n_rows"),
        min(col("sz")).as("min_class_size"))
      .select(col("k"), col("n_classes"), col("classes_below"), col("rows_below"),
        expr("(rows_below * 10000) div n_rows").as("risk_bp"),
        col("min_class_size"))
      .orderBy(col("k"))
  }

  val a38Sql: String = {
    val ks = KAnonThresholds.mkString(", ")
    s"""WITH cls AS (
       |  SELECT c_nationkey, c_mktsegment,
       |    (CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) + 100000) // 100000 AS bal_bucket,
       |    count(*) AS sz
       |  FROM customer GROUP BY 1, 2, 3),
       |f AS (SELECT sz, unnest([$ks]) AS k FROM cls)
       |SELECT k, count(*) AS n_classes,
       |  CAST(count(CASE WHEN sz < k THEN 1 END) AS BIGINT) AS classes_below,
       |  CAST(sum(CASE WHEN sz < k THEN sz ELSE 0 END) AS BIGINT) AS rows_below,
       |  CAST((sum(CASE WHEN sz < k THEN sz ELSE 0 END) * 10000) // sum(sz) AS BIGINT) AS risk_bp,
       |  min(sz) AS min_class_size
       |FROM f GROUP BY 1 ORDER BY k""".stripMargin
  }

  /** l thresholds for a39 (sensitive-value diversity floors). */
  val LDivThresholds = Seq(2L, 3L, 4L)

  /** a39: l-diversity audit — a38's companion (Machanavajjhala et al.
    * 2007): k-anonymity alone falls to the HOMOGENEITY attack (a
    * class of 50 where every member shares the sensitive value leaks
    * it despite k=50). Sensitive attribute = the customer's observed
    * order priorities (transaction-derived, the realistic case — it
    * rides in from a second table, not the release row). Per QI class
    * (a38's tuple): member count, distinct sensitive values l; per
    * literal l threshold: classes below, members at risk in exact bp.
    *
    * Shape: TWO genuine inputs (customer QI frame + orders sensitive
    * frame — the a21 two-scan precedent), joined un-hinted on the
    * customer key (fact-fact SMJ at scale, AQE broadcast at test SF);
    * orders reduce FIRST to distinct (customer, priority) so the join
    * fans out at most |priorities| per customer; the QI reduce runs
    * both count_distincts in one aggregate (a12 discipline); the
    * literal l explode fans the ≤|QI classes| frame only. */
  def a39LDiversity(spark: SparkSession, dir: String): DataFrame = {
    val balBucket =
      expr("(cast(cast(c_acctbal as decimal(12,2)) * 100 as bigint) + 100000) div 100000")
    val qi = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
        balBucket.as("bal_bucket"))
    val sens = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderpriority")).distinct()
    val classes = qi
      .join(sens, col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_bucket"))
      .agg(countDistinct(col("c_custkey")).as("n_members"),
        countDistinct(col("o_orderpriority")).as("l_div"))
    classes
      .select(col("n_members"), col("l_div"),
        explode(array(LDivThresholds.map(lit(_)): _*)).as("l"))
      .groupBy(col("l"))
      .agg(count(lit(1)).as("n_classes"),
        countIf(col("l_div") < col("l")).as("classes_below"),
        sum(when(col("l_div") < col("l"), col("n_members")).otherwise(0L)).as("members_below"),
        sum(col("n_members")).as("n_members"),
        min(col("l_div")).as("min_l"))
      .select(col("l"), col("n_classes"), col("classes_below"), col("members_below"),
        expr("(members_below * 10000) div n_members").as("risk_bp"),
        col("min_l"))
      .orderBy(col("l"))
  }

  val a39Sql: String = {
    val ls = LDivThresholds.mkString(", ")
    s"""WITH qi AS (
       |  SELECT c_custkey, c_nationkey, c_mktsegment,
       |    (CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) + 100000) // 100000 AS bal_bucket
       |  FROM customer),
       |sens AS (SELECT DISTINCT o_custkey, o_orderpriority FROM orders),
       |cls AS (
       |  SELECT c_nationkey, c_mktsegment, bal_bucket,
       |    count(DISTINCT c_custkey) AS n_members,
       |    count(DISTINCT o_orderpriority) AS l_div
       |  FROM qi JOIN sens ON c_custkey = o_custkey
       |  GROUP BY 1, 2, 3),
       |f AS (SELECT n_members, l_div, unnest([$ls]) AS l FROM cls)
       |SELECT l, count(*) AS n_classes,
       |  CAST(count(CASE WHEN l_div < l THEN 1 END) AS BIGINT) AS classes_below,
       |  CAST(sum(CASE WHEN l_div < l THEN n_members ELSE 0 END) AS BIGINT) AS members_below,
       |  CAST((sum(CASE WHEN l_div < l THEN n_members ELSE 0 END) * 10000)
       |    // sum(n_members) AS BIGINT) AS risk_bp,
       |  min(l_div) AS min_l
       |FROM f GROUP BY 1 ORDER BY l""".stripMargin
  }

  /** t thresholds (milli) for a40. */
  val TCloseThresholds = Seq(100L, 200L, 300L)
  /** The sensitive-attribute domain (a fixed enum like c40's channel
    * universe; registry-provided in production). */
  val TClosePriorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** a40: t-closeness audit — the third rung of the release-privacy
    * ladder (Li/Li/Venkatasubramanian 2007): l-diversity still leaks
    * by SKEWNESS (a class can be diverse yet wildly over-represent
    * one sensitive value); t-closeness bounds the distance between
    * each class's sensitive distribution and the corpus distribution.
    * Distance = the ordered-EMD prefix form Σ_p |F_class(p) − F(p)|
    * over the (lexicographically ordered) priority domain, evaluated
    * EXACTLY by cross-multiplication: Σ|cum_cp·N − cum_gp·n_c| with
    * the products in DECIMAL(38,0) (cum·N passes 2⁶³ at the design
    * point), compared against t via one more integer cross-multiply —
    * no float distribution arithmetic anywhere. Per literal t ∈
    * {0.1, 0.2, 0.3}: classes above t, members at risk in exact bp;
    * plus the max observed distance in milli.
    *
    * Shape: a39's two inputs and join; the corpus then reduces to the
    * (QI class × priority) frame — VALUE-BOUNDED (nations × segments ×
    * fixed balance-bucket range × ≤5 priorities), so every window
    * (class prefix, global prefix, class size, N) runs over a ≤~7k-row
    * frame; the threshold explode fans that frame only. */
  def a40TCloseness(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def d38(c: Column): Column = c.cast(DecimalType(38, 0))
    val balBucket =
      expr("(cast(cast(c_acctbal as decimal(12,2)) * 100 as bigint) + 100000) div 100000")
    val qi = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
        balBucket.as("bal_bucket"))
    val sens = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderpriority")).distinct()
    // DENSE (class × priority) frame: the EMD prefix sum must include
    // priorities a class never exhibits (their flat-prefix terms are
    // exactly where skew shows), so the per-class counts aggregate
    // into one conditional-agg row (a20 discipline) and explode back
    // over the LITERAL priority domain (pinned like c40's channels —
    // in production it comes from the registry) with m = 0 fill
    val prios = TClosePriorities.zipWithIndex
    val cp = qi.join(sens, col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_bucket"))
      .agg(prios.map { case (p, i) =>
        countIf(col("o_orderpriority") === p).as(s"m$i")
      }.head, prios.tail.map { case (p, i) =>
        countIf(col("o_orderpriority") === p).as(s"m$i")
      }: _*)
      .select(col("c_nationkey"), col("c_mktsegment"), col("bal_bucket"),
        explode(array(prios.map { case (p, i) =>
          struct(lit(p).as("o_orderpriority"), col(s"m$i").as("m"))
        }: _*)).as("e"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("bal_bucket"),
        col("e.o_orderpriority").as("o_orderpriority"), col("e.m").as("m"))
    val cls = Seq(col("c_nationkey"), col("c_mktsegment"), col("bal_bucket"))
    val wCum = Window.partitionBy(cls: _*).orderBy(col("o_orderpriority"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wCls = Window.partitionBy(cls: _*)
    val wGCum = Window.orderBy(col("o_orderpriority"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    val terms = cp
      .withColumn("cum_cp", sum(col("m")).over(wCum))
      .withColumn("n_c", sum(col("m")).over(wCls))
      .withColumn("cum_gp", sum(col("m")).over(wGCum))
      .withColumn("n_all", sum(col("m")).over(wAll))
      .groupBy(cls :+ col("n_c") :+ col("n_all"): _*)
      .agg(sum(abs(d38(col("cum_cp")) * d38(col("n_all")) -
        d38(col("cum_gp")) * d38(col("n_c")))).as("emd_scaled"))
    terms
      .select(col("n_c"), col("n_all"), col("emd_scaled"),
        expr("cast((emd_scaled * 1000) div (cast(n_c as decimal(38,0)) * n_all) as bigint)")
          .as("emd_milli"),
        explode(array(TCloseThresholds.map(lit(_)): _*)).as("t_milli"))
      .withColumn("above",
        col("emd_scaled") * 1000 > d38(col("n_c")) * d38(col("n_all")) * col("t_milli"))
      .groupBy(col("t_milli"))
      .agg(count(lit(1)).as("n_classes"),
        countIf(col("above")).as("classes_above"),
        sum(when(col("above"), col("n_c")).otherwise(0L)).as("members_above"),
        sum(col("n_c")).as("n_members"),
        max(col("emd_milli")).as("max_emd_milli"))
      .select(col("t_milli"), col("n_classes"), col("classes_above"),
        col("members_above"),
        expr("(members_above * 10000) div n_members").as("risk_bp"),
        col("max_emd_milli"))
      .orderBy(col("t_milli"))
  }

  val a40Sql: String = {
    val ts = TCloseThresholds.mkString(", ")
    s"""WITH qi AS (
       |  SELECT c_custkey, c_nationkey, c_mktsegment,
       |    (CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) + 100000) // 100000 AS bal_bucket
       |  FROM customer),
       |sens AS (SELECT DISTINCT o_custkey, o_orderpriority FROM orders),
       |cpd AS (
       |  SELECT c_nationkey, c_mktsegment, bal_bucket,
       |    ${TClosePriorities.zipWithIndex.map { case (p, i) =>
              s"count(CASE WHEN o_orderpriority = '$p' THEN 1 END) AS m$i"
            }.mkString(",\n       |    ")}
       |  FROM qi JOIN sens ON c_custkey = o_custkey
       |  GROUP BY 1, 2, 3),
       |cp AS (
       |  SELECT c_nationkey, c_mktsegment, bal_bucket,
       |    unnest([${TClosePriorities.map(p => s"'$p'").mkString(", ")}]) AS o_orderpriority,
       |    unnest([${TClosePriorities.indices.map(i => s"m$i").mkString(", ")}]) AS m
       |  FROM cpd),
       |w AS (
       |  SELECT *,
       |    sum(m) OVER (PARTITION BY c_nationkey, c_mktsegment, bal_bucket
       |      ORDER BY o_orderpriority
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cp,
       |    sum(m) OVER (PARTITION BY c_nationkey, c_mktsegment, bal_bucket) AS n_c,
       |    sum(m) OVER (ORDER BY o_orderpriority
       |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_gp,
       |    sum(m) OVER () AS n_all
       |  FROM cp),
       |cls AS (
       |  SELECT c_nationkey, c_mktsegment, bal_bucket, n_c, n_all,
       |    sum(abs(CAST(cum_cp AS DECIMAL(38,0)) * n_all
       |      - CAST(cum_gp AS DECIMAL(38,0)) * n_c)) AS emd_scaled
       |  FROM w GROUP BY 1, 2, 3, 4, 5),
       |f AS (
       |  SELECT n_c, n_all, emd_scaled,
       |    CAST((emd_scaled * 1000) // (CAST(n_c AS DECIMAL(38,0)) * n_all) AS BIGINT) AS emd_milli,
       |    unnest([$ts]) AS t_milli
       |  FROM cls)
       |SELECT t_milli, count(*) AS n_classes,
       |  CAST(count(CASE WHEN emd_scaled * 1000
       |    > CAST(n_c AS DECIMAL(38,0)) * n_all * t_milli THEN 1 END) AS BIGINT) AS classes_above,
       |  CAST(sum(CASE WHEN emd_scaled * 1000
       |    > CAST(n_c AS DECIMAL(38,0)) * n_all * t_milli THEN n_c ELSE 0 END) AS BIGINT) AS members_above,
       |  CAST((sum(CASE WHEN emd_scaled * 1000
       |    > CAST(n_c AS DECIMAL(38,0)) * n_all * t_milli THEN n_c ELSE 0 END) * 10000)
       |    // sum(n_c) AS BIGINT) AS risk_bp,
       |  max(emd_milli) AS max_emd_milli
       |FROM f GROUP BY 1 ORDER BY t_milli""".stripMargin
  }

  /** Privacy budgets the a41 plan prices, as ppm of ε (0.1, 0.5, 1.0 —
    * the range real DP deployments debate). */
  val DpEpsilonsPpm = Seq(100000L, 500000L, 1000000L)
  /** ln(10) as a literal ppm multiplier: the 95th percentile of
    * |Laplace(b)| is b·ln(10) (P(|X|>t) = e^(−t/b); e^(−ln 10) = 5%).
    * A literal so neither engine evaluates a logarithm. */
  val DpQ95LnPpm = 2302585L
  /** Relative-error ceiling above which a released class count is
    * noise-swamped (10%). */
  val DpSwampRelErrPpm = 100000L

  /** a41: ε-differential-privacy release plan for the QI-class count
    * histogram — the fourth rung of the release-privacy ladder
    * (Dwork/McSherry/Nissim/Smith 2006 Laplace mechanism; a38
    * measures k-anonymity of the release, a39/a40 its attribute
    * leakage, this PLANS the noise a DP release would add and prices
    * the utility cost): each class count is a sensitivity-1 counting
    * query, so Laplace noise has scale b = 1/ε. Per literal ε: the
    * noise scale (ppm), its 95th-percentile magnitude (b·ln10 via the
    * literal [[DpQ95LnPpm]]), how many classes the noise SWAMPS
    * (expected |noise| > [[DpSwampRelErrPpm]] of the true count — the
    * small classes k-anonymity would suppress are exactly the ones DP
    * drowns), members in swamped classes (bp), and the worst relative
    * error. A plan operator like a25/a26/a30/a32: deterministic —
    * noise is PRICED, never sampled, so both engines agree exactly.
    *
    * Shape: a38's ONE scan → QI reduce, then the literal ε explode
    * fans only the ≤|classes| frame into per-ε conditional aggs. */
  def a41DpReleasePlan(spark: SparkSession, dir: String): DataFrame = {
    val balBucket =
      expr("(cast(cast(c_acctbal as decimal(12,2)) * 100 as bigint) + 100000) div 100000")
    val classes = Tables.customer(spark, dir)
      .select(col("c_nationkey"), col("c_mktsegment"), balBucket.as("bal_bucket"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_bucket"))
      .agg(count(lit(1)).as("sz"))
    classes
      .select(col("sz"), explode(array(DpEpsilonsPpm.map(lit(_)): _*)).as("eps_ppm"))
      // b = 1/ε in ppm: 1e6/(eps_ppm/1e6) = 1e12 div eps_ppm; rel err
      // per class = b/sz; swamped iff b > ceil(sz·10%) ⇔ b_ppm > sz·1e5
      .withColumn("b_ppm", expr("1000000000000 div eps_ppm"))
      .withColumn("swamped", col("b_ppm") > col("sz") * DpSwampRelErrPpm)
      .groupBy(col("eps_ppm"))
      .agg(count(lit(1)).as("n_classes"),
        max(col("b_ppm")).as("noise_b_ppm"),
        countIf(col("swamped")).as("swamped_classes"),
        sum(when(col("swamped"), col("sz")).otherwise(0L)).as("swamped_members"),
        sum(col("sz")).as("n_rows"),
        min(col("sz")).as("min_sz"))
      .select(col("eps_ppm"), col("n_classes"), col("noise_b_ppm"),
        expr(s"(noise_b_ppm * $DpQ95LnPpm) div 1000000").as("noise_q95_ppm"),
        col("swamped_classes"), col("swamped_members"),
        expr("(swamped_members * 10000) div n_rows").as("swamped_bp"),
        expr("noise_b_ppm div min_sz").as("max_rel_err_ppm"))
      .orderBy(col("eps_ppm"))
  }

  val a41Sql: String = {
    val eps = DpEpsilonsPpm.mkString(", ")
    s"""WITH cls AS (
       |  SELECT c_nationkey, c_mktsegment,
       |    (CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) + 100000) // 100000 AS bal_bucket,
       |    count(*) AS sz
       |  FROM customer GROUP BY 1, 2, 3),
       |f AS (SELECT sz, unnest([$eps]) AS eps_ppm FROM cls),
       |g AS (
       |  SELECT sz, eps_ppm, 1000000000000 // eps_ppm AS b_ppm,
       |    1000000000000 // eps_ppm > sz * $DpSwampRelErrPpm AS swamped
       |  FROM f),
       |h AS (
       |  SELECT eps_ppm, count(*) AS n_classes, max(b_ppm) AS noise_b_ppm,
       |    count(CASE WHEN swamped THEN 1 END) AS swamped_classes,
       |    sum(CASE WHEN swamped THEN sz ELSE 0 END) AS swamped_members,
       |    sum(sz) AS n_rows, min(sz) AS min_sz
       |  FROM g GROUP BY 1)
       |SELECT CAST(eps_ppm AS BIGINT) AS eps_ppm, n_classes,
       |  CAST(noise_b_ppm AS BIGINT) AS noise_b_ppm,
       |  CAST((noise_b_ppm * $DpQ95LnPpm) // 1000000 AS BIGINT) AS noise_q95_ppm,
       |  CAST(swamped_classes AS BIGINT) AS swamped_classes,
       |  CAST(swamped_members AS BIGINT) AS swamped_members,
       |  CAST((swamped_members * 10000) // n_rows AS BIGINT) AS swamped_bp,
       |  CAST(noise_b_ppm // min_sz AS BIGINT) AS max_rel_err_ppm
       |FROM h ORDER BY eps_ppm""".stripMargin
  }

  /** a42: subject-access export manifest (GDPR Art. 15 / CCPA "right
    * to know") — a37's sibling: erasure plans the DELETE, this plans
    * the EXPORT a data-subject request triggers. Per requesting
    * subject (a37's deterministic `custkey % ErasureMod` stand-in for
    * the request queue) and per table holding their data: exact row
    * count, exact payload bytes (measured octet_length of the string
    * columns + the literal fixed-width field footprint — a real
    * export sizer, not a rowBytes guess), and the activity span in
    * epoch days (NULL for the static profile row). The manifest is
    * what the DSAR tooling turns into files, and what the compliance
    * clock ("respond within 30 days, scoped to what we actually
    * hold") is sized against.
    *
    * Shape: three GENUINE inputs (a21 precedent): customer, orders,
    * lineitem. The orders lineage is read twice but the join side is
    * the SLIM 2-column (o_orderkey, o_custkey) scan (the d85/a36
    * slim-second-scan form — plan-audited ReadSchema), so the wide
    * order columns are scanned once; lineitem joins those subject
    * pairs un-hinted (1/97 of orders — AQE broadcasts at test SF,
    * SMJ at scale) and reduces per subject before the 3-way union of
    * REDUCED frames. Nothing corpus-sized survives any reduce. */
  def a42AccessExport(spark: SparkSession, dir: String): DataFrame = {
    val isSubject = (c: Column) => pmod(c, lit(ErasureMod)) === 0
    val cust = Tables.customer(spark, dir)
      .filter(isSubject(col("c_custkey")))
      .select(col("c_custkey").as("subject_key"), lit("customer").as("table_name"),
        lit(1L).as("n_rows"),
        (octet_length(col("c_name")) + octet_length(col("c_mktsegment")) + lit(24L))
          .cast("long").as("est_bytes"),
        lit(null).cast("long").as("first_day"), lit(null).cast("long").as("last_day"))
    val subjOrders = Tables.orders(spark, dir)
      .filter(isSubject(col("o_custkey")))
    val ord = subjOrders
      .groupBy(col("o_custkey").as("subject_key"))
      .agg(count(lit(1)).as("n_rows"),
        sum(octet_length(col("o_orderstatus")) + octet_length(col("o_orderpriority"))
          + lit(32L)).as("est_bytes"),
        min(expr("unix_date(to_date(o_orderdate))").cast("long")).as("first_day"),
        max(expr("unix_date(to_date(o_orderdate))").cast("long")).as("last_day"))
      .select(col("subject_key"), lit("orders").as("table_name"), col("n_rows"),
        col("est_bytes"), col("first_day"), col("last_day"))
    val li = Tables.lineitem(spark, dir)
      .join(subjOrders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("subject_key"))
      .agg(count(lit(1)).as("n_rows"),
        sum(octet_length(col("l_returnflag")) + octet_length(col("l_linestatus"))
          + lit(72L)).as("est_bytes"),
        min(expr("unix_date(to_date(l_shipdate))").cast("long")).as("first_day"),
        max(expr("unix_date(to_date(l_shipdate))").cast("long")).as("last_day"))
      .select(col("subject_key"), lit("lineitem").as("table_name"), col("n_rows"),
        col("est_bytes"), col("first_day"), col("last_day"))
    cust.unionByName(ord).unionByName(li)
      .orderBy(col("subject_key"), col("table_name"))
  }

  val a42Sql: String =
    s"""WITH cust AS (
       |  SELECT c_custkey AS subject_key, 'customer' AS table_name,
       |    CAST(1 AS BIGINT) AS n_rows,
       |    CAST(octet_length(encode(c_name)) + octet_length(encode(c_mktsegment)) + 24 AS BIGINT)
       |      AS est_bytes,
       |    CAST(NULL AS BIGINT) AS first_day, CAST(NULL AS BIGINT) AS last_day
       |  FROM customer WHERE c_custkey % $ErasureMod = 0),
       |so AS (SELECT * FROM orders WHERE o_custkey % $ErasureMod = 0),
       |ord AS (
       |  SELECT o_custkey AS subject_key, 'orders' AS table_name,
       |    CAST(count(*) AS BIGINT) AS n_rows,
       |    CAST(sum(octet_length(encode(o_orderstatus))
       |      + octet_length(encode(o_orderpriority)) + 32) AS BIGINT) AS est_bytes,
       |    CAST(min(datediff('day', DATE '1970-01-01', CAST(CAST(o_orderdate AS TIMESTAMP) AS DATE))) AS BIGINT) AS first_day,
       |    CAST(max(datediff('day', DATE '1970-01-01', CAST(CAST(o_orderdate AS TIMESTAMP) AS DATE))) AS BIGINT) AS last_day
       |  FROM so GROUP BY 1),
       |li AS (
       |  SELECT o_custkey AS subject_key, 'lineitem' AS table_name,
       |    CAST(count(*) AS BIGINT) AS n_rows,
       |    CAST(sum(octet_length(encode(l_returnflag))
       |      + octet_length(encode(l_linestatus)) + 72) AS BIGINT) AS est_bytes,
       |    CAST(min(datediff('day', DATE '1970-01-01', CAST(CAST(l_shipdate AS TIMESTAMP) AS DATE))) AS BIGINT) AS first_day,
       |    CAST(max(datediff('day', DATE '1970-01-01', CAST(CAST(l_shipdate AS TIMESTAMP) AS DATE))) AS BIGINT) AS last_day
       |  FROM lineitem JOIN so ON l_orderkey = o_orderkey GROUP BY 1)
       |SELECT * FROM (SELECT * FROM cust UNION ALL SELECT * FROM ord UNION ALL SELECT * FROM li)
       |ORDER BY subject_key, table_name""".stripMargin

  def a43CdcConflicts(spark: SparkSession, dir: String): DataFrame =
    a43CdcConflictsOf(Tables.events(spark, dir))

  /** a43: CDC delivery-quality audit at the VERSION grain — the data
    * contract a7's latest-per-key compaction silently assumes: a key
    * version (user, ts) arriving twice is a benign at-least-once
    * RE-SEND only if the payload is identical; the same version with
    * DIFFERENT payloads is an upstream bug (two writers, clock
    * collision, non-deterministic serializer) that a7 then resolves
    * by event_id tiebreak — silently. This audit makes that
    * resolution visible per day: version groups, re-sent groups,
    * conflicting groups, and the conflict share in bp — the number
    * that decides whether the tiebreak is hygiene or data loss.
    * (Reference analog: update-control.py's upsert-by-id assumes
    * exactly this idempotence.)
    *
    * Shape: ONE scan → (user, ts) version reduce with count +
    * distinct-payload count (map-side; payload identity via the
    * (event_type, value) pair) → day reduce. All-integer. */
  def a43CdcConflictsOf(events: DataFrame): DataFrame = {
    val versions = events
      .groupBy(col("user_id"), col("ts"))
      .agg(count(lit(1)).as("cnt"),
        // distinct over the STRUCT, not the column pair: multi-arg
        // countDistinct drops rows where ANY argument is NULL, while
        // the DuckDB oracle's count(DISTINCT (event_type, value))
        // counts tuples that merely CONTAIN a NULL field — a struct()
        // value is itself never NULL, so the two agree on null payloads
        countDistinct(struct(col("event_type"), col("value"))).as("payloads"))
    versions
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("n_versions"),
        countIf(col("cnt") > 1).as("resend_groups"),
        countIf(col("payloads") > 1).as("conflict_groups"))
      .select(col("day"), col("n_versions"), col("resend_groups"),
        col("conflict_groups"),
        expr("(conflict_groups * 10000) div n_versions").as("conflict_bp"))
      .orderBy(col("day"))
  }

  val a43Sql: String =
    """WITH v AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, CAST(count(*) AS BIGINT) AS cnt,
      |    CAST(count(DISTINCT (event_type, value)) AS BIGINT) AS payloads
      |  FROM events GROUP BY 1, 2),
      |d AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day,
      |    CAST(count(*) AS BIGINT) AS n_versions,
      |    CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS resend_groups,
      |    CAST(sum(CASE WHEN payloads > 1 THEN 1 ELSE 0 END) AS BIGINT) AS conflict_groups
      |  FROM v GROUP BY 1)
      |SELECT day, n_versions, resend_groups, conflict_groups,
      |  (conflict_groups * 10000) // n_versions AS conflict_bp
      |FROM d ORDER BY day""".stripMargin

  /** Deterministic per-dataset table location for the a44/a45 entries
    * (re-runs commit fresh versions in place — idempotent). */
  private def lakeDir(dir: String, name: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    s"${System.getProperty("java.io.tmpdir")}/graft_lake_${name}_$h"
  }

  /** a44: the LAKEHOUSE READ PATH as an oracled query — commit a slim
    * orders snapshot to a CommitLog table clustered on o_orderkey
    * (range-shuffle → disjoint footer ranges), hide every 97th key
    * with a deletion-vector erase, then read a key range back through
    * the footer zone map (`readPruned`). The oracle predicts the same
    * rows from the raw parquet alone, so a pass proves the whole
    * chain — atomic commit, DV merge-on-read, file skipping, residual
    * filter — returns exactly what a plain filtered scan would, while
    * reading only the files whose footers admit the range (pruning
    * effectiveness is ScalaTest-gated; THIS gate is end-to-end
    * equivalence, a31/a33's audits turned into engine machinery the
    * correctness gate exercises every round). */
  def a44PrunedRead(spark: SparkSession, dir: String): DataFrame = {
    val table = lakeDir(dir, "a44")
    val slim = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions(col("o_orderkey"))
    graft.sources.CommitLogTableFormat.commit(spark, table, slim, "a44")
    graft.sources.CommitLogTableFormat.erase(
      spark, table, col("o_orderkey") % 97 === 0, "a44e")
    graft.sources.CommitLogTableFormat.readPruned(spark, table, "o_orderkey", 100L, 700L)
      .get.orderBy(col("o_orderkey"))
  }

  val a44Sql: String =
    """SELECT o_orderkey, o_custkey, o_orderpriority
      |FROM orders
      |WHERE o_orderkey BETWEEN 100 AND 700 AND o_orderkey % 97 <> 0
      |ORDER BY o_orderkey""".stripMargin

  /** a45: the STRING zone map through the same end-to-end gate —
    * commit documents clustered on `source` (the key a city-data
    * pipeline actually filters by: reference partitions staging by
    * source, process-staging.py:20-27), then read a source range back
    * through `readPrunedString`'s truncated-bound file skipping. The
    * oracle is the plain filtered scan; a pass proves truncated
    * lower/upper bounds never lose or invent rows. */
  def a45PrunedSourceRead(spark: SparkSession, dir: String): DataFrame = {
    val table = lakeDir(dir, "a45")
    val slim = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), length(col("text")).as("n_chars"))
      .repartitionByRange(4, col("source"))
      .sortWithinPartitions(col("source"))
    graft.sources.CommitLogTableFormat.commit(spark, table, slim, "a45")
    graft.sources.CommitLogTableFormat
      .readPrunedString(spark, table, "source", "src2", "src4")
      .get.orderBy(col("doc_id"))
  }

  val a45Sql: String =
    """SELECT doc_id, source, CAST(length(text) AS INTEGER) AS n_chars
      |FROM documents
      |WHERE source BETWEEN 'src2' AND 'src4'
      |ORDER BY doc_id""".stripMargin

  /** a46: referential-integrity audit across the WHOLE star schema —
    * the foreign-key health report an ETL owner reads after every
    * load (the reference's update-control upsert assumes its city ids
    * resolve; this measures that class of assumption for all seven
    * FK edges at once): per edge, child rows, NULL foreign keys
    * (unset ≠ broken — reported separately), orphan rows (set but no
    * parent), and the orphan share in bp. Clean TPC-H reports zeros —
    * the audit's value is the zero being MEASURED, not assumed, and
    * the spec plants orphans/NULLs to prove each counter fires.
    *
    * Shape: per edge, ONE left join of the child's key column against
    * the parent's distinct key (no row multiplication by
    * construction) reduced to a single row; 7 edges union 14 scans —
    * every scan a genuine audit input (the a15 multi-input
    * precedent). Parent key frames are distinct-reduced, so at 100 TB
    * AQE broadcasts the dimension edges and shuffles only the
    * fact-fact ones. */
  def a46ReferentialIntegrity(spark: SparkSession, dir: String): DataFrame = {
    def edge(name: String, child: DataFrame, key: String,
             parent: DataFrame, pkey: String): DataFrame =
      a46Edge(name, child.select(col(key).as("fk")),
        parent.select(col(pkey).as("pk")))
    val li = Tables.lineitem(spark, dir)
    edge("customer->nation", Tables.customer(spark, dir), "c_nationkey",
        Tables.nation(spark, dir), "n_nationkey")
      .unionByName(edge("lineitem->orders", li, "l_orderkey",
        Tables.orders(spark, dir), "o_orderkey"))
      .unionByName(edge("lineitem->part", li, "l_partkey",
        Tables.part(spark, dir), "p_partkey"))
      .unionByName(edge("lineitem->supplier", li, "l_suppkey",
        Tables.supplier(spark, dir), "s_suppkey"))
      .unionByName(edge("nation->region", Tables.nation(spark, dir), "n_regionkey",
        Tables.region(spark, dir), "r_regionkey"))
      .unionByName(edge("orders->customer", Tables.orders(spark, dir), "o_custkey",
        Tables.customer(spark, dir), "c_custkey"))
      .unionByName(edge("supplier->nation", Tables.supplier(spark, dir), "s_nationkey",
        Tables.nation(spark, dir), "n_nationkey"))
      .orderBy(col("edge"))
  }

  /** One audited FK edge — separable so the spec can plant orphaned
    * and NULL keys. `child` has one column `fk`, `parent` one `pk`. */
  def a46Edge(name: String, child: DataFrame, parent: DataFrame): DataFrame =
    child.join(parent.distinct(), col("fk") === col("pk"), "left")
      .agg(count(lit(1)).as("child_rows"),
        count(when(col("fk").isNull, 1)).as("null_keys"),
        count(when(col("fk").isNotNull && col("pk").isNull, 1)).as("orphans"))
      .select(lit(name).as("edge"), col("child_rows"), col("null_keys"),
        col("orphans"),
        expr("(orphans * 10000) div child_rows").as("orphan_bp"))

  val a46Sql: String = {
    def edgeSql(name: String, childTable: String, key: String,
                parentTable: String, pkey: String): String =
      s"""SELECT '$name' AS edge, CAST(count(*) AS BIGINT) AS child_rows,
         |  CAST(sum(CASE WHEN c.$key IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_keys,
         |  CAST(sum(CASE WHEN c.$key IS NOT NULL AND p.$pkey IS NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS orphans,
         |  CAST((sum(CASE WHEN c.$key IS NOT NULL AND p.$pkey IS NULL THEN 1 ELSE 0 END)
         |    * 10000) // count(*) AS BIGINT) AS orphan_bp
         |FROM $childTable c
         |LEFT JOIN (SELECT DISTINCT $pkey FROM $parentTable) p ON c.$key = p.$pkey""".stripMargin
    Seq(
      edgeSql("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      edgeSql("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      edgeSql("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
      edgeSql("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      edgeSql("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
      edgeSql("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
      edgeSql("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY edge")
  }

  /** a47: lake-table HISTORY audit through the correctness gate — the
    * version/time-travel/DV ACCOUNTING proven against an oracle that
    * predicts it from the raw data alone: build a CommitLog table with
    * the full ingest lifecycle (full commit of the order slim → APPEND
    * of the high-key slice → DV erase of every 83rd key) under a
    * 3-version retention (`setRetention` — round 13), then report
    * each RETAINED version (ordinal 1 = the full commit, 2 = the
    * append, 3 = the erase) with its visible row count and data-dir
    * count. A pass proves: append added exactly the slice to a second
    * dir without touching the first; the erase version hides exactly
    * the right rows while BOTH earlier versions still resolve theirs
    * (depth-2 time travel), and the configured retention window
    * holds. Ordinals, not raw version numbers, keep the output
    * invariant across re-runs (versions grow; the retained WINDOW's
    * content is deterministic).
    *
    * Cost: the a44 lake-gate tier — two small writes + one DV erase +
    * two counts per run, all on the slim 2-column frame. */
  def a47LakeHistory(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fmt = graft.sources.CommitLogTableFormat
    val table = lakeDir(dir, "a47")
    val slim = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
    // round 13: retention deepened to 3 (setRetention — the r12
    // verdict's configurable-window ask), so the WHOLE lifecycle stays
    // time-travelable and the gate audits all three versions
    fmt.setRetention(spark, table, 3)
    fmt.commit(spark, table, slim.filter(col("o_orderkey") % 2 === 0), "a47c")
    fmt.append(spark, table, slim.filter(col("o_orderkey") % 2 === 1), "a47a")
    fmt.erase(spark, table, col("o_orderkey") % 83 === 0, "a47e")
    val retained = fmt.versions(spark, table).takeRight(3)
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows = retained.zipWithIndex.map { case (v, i) =>
      val df = fmt.readVersion(spark, table, v).get
      val entry = new org.apache.hadoop.fs.Path(table, s"_log/$v")
      val in = fs.open(entry)
      val content = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      val nDirs = content.split('\n').head.trim.split("\\s+").count(_.nonEmpty)
      (i + 1L, df.count(), nDirs.toLong)
    }
    rows.toDF("ordinal", "n_rows", "n_data_dirs")
      .orderBy(col("ordinal"))
  }

  val a47Sql: String =
    """WITH n AS (SELECT count(*) AS total,
      |  count(*) FILTER (WHERE o_orderkey % 2 = 0) AS evens FROM orders),
      |erased AS (
      |  SELECT count(*) AS gone FROM orders WHERE o_orderkey % 83 = 0)
      |SELECT 1 AS ordinal, CAST(evens AS BIGINT) AS n_rows,
      |  CAST(1 AS BIGINT) AS n_data_dirs FROM n
      |UNION ALL
      |SELECT 2 AS ordinal, CAST(total AS BIGINT) AS n_rows,
      |  CAST(2 AS BIGINT) AS n_data_dirs FROM n
      |UNION ALL
      |SELECT 3 AS ordinal, CAST(total - gone AS BIGINT) AS n_rows,
      |  CAST(2 AS BIGINT) AS n_data_dirs FROM n, erased
      |ORDER BY ordinal""".stripMargin

  /** The a48/a49 update set: new payloads for every key in [100, 300]
    * (o_custkey displaced by 1e6 so a stale read is unmistakable) plus
    * three brand-new negative keys — one frame exercising both MERGE
    * arms (matched-update and not-matched-insert). */
  private def lakeUpdates(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .filter(col("o_orderkey").between(100, 300))
      .select(col("o_orderkey"), (col("o_custkey") + 1000000L).as("o_custkey"))
      .unionByName(Seq((-1L, 42L), (-2L, 42L), (-3L, 42L))
        .toDF("o_orderkey", "o_custkey"))
  }

  /** a48: the CHANGE FEED through the correctness gate — commit the
    * slim orders snapshot, run one merge-on-read upsert (updates +
    * fresh inserts in ONE atomic version), then read the net row-level
    * changes of that transition back from the log with
    * `changesBetween`. The oracle predicts the exact feed from the raw
    * parquet alone: every pre-image of an updated key as a `delete`,
    * every post-image and fresh insert as an `insert`. A pass proves
    * the whole CDC surface — dir-delta inserts, DV-delta deletes
    * resolved back to rows, net semantics — against an independent
    * engine, every round.
    *
    * Cost: the a44 lake-gate tier — the feed itself reads O(changed
    * dirs + DV delta), which is the operator's 100 TB point. */
  def a48ChangeFeed(spark: SparkSession, dir: String): DataFrame = {
    val fmt = graft.sources.CommitLogTableFormat
    val table = lakeDir(dir, "a48")
    val slim = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
    fmt.commit(spark, table, slim, "a48c")
    fmt.upsertByKey(spark, table, lakeUpdates(spark, dir), "o_orderkey", "a48u")
    val Seq(from, to) = fmt.versions(spark, table).takeRight(2)
    fmt.changesBetween(spark, table, from, to).get
      .orderBy(col("_change_type"), col("o_orderkey"))
  }

  val a48Sql: String =
    """SELECT o_orderkey, o_custkey, _change_type FROM (
      |  SELECT o_orderkey, o_custkey, 'delete' AS _change_type
      |  FROM orders WHERE o_orderkey BETWEEN 100 AND 300
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey + 1000000 AS o_custkey, 'insert'
      |  FROM orders WHERE o_orderkey BETWEEN 100 AND 300
      |  UNION ALL
      |  SELECT -i, 42, 'insert' FROM generate_series(1, 3) t(i))
      |ORDER BY _change_type, o_orderkey""".stripMargin

  /** a49: merge-on-read UPSERT read-back — after `upsertByKey`, the
    * table must read as if every updated key's row had been rewritten
    * in place and every fresh key inserted, though no prior data file
    * was touched (the DV hides pre-images; the new dir supplies the
    * rest). The oracle is the CASE-rewritten raw scan plus the fresh
    * rows; the key-range filter keeps the gate's output bounded. */
  def a49MorUpsert(spark: SparkSession, dir: String): DataFrame = {
    val fmt = graft.sources.CommitLogTableFormat
    val table = lakeDir(dir, "a49")
    val slim = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
    fmt.commit(spark, table, slim, "a49c")
    fmt.upsertByKey(spark, table, lakeUpdates(spark, dir), "o_orderkey", "a49u")
    fmt.read(spark, table).get
      .filter(col("o_orderkey") <= 400)
      .orderBy(col("o_orderkey"))
  }

  val a49Sql: String =
    """SELECT o_orderkey, o_custkey FROM (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey BETWEEN 100 AND 300
      |      THEN o_custkey + 1000000 ELSE o_custkey END AS o_custkey
      |  FROM orders
      |  UNION ALL
      |  SELECT -i, 42 FROM generate_series(1, 3) t(i))
      |WHERE o_orderkey <= 400
      |ORDER BY o_orderkey""".stripMargin

  /** a50: append-time SCHEMA EVOLUTION read-back — commit even keys
    * with the 2-column schema, append odd keys carrying a third
    * column, and read the union back: pre-evolution rows must surface
    * NULL for the evolved column (the Delta/Iceberg add-column
    * contract), post-evolution rows their real values, with no file
    * rewritten. The oracle CASE-synthesizes the same union from the
    * raw scan. */
  def a50SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val fmt = graft.sources.CommitLogTableFormat
    val table = lakeDir(dir, "a50")
    val orders = Tables.orders(spark, dir)
    fmt.commit(spark, table, orders
      .filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_custkey")), "a50c")
    fmt.append(spark, table, orders
      .filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority")), "a50a")
    fmt.read(spark, table).get
      .filter(col("o_orderkey") <= 500)
      .orderBy(col("o_orderkey"))
  }

  val a50Sql: String =
    """SELECT o_orderkey, o_custkey,
      |  CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END AS o_orderpriority
      |FROM orders
      |WHERE o_orderkey <= 500
      |ORDER BY o_orderkey""".stripMargin

  /** a51: Bloom-index POINT READ through the correctness gate — the
    * skipping path zone maps cannot serve: the table is HASH-clustered
    * on o_custkey (`repartition(4, ...)`) so every file spans the full
    * custkey min/max (a range zone map keeps all of them) while each
    * custkey lives in exactly ONE file — the per-file Bloom sidecar
    * sees that. Commit → DV erase → index build → point lookup; the
    * oracle predicts the same rows from the raw scan, so a pass proves
    * the whole chain: per-file bloom_agg, pinned-version sidecar,
    * might-contain file skipping, DV merge-on-read, residual filter.
    * (Skipping effectiveness — 1 of 4 files read — is ScalaTest-gated;
    * THIS gate is end-to-end equivalence, the a44 discipline.) */
  def a51BloomPointRead(spark: SparkSession, dir: String): DataFrame = {
    val fmt = graft.sources.CommitLogTableFormat
    val table = lakeDir(dir, "a51")
    val slim = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
      .repartition(4, col("o_custkey"))
    fmt.commit(spark, table, slim, "a51c")
    fmt.erase(spark, table, col("o_orderkey") % 97 === 0, "a51e")
    fmt.buildBloomIndex(spark, table, "o_custkey")
    // round 13: an append no longer orphans the index — it ADVANCES
    // (prior files' blooms reused, the new dir aggregated, re-pinned),
    // so the appended probe-key row must surface through the LIVE
    // bloom path, not a fallback scan (skip effectiveness is
    // ScalaTest-gated; this gate is end-to-end equivalence)
    import spark.implicits._
    fmt.append(spark, table,
      Seq((-7L, 7L)).toDF("o_orderkey", "o_custkey"), "a51a")
    fmt.readBloomPoint(spark, table, "o_custkey", 7L).get
      .orderBy(col("o_orderkey"))
  }

  val a51Sql: String =
    """SELECT o_orderkey, o_custkey FROM (
      |  SELECT o_orderkey, o_custkey FROM orders
      |  WHERE o_custkey = 7 AND o_orderkey % 97 <> 0
      |  UNION ALL SELECT -7, 7)
      |ORDER BY o_orderkey""".stripMargin

  /** a52: constraint-GATED load through the correctness gate — the
    * quality firewall as engine machinery (a23 reports rule breaches
    * after the fact; `commitChecked` REFUSES them at the door, the
    * Delta CHECK-constraint contract): load the slim orders under
    * declared constraints that clean TPC-H satisfies, prove the gated
    * table reads exactly as the raw scan (the gate cost nothing but
    * one column-pruned validation pass), then prove the firewall
    * actually fires — a second checked commit with a violating
    * constraint must leave the table EXACTLY as the first load
    * published it. The oracle sees only the surviving state; a pass
    * proves both arms (accept = transparent, reject = invisible). */
  def a52CheckedLoad(spark: SparkSession, dir: String): DataFrame = {
    val fmt = graft.sources.CommitLogTableFormat
    val table = lakeDir(dir, "a52")
    val slim = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
    fmt.commitChecked(spark, table, slim, "a52c", Seq(
      "key_set" -> col("o_orderkey").isNotNull,
      "cust_set" -> col("o_custkey").isNotNull))
    try
      fmt.commitChecked(spark, table, slim, "a52bad", Seq(
        "key_negative" -> (col("o_orderkey") < 0L)))
    catch { case _: graft.sources.ConstraintViolationException => () }
    fmt.read(spark, table).get
      .filter(col("o_orderkey") <= 400)
      .orderBy(col("o_orderkey"))
  }

  val a52Sql: String =
    """SELECT o_orderkey, o_custkey FROM orders
      |WHERE o_orderkey <= 400
      |ORDER BY o_orderkey""".stripMargin

  /** a53: the lake table's SQL / DataSource V2 surface through the
    * correctness gate — the first thing a SQL user tries
    * (`SELECT … FROM lake_table`) proven end-to-end against the raw
    * oracle: commit even keys range-clustered (2-column schema),
    * APPEND odd keys carrying an EVOLVED third column, DV-erase every
    * 97th key, then read through `spark.read.format("graft")` +
    * `spark.sql` — NOT the Scala API. A pass proves the whole DSv2
    * chain: log-resolved snapshot isolation, multi-dir union with
    * NULL backfill for pre-evolution rows, per-task deletion-vector
    * merge-on-read, pushed-filter file skipping with the residual
    * re-applied, and per-file column projection — the a44/a50
    * contracts now reachable by a query planner instead of only by
    * Scala calls (VERDICT r12 missing #1). Skip effectiveness is
    * ScalaTest plan-gated; THIS gate is end-to-end equivalence. */
  def a53SqlLakeRead(spark: SparkSession, dir: String): DataFrame = {
    val fmt = graft.sources.CommitLogTableFormat
    val table = lakeDir(dir, "a53")
    val orders = Tables.orders(spark, dir)
    fmt.commit(spark, table, orders
      .filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_custkey"))
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions(col("o_orderkey")), "a53c")
    fmt.append(spark, table, orders
      .filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority")), "a53a")
    fmt.erase(spark, table, col("o_orderkey") % 97 === 0, "a53e")
    spark.read.format("graft").load(table).createOrReplaceTempView("a53_lake")
    spark.sql(
      """SELECT o_orderkey, o_custkey, o_orderpriority FROM a53_lake
        |WHERE o_orderkey BETWEEN 100 AND 700
        |ORDER BY o_orderkey""".stripMargin)
  }

  val a53Sql: String =
    """SELECT o_orderkey, o_custkey,
      |  CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END AS o_orderpriority
      |FROM orders
      |WHERE o_orderkey BETWEEN 100 AND 700 AND o_orderkey % 97 <> 0
      |ORDER BY o_orderkey""".stripMargin

  /** a54: PARTIAL compaction through the correctness gate — the 100 TB
    * OPTIMIZE (VERDICT r12 missing #2: `compact` rewrites O(table);
    * the only affordable maintenance on a daily append stream is
    * rewriting exactly the small-file subset a25 plans). Build the
    * append-fragmentation shape (commit + two appends, one dir per
    * load), DV-erase keys spanning every load, then `compactDirs` the
    * first two dirs — folding THEIR erasures physical while the third
    * dir stays byte-identical and keeps its erasures via the carried
    * DV. The oracle predicts the exact surviving rows from the raw
    * parquet alone, so a pass proves the rewrite lost nothing, purged
    * nothing it shouldn't, and the DV re-keying across the fold is
    * right. Dir-grain effects (survivor untouched, file counts, DV
    * carry-forward) are ScalaTest plan-gated; THIS gate is end-to-end
    * content equality.
    *
    * Cost: the a44 lake-gate tier — three small writes + one erase +
    * one subset rewrite, all on the slim 2-column frame. */
  def a54PartialCompact(spark: SparkSession, dir: String): DataFrame = {
    val fmt = graft.sources.CommitLogTableFormat
    val table = lakeDir(dir, "a54")
    val slim = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
    fmt.commit(spark, table, slim.filter(col("o_orderkey") % 3 === 0), "a54c")
    fmt.append(spark, table, slim.filter(col("o_orderkey") % 3 === 1), "a54a1")
    fmt.append(spark, table, slim.filter(col("o_orderkey") % 3 === 2), "a54a2")
    fmt.erase(spark, table, col("o_orderkey") % 89 === 0, "a54e")
    val snap = fmt.currentSnapshot(spark, table).get
    // round 14: the rewrite also RECLUSTERS on the key (OPTIMIZE
    // ZORDER parity) — content-identical, so the oracle is unchanged,
    // but the merged dir's zone maps are now range-disjoint
    // (tightening plan-asserted in ScalaTest)
    fmt.compactDirs(spark, table, snap.dataDirNames.take(2), "a54pc",
      targetFiles = 2, clusterBy = Seq("o_orderkey"))
    fmt.read(spark, table).get
      .filter(col("o_orderkey") <= 5000)
      .select(col("o_orderkey"), col("o_custkey"))
      .orderBy(col("o_orderkey"))
  }

  val a54Sql: String =
    """SELECT o_orderkey, o_custkey FROM orders
      |WHERE o_orderkey <= 5000 AND o_orderkey % 89 <> 0
      |ORDER BY o_orderkey""".stripMargin

  /** a55: the STREAMING change feed through the correctness gate — the
    * CDC consumer loop (VERDICT r12 missing #4: `changesBetween` ended
    * at "diff two versions"; downstream incremental consumers need a
    * `readStream` source). Commit the slim orders snapshot, run one
    * merge-on-read upsert, then consume the table as
    * `spark.readStream.format("graft").option("changeFeed", true)`
    * from version 2 under Trigger.AvailableNow — the micro-batch
    * rows, stamped `_commit_version`, must equal the oracle's
    * prediction of the transition from the raw parquet alone (the a48
    * frame + the version stamp). Exactly-once restart replay and the
    * DV-only-transition shape are ScalaTest-gated; THIS gate proves
    * the streamed frame itself against an independent engine.
    *
    * Cost: one AvailableNow micro-batch over O(changed dirs + DV
    * delta) — the operator's 100 TB point — plus stream startup. */
  def a55ChangeFeedStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val fmt = graft.sources.CommitLogTableFormat
    val table = lakeDir(dir, "a55")
    val ckpt = lakeDir(dir, "a55ck")
    // version numbers are the stream's offsets, so re-runs must start
    // from a fresh log (unlike the batch gates, where commit resets)
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(table), true)
    fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    val slim = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
    fmt.commit(spark, table, slim, "a55c")
    fmt.upsertByKey(spark, table, lakeUpdates(spark, dir), "o_orderkey", "a55u")
    val buf = collection.mutable.ArrayBuffer.empty[(Long, Long, String, Long)]
    val q = spark.readStream.format("graft")
      .option("changeFeed", "true").option("startingVersion", "2")
      .load(table)
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        val rows = b.select(col("o_orderkey"), col("o_custkey"),
            col("_change_type"), col("_commit_version"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
        buf.synchronized { buf ++= rows }
        ()
      }.start()
    q.awaitTermination()
    import spark.implicits._
    buf.toSeq
      .toDF("o_orderkey", "o_custkey", "_change_type", "_commit_version")
      .orderBy(col("_change_type"), col("o_orderkey"))
  }

  val a55Sql: String =
    """SELECT o_orderkey, o_custkey, _change_type,
      |  CAST(2 AS BIGINT) AS _commit_version FROM (
      |  SELECT o_orderkey, o_custkey, 'delete' AS _change_type
      |  FROM orders WHERE o_orderkey BETWEEN 100 AND 300
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey + 1000000 AS o_custkey, 'insert'
      |  FROM orders WHERE o_orderkey BETWEEN 100 AND 300
      |  UNION ALL
      |  SELECT -i, 42, 'insert' FROM generate_series(1, 3) t(i))
      |ORDER BY _change_type, o_orderkey""".stripMargin

  /** a56: DECIMAL zone maps through the SQL surface (r13 verdict
    * missing #2 / next-round #1 — money columns are DECIMAL, and a
    * price-range predicate used to scan every file because the
    * pushdown matrix only accepted integer/date/string ranges): build
    * a lake table with an exact DECIMAL(12,2) price column (integer
    * cents scaled — no double rounding, so Spark and the oracle agree
    * bit-for-bit), range-clustered so the persisted `_stats` sidecars
    * (which already record INT64-backed decimals as unscaled longs)
    * give disjoint per-file ranges, DV-erase every 97th key, then
    * read a price range back through `spark.read.format("graft")` +
    * SQL. A pass proves the unscaled-long bound arithmetic
    * (floor/ceil at the column's scale) loses no rows across the
    * erase; skip effectiveness (k/n files, zero footer opens) is
    * ScalaTest plan-gated. */
  def a56DecimalPrunedRead(spark: SparkSession, dir: String): DataFrame = {
    val fmt = graft.sources.CommitLogTableFormat
    val table = lakeDir(dir, "a56")
    val slim = Tables.orders(spark, dir)
      .select(col("o_orderkey"),
        expr("CAST(CAST(o_orderkey * 100 + o_custkey % 100 AS DECIMAL(14,0))" +
          " * 0.01 AS DECIMAL(12,2))").as("o_price"))
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions(col("o_orderkey"))
    fmt.commit(spark, table, slim, "a56")
    fmt.erase(spark, table, col("o_orderkey") % 97 === 0, "a56e")
    spark.read.format("graft").load(table).createOrReplaceTempView("a56_lake")
    // the predicate stays on the DECIMAL column (the pruning under
    // test); only the OUTPUT is DOUBLE, the suite's result-type rule
    spark.sql(
      """SELECT o_orderkey, CAST(o_price AS DOUBLE) AS o_price FROM a56_lake
        |WHERE o_price BETWEEN 100.00 AND 700.99
        |ORDER BY o_orderkey""".stripMargin)
  }

  val a56Sql: String =
    """SELECT o_orderkey,
      |  CAST(CAST(CAST(o_orderkey * 100 + o_custkey % 100 AS DECIMAL(14,0))
      |    * 0.01 AS DECIMAL(12,2)) AS DOUBLE) AS o_price
      |FROM orders
      |WHERE o_orderkey BETWEEN 100 AND 700 AND o_orderkey % 97 <> 0
      |ORDER BY o_orderkey""".stripMargin

  /** a57: the CATALOG SQL lifecycle through the correctness gate (r13
    * verdict missing #5 — lake tables were path-addressed only; a SQL
    * user expects `CREATE TABLE` / `SHOW TABLES` / `DESCRIBE` / time
    * travel without ever touching a path in a query): build a
    * two-version lake table (commit evens, append odds), register a
    * [[graft.sources.GraftCatalog]] over a warehouse dir, run the DDL
    * (`CREATE NAMESPACE`, external `CREATE TABLE … USING graft
    * LOCATION`), then answer ENTIRELY from catalog-addressed SQL —
    * including `VERSION AS OF 1` joined against the current version,
    * so the pass proves name resolution, schema-from-log inference,
    * and SQL time travel in one frame. DDL round-trips (SHOW TABLES,
    * DESCRIBE, DROP, rename, managed vs external ownership) are
    * ScalaTest-gated; THIS gate is end-to-end content equality. */
  def a57CatalogSql(spark: SparkSession, dir: String): DataFrame = {
    val fmt = graft.sources.CommitLogTableFormat
    val table = lakeDir(dir, "a57t")
    val wh = lakeDir(dir, "a57wh")
    // version numbers are part of the answer (VERSION AS OF 1), so
    // re-runs must start from a fresh log — the a55 determinism rule
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(table), true)
    val slim = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
    fmt.commit(spark, table, slim.filter(col("o_orderkey") % 2 === 0), "a57c")
    fmt.append(spark, table, slim.filter(col("o_orderkey") % 2 === 1), "a57a")
    spark.conf.set("spark.sql.catalog.graft_cat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.lake")
    spark.sql("DROP TABLE IF EXISTS graft_cat.lake.orders_slim")
    spark.sql(
      s"CREATE TABLE graft_cat.lake.orders_slim USING graft LOCATION '$table'")
    spark.sql(
      """SELECT cur.o_orderkey, cur.o_custkey,
        |  CASE WHEN v1.o_orderkey IS NULL THEN 0 ELSE 1 END AS in_v1
        |FROM graft_cat.lake.orders_slim cur
        |LEFT JOIN graft_cat.lake.orders_slim VERSION AS OF 1 v1
        |  ON cur.o_orderkey = v1.o_orderkey
        |WHERE cur.o_orderkey <= 500
        |ORDER BY cur.o_orderkey""".stripMargin)
  }

  val a57Sql: String =
    """SELECT o_orderkey, o_custkey,
      |  CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END AS in_v1
      |FROM orders
      |WHERE o_orderkey <= 500
      |ORDER BY o_orderkey""".stripMargin

  def a58SqlInsert(spark: SparkSession, dir: String): DataFrame = {
    val wh = lakeDir(dir, "a58wh")
    // version numbers are part of the answer (VERSION AS OF 1), so
    // re-runs must start from a fresh managed table — DROP removes the
    // managed dir (log, data, _schema, _constraints) wholesale
    spark.conf.set("spark.sql.catalog.graft_cat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.lake")
    spark.sql("DROP TABLE IF EXISTS graft_cat.lake.a58t")
    spark.sql(
      """CREATE TABLE graft_cat.lake.a58t (o_orderkey BIGINT, o_custkey BIGINT)
        |USING graft
        |TBLPROPERTIES ('check.key_nonneg' = 'o_orderkey >= 0')""".stripMargin)
    Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
      .createOrReplaceTempView("a58_orders")
    // two pure-SQL INSERTs → two checked, atomic versions; the CHECK
    // constraint validated both staged dirs before publish
    spark.sql(
      """INSERT INTO graft_cat.lake.a58t
        |SELECT o_orderkey, o_custkey FROM a58_orders
        |WHERE o_orderkey % 2 = 0""".stripMargin)
    spark.sql(
      """INSERT INTO graft_cat.lake.a58t
        |SELECT o_orderkey, o_custkey FROM a58_orders
        |WHERE o_orderkey % 2 = 1""".stripMargin)
    spark.sql(
      """SELECT cur.o_orderkey, cur.o_custkey,
        |  CASE WHEN v1.o_orderkey IS NULL THEN 0 ELSE 1 END AS in_v1
        |FROM graft_cat.lake.a58t cur
        |LEFT JOIN graft_cat.lake.a58t VERSION AS OF 1 v1
        |  ON cur.o_orderkey = v1.o_orderkey
        |WHERE cur.o_orderkey <= 500
        |ORDER BY cur.o_orderkey""".stripMargin)
  }

  /** a58's SQL scaladoc twin lives on [[a58SqlInsert]]; the oracle
    * predicts the read-back from the raw orders parquet alone, so a
    * pass proves the WHOLE SQL write chain: catalog DDL with a CHECK
    * TBLPROPERTY, two `INSERT INTO … SELECT` statements staged and
    * published through the checked append (OCC + constraint gate +
    * stats sidecars), and version-pinned time travel seeing exactly
    * the first insert. Reference: citydata-etl loads its curated
    * tables through SQL INSERTs in its warehouse step. */
  val a58Sql: String =
    """SELECT o_orderkey, o_custkey,
      |  CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END AS in_v1
      |FROM orders
      |WHERE o_orderkey <= 500
      |ORDER BY o_orderkey""".stripMargin

  /** a59: SQL DELETE through the correctness gate — `DELETE FROM` on
    * a catalog lake table publishes a DELETION-VECTOR version (no data
    * file rewritten; the spec asserts dirs byte-untouched), then the
    * read-back of the surviving keys must equal what the raw orders
    * parquet predicts. Proves the whole chain: catalog resolution →
    * SupportsDelete → v1-filter → Column translation → `erase`'s
    * position-keyed DV → merge-on-read subtraction on the next SQL
    * read. Reference: the reference pipeline's cleanup step drops
    * stale control rows before each warehouse load. */
  def a59SqlDelete(spark: SparkSession, dir: String): DataFrame = {
    val fmt = graft.sources.CommitLogTableFormat
    val table = lakeDir(dir, "a59t")
    val wh = lakeDir(dir, "a59wh")
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(table), true)
    fmt.commit(spark, table,
      Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey")),
      "a59c")
    spark.conf.set("spark.sql.catalog.graft_cat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.lake")
    spark.sql("DROP TABLE IF EXISTS graft_cat.lake.a59t")
    spark.sql(s"CREATE TABLE graft_cat.lake.a59t USING graft LOCATION '$table'")
    spark.sql(
      """DELETE FROM graft_cat.lake.a59t
        |WHERE o_orderkey >= 100 AND o_orderkey < 300""".stripMargin)
    spark.sql(
      """SELECT o_orderkey, o_custkey
        |FROM graft_cat.lake.a59t
        |WHERE o_orderkey <= 500
        |ORDER BY o_orderkey""".stripMargin)
  }

  val a59Sql: String =
    """SELECT o_orderkey, o_custkey FROM orders
      |WHERE o_orderkey <= 500
      |  AND NOT (o_orderkey >= 100 AND o_orderkey < 300)
      |ORDER BY o_orderkey""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a59_sql_delete" -> (a59SqlDelete _),
    "a58_sql_insert" -> (a58SqlInsert _),
    "a57_catalog_sql" -> (a57CatalogSql _),
    "a56_decimal_pruned_read" -> (a56DecimalPrunedRead _),
    "a55_change_feed_stream" -> (a55ChangeFeedStream _),
    "a54_partial_compact" -> (a54PartialCompact _),
    "a53_sql_lake_read" -> (a53SqlLakeRead _),
    "a52_checked_load" -> (a52CheckedLoad _),
    "a51_bloom_point_read" -> (a51BloomPointRead _),
    "a50_schema_evolution" -> (a50SchemaEvolution _),
    "a49_mor_upsert" -> (a49MorUpsert _),
    "a48_change_feed" -> (a48ChangeFeed _),
    "a47_lake_history" -> (a47LakeHistory _),
    "a46_referential_integrity" -> (a46ReferentialIntegrity _),
    "a45_pruned_source_read" -> (a45PrunedSourceRead _),
    "a44_pruned_read" -> (a44PrunedRead _),
    "a43_cdc_conflicts" -> (a43CdcConflicts _),
    "a42_access_export" -> (a42AccessExport _),
    "a41_dp_release_plan" -> (a41DpReleasePlan _),
    "a40_t_closeness" -> (a40TCloseness _),
    "a39_l_diversity" -> (a39LDiversity _),
    "a38_k_anonymity" -> (a38KAnonymity _),
    "a37_erasure_plan" -> (a37ErasurePlan _),
    "a36_incremental_agg" -> (a36IncrementalAgg _),
    "a35_fd_audit" -> (a35FdAudit _),
    "a34_pit_lookup" -> (a34PitLookup _),
    "a33_overlap_depth" -> (a33OverlapDepth _),
    "a32_backfill_plan" -> (a32BackfillPlan _),
    "a31_zone_map_audit" -> (a31ZoneMapAudit _),
    "a30_cluster_plan" -> (a30ClusterPlan _),
    "a29_status_report" -> (a29StatusReport _),
    "a28_late_data_audit" -> (a28LateDataAudit _),
    "a27_drift_sketch" -> (a27DriftSketch _),
    "a26_retention_plan" -> (a26RetentionPlan _),
    "a25_compaction_plan" -> (a25CompactionPlan _),
    "a24_scd2_build" -> (a24Scd2Build _),
    "a23_quality_rules" -> (a23QualityRules _),
    "a22_partition_skew" -> (a22PartitionSkew _),
    "a21_snapshot_diff" -> (a21SnapshotDiff _),
    "a20_schema_drift" -> (a20SchemaDrift _),
    "a19_lease_reclaim" -> (a19LeaseReclaim _),
    "a18_incremental_partitions" -> (a18IncrementalPartitions _),
    "a17_retry_schedule" -> (a17RetrySchedule _),
    "a14_html_extract" -> (a14HtmlExtract _),
    "a15_manifest_reconcile" -> (a15ManifestReconcile _),
    "a16_workitem_explode" -> (a16WorkitemExplode _),
    "a13_config_writeback" -> (a13ConfigWriteback _),
    "a12_profile" -> (a12Profile _),
    "a11_due_sources" -> (a11DueSources _),
    "a1_pending_filter" -> (a1PendingFilter _),
    "a2_control_merge" -> (a2ControlMerge _),
    "a3_promote_partition" -> (a3PromotePartition _),
    "a4_registry_enrich" -> (a4RegistryEnrich _),
    "a5_city_score" -> (a5CityScore _),
    "a6_completion_stats" -> (a6CompletionStats _),
    "a7_cdc_compact" -> (a7CdcCompact _),
    "a8_key_promote" -> (a8KeyPromote _),
    "a9_error_writeback" -> (a9ErrorWriteback _),
    "a10_url_expand" -> (a10UrlExpand _))

  val oracles: Map[String, String] = Map(
    "a59_sql_delete" -> a59Sql,
    "a58_sql_insert" -> a58Sql,
    "a57_catalog_sql" -> a57Sql,
    "a56_decimal_pruned_read" -> a56Sql,
    "a55_change_feed_stream" -> a55Sql,
    "a54_partial_compact" -> a54Sql,
    "a53_sql_lake_read" -> a53Sql,
    "a52_checked_load" -> a52Sql,
    "a51_bloom_point_read" -> a51Sql,
    "a50_schema_evolution" -> a50Sql,
    "a49_mor_upsert" -> a49Sql,
    "a48_change_feed" -> a48Sql,
    "a47_lake_history" -> a47Sql,
    "a46_referential_integrity" -> a46Sql,
    "a45_pruned_source_read" -> a45Sql,
    "a44_pruned_read" -> a44Sql,
    "a43_cdc_conflicts" -> a43Sql,
    "a42_access_export" -> a42Sql,
    "a41_dp_release_plan" -> a41Sql,
    "a40_t_closeness" -> a40Sql,
    "a39_l_diversity" -> a39Sql,
    "a38_k_anonymity" -> a38Sql,
    "a37_erasure_plan" -> a37Sql,
    "a36_incremental_agg" -> a36Sql,
    "a35_fd_audit" -> a35Sql,
    "a34_pit_lookup" -> a34Sql,
    "a33_overlap_depth" -> a33Sql,
    "a32_backfill_plan" -> a32Sql,
    "a31_zone_map_audit" -> a31Sql,
    "a30_cluster_plan" -> a30Sql,
    "a29_status_report" -> a29Sql,
    "a28_late_data_audit" -> a28Sql,
    "a26_retention_plan" -> a26Sql,
    "a25_compaction_plan" -> a25Sql,
    "a24_scd2_build" -> a24Sql,
    "a23_quality_rules" -> a23Sql,
    "a22_partition_skew" -> a22Sql,
    "a21_snapshot_diff" -> a21Sql,
    "a20_schema_drift" -> a20Sql,
    "a19_lease_reclaim" -> a19Sql,
    "a18_incremental_partitions" -> a18Sql,
    "a17_retry_schedule" -> a17Sql,
    "a14_html_extract" -> a14Sql,
    "a15_manifest_reconcile" -> a15Sql,
    "a16_workitem_explode" -> a16Sql,
    "a13_config_writeback" -> a13Sql,
    "a12_profile" -> a12Sql,
    "a11_due_sources" -> a11Sql,
    "a1_pending_filter" -> a1Sql,
    "a2_control_merge" -> a2Sql,
    "a3_promote_partition" -> a3Sql,
    "a4_registry_enrich" -> a4Sql,
    "a5_city_score" -> a5Sql,
    "a6_completion_stats" -> a6Sql,
    "a7_cdc_compact" -> a7Sql,
    "a8_key_promote" -> a8Sql,
    "a9_error_writeback" -> a9Sql,
    "a10_url_expand" -> a10Sql)
}
