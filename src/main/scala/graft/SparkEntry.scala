package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` has a DuckDB-equivalent in `oracleSql` (same
  * column names, same deterministic ORDER BY). Float aggregates are
  * round()ed so partial-aggregation order (Spark) vs sequential order
  * (DuckDB) can't flip the hash compare; integral-valued doubles (e.g.
  * l_quantity) are exact either way.
  */
object SparkEntry {

  // Base-table DataFrames are memoized per (session, dir, table) ONLY
  // when the harness opts in via spark.graft.cacheTables (GraftSession
  // does): a DataFrame is an immutable logical plan, so reuse is
  // safe there, and it skips re-listing files + re-reading parquet
  // footers on every one of the 60+ registered queries. The library
  // default stays uncached — a long-lived process would otherwise be
  // served a stale file listing after a rewrite, and the static map
  // would pin every session it ever saw.
  private val tableCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String, String), DataFrame]()

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val widen = s.conf.get("spark.graft.widenReads", "false")
    if (s.conf.get("spark.graft.cacheTables", "false") == "true")
      tableCache.computeIfAbsent((s, dir, name, widen),
        _ => load(s, dir, name, widen == "true"))
    else load(s, dir, name, widen == "true")
  }

  private def load(s: SparkSession, dir: String, name: String,
                   widen: Boolean): DataFrame = {
    val df = s.read.parquet(s"$dir/$name.parquet")
    // events.ts fixture type has varied across driver generations:
    // TIMESTAMP(NANOS) (Spark reads as long under
    // spark.sql.legacy.parquet.nanosAsLong=true — truncate ns -> us
    // exactly like DuckDB does) or plain timestamp[us] without
    // isAdjustedToUTC (Spark reads as TIMESTAMP_NTZ — reinterpret as
    // session-local TIMESTAMP, exact under the UTC session timezone the
    // harness pins). Either way downstream sees TimestampType, so
    // unix_micros()/session_window() keep resolving and oracles agree.
    val fixed =
      if (name == "events" && df.schema("ts").dataType ==
          org.apache.spark.sql.types.LongType)
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else if (name == "events" && df.schema("ts").dataType ==
          org.apache.spark.sql.types.TimestampNTZType)
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      else df
    // The fixture parquet is one row group -> one scan partition, so the
    // Verify/Bench harnesses opt in to a round-robin spread via
    // spark.graft.widenReads (filters still push through the repartition
    // to the scan). Library default is NO repartition: at real scale the
    // scan is already split by maxPartitionBytes and an unconditional
    // exchange would be a gratuitous full-table shuffle.
    if (widen) fixed.repartition(s.sparkContext.defaultParallelism)
    else fixed
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    coreQueries ++ NorthStar.queries ++ SqlSurface.queries ++
      CurationQueries.queries ++ WarehouseQueries.queries ++
      MiningQueries.queries ++ QualityQueries.queries ++
      AnalyticsQueries.queries ++ RetrievalQueries.queries ++
      SearchQueries.queries ++ TokenizerQueries.queries

  def oracleSql: Map[String, String] =
    coreOracleSql ++ NorthStar.oracleSql ++ SqlSurface.oracleSql ++
      CurationQueries.oracleSql ++ WarehouseQueries.oracleSql ++
      MiningQueries.oracleSql ++ QualityQueries.oracleSql ++
      AnalyticsQueries.oracleSql ++ RetrievalQueries.oracleSql ++
      SearchQueries.oracleSql ++ TokenizerQueries.oracleSql

  private def coreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // A-ops/§2.6 + F-ops: scan -> filter -> groupBy -> agg -> sort (TPC-H Q1 shape)
    "q01_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"),
          // money sums aggregate in DECIMAL: double partial-sum order can
          // shift rounded cents once totals reach ~1e10 (see q14)
          round(sum(col("l_extendedprice").cast("decimal(28,6)")).cast("double"), 2)
            .as("sum_base_price"),
          round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(28,6)")).cast("double"), 2).as("sum_disc_price"),
          round(avg("l_quantity"), 6).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // §2.7 top-k => TakeOrderedAndProject (no global sort at scale)
    "q02_topk_orders" -> ((s, dir) => {
      t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    }),

    // §2.5 joins: fact -> dim chain with broadcast dims (nation is tiny at any SF)
    "q03_revenue_by_nation" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val customer = t(s, dir, "customer")
      val nation = t(s, dir, "nation")
      orders
        .join(customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum(col("o_totalprice").cast("decimal(28,6)")).cast("double"), 2)
          .as("revenue"), count(lit(1)).as("n_orders"))
        .orderBy("n_name")
    }),

    // §2.5 left anti join (orphan detection shape: sf_orphan_data)
    "q04_customers_without_orders" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    // §2.5 left semi join (EXISTS)
    "q05_customers_with_1997_orders" -> ((s, dir) => {
      val o97 = t(s, dir, "orders")
        .filter(year(col("o_orderdate")) === 1997)
      t(s, dir, "customer")
        .join(o97, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    }),

    // §2.7 window functions over append-history shape (lag / row_number)
    "q06_order_gaps" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("days_since_prev",
          datediff(col("o_orderdate"), lag("o_orderdate", 1).over(w)))
        .select("o_custkey", "o_orderkey", "rn", "days_since_prev")
        .orderBy("o_custkey", "rn")
    }),

    // §2.6 rollup (Tier-B dashboard shape)
    "q07_status_rollup" -> ((s, dir) => {
      t(s, dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(28,6)")).cast("double"), 2)
            .as("total_price"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))
    }),

    // §2.8 U1: permissive union across heterogeneous schemas
    "q08_union_entities" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_name").as("name"), col("c_acctbal").as("acctbal"),
          col("c_mktsegment").as("segment"))
      val sup = t(s, dir, "supplier")
        .select(col("s_name").as("name"), col("s_acctbal").as("acctbal"))
      Unions.unionPermissive(c, sup)
        .orderBy("name")
    }),

    // §2.8 distinct (exact row dedup)
    "q09_distinct_flags" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select("l_returnflag", "l_linestatus")
        .distinct()
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // §2.9 JSON extraction (events.props is JSON-in-string)
    "q10_json_extract" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("k_val", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(sum("k_val").as("sum_k"), count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    // C1 urlLevels on synthesized URLs (testdata has no URL column; derive
    // one deterministically so the oracle can rebuild it)
    "q11_url_levels" -> ((s, dir) => {
      val url = when(col("doc_id") % 3 === 0, lit("https://www.example.de"))
        .otherwise(concat(lit("https://www.example.de/"), col("lang"),
          lit("/"), col("source"), lit("/doc"), col("doc_id")))
      Urls.withUrlLevels(
        t(s, dir, "documents").withColumn("url", url), "url")
        .select("doc_id", "root", "directory", "page_level1", "page_level2")
        .orderBy("doc_id")
    }),

    // C2/C3 regex classification (website_type + doctype)
    "q12_url_classify" -> ((s, dir) => {
      val url = concat(
        when(col("doc_id") % 3 === 0, lit("https://www.example.de/dir/page"))
          .when(col("doc_id") % 3 === 1, lit("https://blog.example.de/dir/page"))
          .otherwise(lit("https://other.com/dir/page")),
        when(col("doc_id") % 5 === 0, lit(".jpg")).otherwise(lit("")))
      t(s, dir, "documents")
        .withColumn("url", url)
        .withColumn("website_type", Urls.websiteType(col("url"),
          "https?://www\\.example\\.de.*",
          "https?://(?!www\\.)[a-zA-Z0-9-]+\\.example\\.de.*"))
        .withColumn("doctype", Urls.doctype(col("url"),
          Seq("jpg", "jpeg", "png", "gif", "svg", "webp")))
        .groupBy("website_type", "doctype")
        .agg(count(lit(1)).as("n"), min("doc_id").as("min_doc"))
        .orderBy("website_type", "doctype")
    }),

    // C4-C8 date ops
    "q13_date_ops" -> ((s, dir) => {
      t(s, dir, "orders")
        .withColumn("order_day", date_format(col("o_orderdate"), "yyyy-MM-dd"))
        .withColumn("order_year", year(col("o_orderdate")).cast("long"))
        .withColumn("order_month", month(col("o_orderdate")).cast("long"))
        .withColumn("days_to_ref",
          datediff(lit("2002-01-01").cast("date"), col("o_orderdate"))
            .cast("long"))
        .withColumn("iso_roundtrip", Dates.parseIsoDate(
          date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss'Z'")))
        .withColumn("german_roundtrip", Dates.parseGermanDate(
          date_format(col("o_orderdate"), "dd.MM.yyyy")))
        .select("o_orderkey", "order_day", "order_year", "order_month",
          "days_to_ref", "iso_roundtrip", "german_roundtrip")
        .orderBy("o_orderkey")
    }),

    // C9 German locale decimal parse "1.234,56" -> 1234.56 (built from
    // integer columns so the string is bit-identical in both engines)
    "q14_locale_decimal" -> ((s, dir) => {
      val german = concat(
        col("l_orderkey").cast("string"), lit("."),
        lpad((col("l_partkey") % 1000).cast("string"), 3, "0"), lit(","),
        lpad((col("l_suppkey") % 100).cast("string"), 2, "0"))
      t(s, dir, "lineitem")
        .withColumn("german_str", german)
        .withColumn("parsed", Casts.localeDecimal(col("german_str")))
        .groupBy("l_returnflag")
        // sum in DECIMAL: double partial-sum order shifts the last cent at
        // 1e13 magnitude (ulp ~2e-3), so rounded doubles diverge from the
        // oracle at large SF; decimal aggregation is exact and associative
        .agg(round(sum(col("parsed").cast("decimal(18,2)")).cast("double"), 2)
          .as("sum_parsed"), count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),

    // C10/C11 coercing casts (junk -> null -> default)
    "q15_coerce_cast" -> ((s, dir) => {
      val mixed = when(col("l_orderkey") % 2 === 0, col("l_orderkey").cast("string"))
        .otherwise(concat(lit("x"), col("l_returnflag")))
      t(s, dir, "lineitem")
        .withColumn("mixed", mixed)
        .withColumn("coerced_long", Casts.coerceLong(col("mixed")))
        .withColumn("filled_double", Casts.fillDouble(col("mixed")))
        .groupBy("l_linestatus")
        .agg(sum("coerced_long").as("sum_coerced"),
          round(sum("filled_double"), 2).as("sum_filled"),
          count(lit(1)).as("n"))
        .orderBy("l_linestatus")
    }),

    // A1/A2/C14 horizontal concat (merge chunked columns, skip-null concat)
    "q16_concat_ops" -> ((s, dir) => {
      t(s, dir, "customer")
        .withColumn("merged", Casts.mergeChunkColumns(
          Seq(col("c_name"), nullif(col("c_mktsegment"), lit("BUILDING")))))
        .withColumn("joined", Casts.concatSkipNull(", ",
          Seq(nullif(col("c_mktsegment"), lit("BUILDING")), col("c_name"))))
        .select("c_custkey", "merged", "joined")
        .orderBy("c_custkey")
    }),

    // A4/V2 existence gate as a 1-row data-quality query
    "q17_quality_gate" -> ((s, dir) => {
      t(s, dir, "events")
        .agg(
          sum(when(col("event_type") === "error" && col("value") > 180, 1L)
            .otherwise(0L)).as("n_bad"),
          count(lit(1)).as("n_total"))
    })
  )

  // ----------------------------------------------------------- oracle SQL

  private def coreOracleSql: Map[String, String] = Map(

    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE), 2)
        |    AS sum_base_price,
        |  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(28,6))) AS DOUBLE), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "q03_revenue_by_nation" ->
      """SELECT n_name,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE), 2)
        |    AS revenue, count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q04_customers_without_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q05_customers_with_1997_orders" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND year(o_orderdate) = 1997)
        |ORDER BY c_custkey""".stripMargin,

    "q06_order_gaps" ->
      """SELECT o_custkey, o_orderkey,
        |  row_number() OVER w AS rn,
        |  date_diff('day', lag(o_orderdate, 1) OVER w, o_orderdate) AS days_since_prev
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, rn""".stripMargin,

    "q07_status_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE), 2)
        |    AS total_price
        |FROM orders
        |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q08_union_entities" ->
      """SELECT * FROM (
        |  SELECT c_name AS name, c_acctbal AS acctbal, c_mktsegment AS segment
        |  FROM customer
        |  UNION ALL
        |  SELECT s_name, s_acctbal, NULL FROM supplier)
        |ORDER BY name""".stripMargin,

    "q09_distinct_flags" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q10_json_extract" ->
      """SELECT event_type,
        |  CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k, count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q11_url_levels" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'https://www.example.de'
        |         ELSE concat('https://www.example.de/', lang, '/', source,
        |                     '/doc', doc_id) END AS url
        |  FROM documents)
        |SELECT doc_id,
        |  nullif(split_part(url, '/', 3), '') AS root,
        |  nullif(split_part(url, '/', 4), '') AS directory,
        |  nullif(split_part(url, '/', 5), '') AS page_level1,
        |  nullif(split_part(url, '/', 6), '') AS page_level2
        |FROM u ORDER BY doc_id""".stripMargin,

    "q12_url_classify" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    concat(CASE WHEN doc_id % 3 = 0 THEN 'https://www.example.de/dir/page'
        |                WHEN doc_id % 3 = 1 THEN 'https://blog.example.de/dir/page'
        |                ELSE 'https://other.com/dir/page' END,
        |           CASE WHEN doc_id % 5 = 0 THEN '.jpg' ELSE '' END) AS url
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    CASE WHEN regexp_matches(url, 'https?://www\.example\.de.*')
        |           THEN 'Internal'
        |         WHEN regexp_matches(url, 'https?://[a-zA-Z0-9-]+\.example\.de.*')
        |          AND NOT regexp_matches(url, 'https?://www\.example\.de.*')
        |           THEN 'Whitelabel'
        |         ELSE 'External' END AS website_type,
        |    CASE WHEN regexp_matches(lower(url),
        |           '.*\.(jpg|jpeg|png|gif|svg|webp)([?#].*)?$')
        |         THEN 'Picture' ELSE 'HTML' END AS doctype
        |  FROM u)
        |SELECT website_type, doctype, count(*) AS n, min(doc_id) AS min_doc
        |FROM c GROUP BY website_type, doctype
        |ORDER BY website_type, doctype""".stripMargin,

    "q13_date_ops" ->
      """SELECT o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_day,
        |  year(o_orderdate) AS order_year,
        |  month(o_orderdate) AS order_month,
        |  date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_ref,
        |  CAST(strptime(strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ'),
        |       '%Y-%m-%dT%H:%M:%SZ') AS DATE) AS iso_roundtrip,
        |  CAST(strptime(strftime(o_orderdate, '%d.%m.%Y'),
        |       '%d.%m.%Y') AS DATE) AS german_roundtrip
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q14_locale_decimal" ->
      """WITH g AS (
        |  SELECT l_returnflag,
        |    concat(CAST(l_orderkey AS VARCHAR), '.',
        |           lpad(CAST(l_partkey % 1000 AS VARCHAR), 3, '0'), ',',
        |           lpad(CAST(l_suppkey % 100 AS VARCHAR), 2, '0')) AS german_str
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  round(CAST(sum(CAST(replace(replace(german_str, '.', ''), ',', '.')
        |    AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_parsed,
        |  count(*) AS n
        |FROM g GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q15_coerce_cast" ->
      """WITH m AS (
        |  SELECT l_linestatus,
        |    CASE WHEN l_orderkey % 2 = 0 THEN CAST(l_orderkey AS VARCHAR)
        |         ELSE concat('x', l_returnflag) END AS mixed
        |  FROM lineitem)
        |SELECT l_linestatus,
        |  CAST(sum(coalesce(TRY_CAST(mixed AS BIGINT), 0)) AS BIGINT) AS sum_coerced,
        |  round(sum(coalesce(TRY_CAST(mixed AS DOUBLE), 0.0)), 2) AS sum_filled,
        |  count(*) AS n
        |FROM m GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "q16_concat_ops" ->
      """SELECT c_custkey,
        |  concat(coalesce(c_name, ''),
        |         coalesce(nullif(c_mktsegment, 'BUILDING'), '')) AS merged,
        |  concat_ws(', ', nullif(c_mktsegment, 'BUILDING'), c_name) AS joined
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q17_quality_gate" ->
      """SELECT
        |  CAST(sum(CASE WHEN event_type = 'error' AND value > 180
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
        |  count(*) AS n_total
        |FROM events""".stripMargin
  )
}
