package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Tables => T}

/** Scalar-function surface: string / date / math / array / json / map —
  * SURVEY.md §2.2 "Scalar functions".
  *
  * The reference has no expression language at all (its parser recognizes
  * two statement prefixes, `/root/reference/db.cpp:428-441`); this module
  * declares the function packs a real engine needs, all as codegen'd
  * built-ins from `org.apache.spark.sql.functions` — no UDFs, so every
  * expression stays inside whole-stage codegen at 100 TB.
  */
object Functions {
  type Q = (SparkSession, String) => DataFrame

  /** String pack: upper/lower/substring/length/concat/replace/LIKE —
    * includes R3's length guard (`db.cpp:416-419`) as `length()`. */
  val fnString: Q = (s, d) =>
    T.part(s, d).select(
      col("p_partkey"),
      upper(col("p_name")).as("name_upper"),
      lower(col("p_type")).as("type_lower"),
      substring(col("p_name"), 1, 5).as("name_pre"),
      length(col("p_name")).cast("long").as("name_len"),
      concat(col("p_brand"), lit("#"), col("p_type")).as("brand_type"),
      regexp_replace(col("p_name"), " ", "_").as("name_snake"),
      col("p_name").like("%a%").as("has_a"))
      .orderBy(col("p_partkey"))

  /** Map pack: per-user map(event_type → count), built then exploded —
    * MapType round-trips through an aggregation. */
  val fnMap: Q = (s, d) =>
    T.events(s, d)
      .groupBy(col("user_id"), col("event_type")).agg(count(lit(1)).as("n"))
      .groupBy(col("user_id"))
      .agg(map_from_entries(collect_list(struct(col("event_type"), col("n")))).as("m"))
      .select(col("user_id"), explode(col("m")).as(Seq("event_type", "n")))
      .orderBy(col("user_id"), col("event_type"))

  /** UNPIVOT (melt) — the inverse reshape of `agg_pivot`: the three
    * per-line metrics turn wide→long as (key, metric, value) rows via the
    * native `Dataset.unpivot` (Spark's Expand-based melt — per-row
    * generation, no shuffle before the declared sort). Values share one
    * double type, passed through bit-exactly. */
  val fnUnpivot: Q = (s, d) =>
    T.lineitem(s, d)
      .filter(col("l_orderkey") % 199 === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("double").as("quantity"),
        col("l_extendedprice").cast("double").as("extendedprice"),
        col("l_discount").cast("double").as("discount"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("quantity"), col("extendedprice"), col("discount")),
        "metric", "value")
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric"))

  /** URL pack: structured extraction (host / path / query param) from a
    * URL column via the native `parse_url`. The harness tables carry no
    * URLs, so the query PLANTS one deterministically from key columns —
    * the same recipe as `text_pii` — and the oracle recomputes the parts
    * from the same keys (engine-independent ground truth rather than a
    * second regex implementation). */
  val fnUrl: Q = (s, d) =>
    T.events(s, d)
      .filter(col("event_id") % 97 === 0)
      .withColumn("url", concat(
        lit("https://ex"), (col("event_id") % 5).cast("string"),
        lit(".com/p/"), col("user_id").cast("string"),
        lit("?q="), (col("event_id") % 7).cast("string"), lit("&s=1")))
      .select(col("event_id"), col("url"),
        parse_url(col("url"), lit("HOST")).as("host"),
        parse_url(col("url"), lit("PATH")).as("path"),
        parse_url(col("url"), lit("QUERY"), lit("q")).cast("long").as("q_val"))
      .orderBy(col("event_id"))

  /** TRY-variant error handling — the ingestion-safety pack (ANSI mode
    * turns malformed input into job-killing exceptions; the `try_`
    * family turns it into NULLs a pipeline can quarantine): planted
    * dirty strings (valid / padded / empty / sentinel / overflow) go
    * through `try_cast`, division hits planted zeros through
    * `try_divide`, and out-of-bounds access through `try_element_at`.
    * Per-row projection — fuses into the scan; the quarantine filter
    * (`IS NULL` on the parsed column) is then an ordinary pushable
    * predicate. */
  val fnTry: Q = (s, d) =>
    T.customer(s, d)
      .filter(col("c_custkey") % 11 === 0)
      .withColumn("amount_str",
        when(col("c_custkey") % 5 === 0, lit("  42 "))
          .when(col("c_custkey") % 5 === 1, lit(""))
          .when(col("c_custkey") % 5 === 2, lit("N/A"))
          .when(col("c_custkey") % 5 === 3, lit("9999999999"))
          .otherwise(col("c_custkey").cast("string")))
      .select(col("c_custkey"),
        expr("try_cast(amount_str AS INT)").as("parsed"),
        expr("try_divide(CAST(c_acctbal AS DECIMAL(12,2))," +
          " CAST(c_custkey % 3 AS DECIMAL(12,2)))")
          .cast("double").as("ratio"),
        expr("try_element_at(split(c_name, '#')," +
          " CAST(c_custkey % 3 + 1 AS INT))").as("name_part"),
        expr("try_cast(amount_str AS INT) IS NULL").as("quarantined"))
      .orderBy(col("c_custkey"))

  /** Geo pack: HAVERSINE great-circle distance + proximity flag over
    * synthetic nation coordinates (the engine's portable md5-48 hash
    * scaled into lat/lon — division by 2⁴⁸ and the affine rescale are
    * exact in IEEE, so both engines hold bit-identical doubles; the
    * `join_spatial` recipe). All 25×24/2 nation pairs score
    * 2·R·asin(√(sin²(Δφ/2) + cosφ₁·cosφ₂·sin²(Δλ/2))), R = 6371 km,
    * written as ONE fixed expression shape (x·x, not pow) in both
    * engines and rounded to 2 — the sub-ulp libm spread of sin/cos/asin
    * is ~9 orders below the rounding grain. The pair triangle is an
    * enumeration-sized broadcast cross join (the sanctioned shape);
    * per-row trig fuses into codegen — at 100 TB this pack runs at scan
    * speed on point-pair streams. */
  val fnGeo: Q = (s, d) => {
    val h = graft.expr.Md5Prefix48.md548 _
    val two48 = math.pow(2.0, 48)
    val n = T.nation(s, d).select(col("n_nationkey"),
      ((h(concat(col("n_name"), lit("lat"))).cast("double") / two48)
        * 180.0 - 90.0).as("lat"),
      ((h(concat(col("n_name"), lit("lon"))).cast("double") / two48)
        * 360.0 - 180.0).as("lon"))
    val a = n.select(col("n_nationkey").as("ka"), col("lat").as("lat_a"),
      col("lon").as("lon_a"))
    val b = n.select(col("n_nationkey").as("kb"), col("lat").as("lat_b"),
      col("lon").as("lon_b"))
    val sdlat = sin(radians(col("lat_b") - col("lat_a")) / 2.0)
    val sdlon = sin(radians(col("lon_b") - col("lon_a")) / 2.0)
    val hav = sdlat * sdlat +
      cos(radians(col("lat_a"))) * cos(radians(col("lat_b"))) * sdlon * sdlon
    a.crossJoin(broadcast(b)).filter(col("ka") < col("kb"))
      .select(col("ka"), col("kb"),
        round(lit(2.0) * lit(6371.0) * asin(sqrt(hav)), 2).as("dist_km"))
      .withColumn("near", col("dist_km") <= 5000.0)
      .orderBy(col("ka"), col("kb"))
  }

  /** VARIANT pack — Spark 4's binary semi-structured type (the
    * lakehouse answer to string-JSON columns): each event's `props`
    * payload plus typed context packs into ONE nested JSON document,
    * `parse_json` encodes it as VARIANT ONCE, and every later field
    * access is a typed `variant_get` path probe against the binary
    * encoding — `fn_json`'s `get_json_object` re-parses the string per
    * call, which at 100 TB is the difference between one decode at
    * ingest and a decode per expression. The declared result folds the
    * variant-extracted fields per event type (exact integer sums), so
    * the oracle — DuckDB's JSON extraction over the identically
    * constructed document — proves the VARIANT round trip value-exact. */
  val fnVariant: Q = (s, d) => {
    val doc = concat(
      lit("{\"u\":"), col("user_id").cast("string"),
      lit(",\"m\":{\"k\":"),
      get_json_object(col("props"), "$.k"),
      lit(",\"t\":\""), col("event_type"), lit("\"}}"))
    T.events(s, d)
      .select(col("event_id"), parse_json(doc).as("v"))
      .select(col("event_id"),
        variant_get(col("v"), "$.u", "bigint").as("u"),
        variant_get(col("v"), "$.m.k", "bigint").as("k"),
        variant_get(col("v"), "$.m.t", "string").as("t"))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        countDistinct(col("u")).as("n_users"),
        sum(when(col("k") >= 50L, 1L).otherwise(0L)).as("k_hi"))
      .orderBy(col("t"))
  }

  val oracles: Map[String, String] = Map(
    // same constructed document, DuckDB JSON extraction (VARIANT is
    // engine-internal; value equality is the declared contract)
    "fn_variant" ->
      """WITH j AS (
        |  SELECT event_id,
        |    '{"u":' || CAST(user_id AS STRING) || ',"m":{"k":'
        |      || json_extract_string(props, '$.k') || ',"t":"'
        |      || event_type || '"}}' AS doc
        |  FROM events),
        |v AS (
        |  SELECT event_id,
        |    CAST(json_extract(doc, '$.u') AS BIGINT) AS u,
        |    CAST(json_extract(doc, '$.m.k') AS BIGINT) AS k,
        |    json_extract_string(doc, '$.m.t') AS t
        |  FROM j)
        |SELECT t, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(k) AS BIGINT) AS sum_k,
        |  CAST(COUNT(DISTINCT u) AS BIGINT) AS n_users,
        |  CAST(SUM(CASE WHEN k >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS k_hi
        |FROM v GROUP BY t ORDER BY t""".stripMargin,

    "fn_geo" ->
      """WITH n AS (SELECT n_nationkey,
        |    CAST(CAST('0x' || substr(md5(n_name || 'lat'), 1, 12) AS BIGINT)
        |      AS DOUBLE) / 281474976710656.0 * 180.0 - 90.0 AS lat,
        |    CAST(CAST('0x' || substr(md5(n_name || 'lon'), 1, 12) AS BIGINT)
        |      AS DOUBLE) / 281474976710656.0 * 360.0 - 180.0 AS lon
        |  FROM nation),
        |pairs AS (
        |  SELECT a.n_nationkey AS ka, b.n_nationkey AS kb,
        |    a.lat AS lat_a, a.lon AS lon_a, b.lat AS lat_b, b.lon AS lon_b
        |  FROM n a CROSS JOIN n b WHERE a.n_nationkey < b.n_nationkey),
        |scored AS (
        |  SELECT ka, kb,
        |    CAST(round(2.0 * 6371.0 * asin(sqrt(
        |      sin(radians(lat_b - lat_a) / 2.0)
        |        * sin(radians(lat_b - lat_a) / 2.0)
        |      + cos(radians(lat_a)) * cos(radians(lat_b))
        |        * sin(radians(lon_b - lon_a) / 2.0)
        |        * sin(radians(lon_b - lon_a) / 2.0))), 2) AS DOUBLE)
        |      AS dist_km
        |  FROM pairs)
        |SELECT ka, kb, dist_km, dist_km <= 5000.0 AS near
        |FROM scored ORDER BY ka, kb""".stripMargin,

    // try-family: DuckDB TRY_CAST + guarded division mirror Spark's
    // null-on-error semantics (both trim on numeric casts, both null
    // out-of-range and out-of-bounds)
    "fn_try" ->
      """SELECT c_custkey,
        |  TRY_CAST(amount_str AS INTEGER) AS parsed,
        |  CASE WHEN c_custkey % 3 = 0 THEN NULL
        |       ELSE CAST(c_acctbal AS DOUBLE)
        |         / CAST(c_custkey % 3 AS DOUBLE)
        |  END AS ratio,
        |  string_split(c_name, '#')[CAST(c_custkey % 3 + 1 AS INTEGER)]
        |    AS name_part,
        |  TRY_CAST(amount_str AS INTEGER) IS NULL AS quarantined
        |FROM (
        |  SELECT c_custkey, c_acctbal, c_name,
        |    CASE WHEN c_custkey % 5 = 0 THEN '  42 '
        |         WHEN c_custkey % 5 = 1 THEN ''
        |         WHEN c_custkey % 5 = 2 THEN 'N/A'
        |         WHEN c_custkey % 5 = 3 THEN '9999999999'
        |         ELSE CAST(c_custkey AS VARCHAR) END AS amount_str
        |  FROM customer WHERE c_custkey % 11 = 0)
        |ORDER BY c_custkey""".stripMargin,

    // masking: md5_48 pseudonym re-derived from the same hex prefix;
    // floor-banding on the raw double is identical IEEE both sides
    "fn_mask" ->
      """SELECT
        |  CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 12)
        |    AS BIGINT) AS pseudo_key,
        |  substr(c_name, 1, 2) || repeat('*', len(c_name) - 2)
        |    AS masked_name,
        |  CAST(floor(c_acctbal / 100.0) * 100 AS BIGINT) AS bal_band,
        |  c_nationkey
        |FROM customer WHERE c_custkey % 7 = 0
        |ORDER BY pseudo_key""".stripMargin,

    "fn_regex" ->
      """SELECT p_partkey,
        |  regexp_extract(p_name, '([a-z]+)$', 1) AS noun,
        |  regexp_extract(p_name, '^([a-z]+)', 1) AS adj,
        |  CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS BIGINT) AS n_vowels,
        |  regexp_replace(p_name, '^([a-z]+) ([a-z]+)$', '\2 \1') AS swapped,
        |  regexp_matches(p_name, '^(small|large)') AS is_sized
        |FROM part ORDER BY p_partkey""".stripMargin,

    "fn_url" ->
      """SELECT event_id,
        |  'https://ex' || (event_id % 5) || '.com/p/' || user_id
        |    || '?q=' || (event_id % 7) || '&s=1' AS url,
        |  'ex' || (event_id % 5) || '.com' AS host,
        |  '/p/' || user_id AS path,
        |  CAST(event_id % 7 AS BIGINT) AS q_val
        |FROM events WHERE event_id % 97 = 0
        |ORDER BY event_id""".stripMargin,
    "fn_bitwise" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_orderkey & 255 AS k_and,
        |  l_orderkey | 4096 AS k_or,
        |  xor(l_orderkey, l_partkey) AS k_xor,
        |  ~l_orderkey AS k_not,
        |  l_orderkey << 3 AS k_shl,
        |  l_partkey >> 2 AS k_shr,
        |  CAST(bit_count(l_partkey) AS INTEGER) AS k_pop
        |FROM lineitem WHERE l_orderkey < 200
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "fn_unpivot" ->
      """SELECT l_orderkey, l_linenumber, metric, value FROM (
        |  SELECT l_orderkey, l_linenumber, 'quantity' AS metric,
        |    CAST(l_quantity AS DOUBLE) AS value
        |  FROM lineitem WHERE l_orderkey % 199 = 0
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'extendedprice',
        |    CAST(l_extendedprice AS DOUBLE)
        |  FROM lineitem WHERE l_orderkey % 199 = 0
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'discount',
        |    CAST(l_discount AS DOUBLE)
        |  FROM lineitem WHERE l_orderkey % 199 = 0)
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,

    "fn_string" ->
      """SELECT p_partkey, upper(p_name) AS name_upper,
        |  lower(p_type) AS type_lower,
        |  substring(p_name, 1, 5) AS name_pre,
        |  CAST(length(p_name) AS BIGINT) AS name_len,
        |  p_brand || '#' || p_type AS brand_type,
        |  replace(p_name, ' ', '_') AS name_snake,
        |  (p_name LIKE '%a%') AS has_a
        |FROM part ORDER BY p_partkey""".stripMargin,

    "fn_date" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS y,
        |  CAST(month(o_orderdate) AS BIGINT) AS m,
        |  CAST(day(o_orderdate) AS BIGINT) AS dom,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS q,
        |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
        |  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "fn_math" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(ROUND(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,8)), 2) AS DOUBLE) AS revenue,
        |  abs(l_discount - 0.05) AS disc_dev,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
        |  sqrt(l_quantity) AS qty_sqrt,
        |  l_tax * l_tax AS tax_sq
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "fn_array" ->
      """SELECT vec_id,
        |  CAST(len(embedding) AS BIGINT) AS n_dims,
        |  embedding[1] AS e0,
        |  round(sqrt((SELECT SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
        |              FROM UNNEST(embedding) t(x))), 6) AS l2_norm,
        |  round((SELECT SUM(CAST(x AS DOUBLE)) FROM UNNEST(embedding) t(x))
        |        / len(embedding), 6) AS mean_val
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "fn_json" ->
      """SELECT event_id, event_type,
        |  CAST(regexp_extract(props, '"k":\s*(-?[0-9]+)', 1) AS BIGINT) AS k_val,
        |  CAST(regexp_extract(props, '"k":\s*(-?[0-9]+)', 1) AS BIGINT) AS k_struct
        |FROM events
        |WHERE CAST(regexp_extract(props, '"k":\s*(-?[0-9]+)', 1) AS BIGINT) > 50
        |ORDER BY event_id""".stripMargin,

    "fn_map" ->
      """SELECT user_id, event_type, COUNT(*) AS n
        |FROM events GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin,
  )
}
