package graft.operators

import graft.Q
import graft.Q.QueryFn

/** Scalar-function surface (SURVEY.md §2.7 rows: math, conditional,
  * string, binary/hash, regex, date/time, array, struct, map, JSON,
  * expansion). The reference inherits these from DataFusion's function
  * library (docs/docs/sql/7-scalar_functions.md); Spark SQL covers them
  * natively — each query below exercises a family end-to-end against the
  * DuckDB oracle.
  *
  * Queries run through the SQL path (graft.Q.fromSql) because function
  * coverage is exactly what SQL text expresses best; where the Spark and
  * DuckDB dialects coincide the same text is the oracle.
  */
object Functions {

  // ---- shared texts (identical in Spark SQL and DuckDB) ----

  private val q23Sql =
    """SELECT p_partkey,
      |  upper(p_name) AS up, lower(p_brand) AS lo,
      |  CAST(length(p_name) AS BIGINT) AS len,
      |  substring(p_name, 1, 10) AS sub10,
      |  concat_ws('-', p_brand, p_type) AS cw,
      |  lpad(p_brand, 12, '*') AS lp, rpad(p_brand, 12, '*') AS rp,
      |  reverse(p_brand) AS rev,
      |  translate(p_name, 'aeiou', '12345') AS tr,
      |  split_part(p_type, ' ', 1) AS first_word,
      |  replace(p_name, ' ', '_') AS repl,
      |  CAST(instr(p_name, 'a') AS BIGINT) AS pos_a,
      |  CAST(levenshtein(p_brand, 'Brand#11') AS BIGINT) AS lev,
      |  CAST(ascii(substring(p_name, 1, 1)) AS BIGINT) AS asc1,
      |  trim(concat(' ', p_name, ' ')) AS trm
      |FROM part
      |WHERE p_partkey < 200
      |ORDER BY p_partkey""".stripMargin

  private val q24Sql =
    """SELECT l_orderkey, l_linenumber,
      |  round(abs(l_discount - 0.05), 4) AS v_abs,
      |  CAST(ceil(l_extendedprice / 1000) AS BIGINT) AS v_ceil,
      |  CAST(floor(l_extendedprice / 1000) AS BIGINT) AS v_floor,
      |  round(sqrt(l_quantity), 6) AS v_sqrt,
      |  round(ln(l_extendedprice), 6) AS v_ln,
      |  round(log10(l_extendedprice), 6) AS v_log10,
      |  round(exp(l_discount), 6) AS v_exp,
      |  round(power(l_quantity, 2), 2) AS v_pow,
      |  mod(l_orderkey, 7) AS v_mod,
      |  CAST(sign(l_discount - 0.05) AS BIGINT) AS v_sign,
      |  round(pi(), 6) AS v_pi
      |FROM lineitem
      |WHERE l_orderkey < 100
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  private val q29Sql = // explode/unnest differ, but aggregate shape is shared
    """SELECT word, count(*) AS n
      |FROM (%s) t
      |GROUP BY word
      |ORDER BY n DESC, word
      |LIMIT 30"""

  // ---- per-dialect texts ----

  private val q25Spark =
    """SELECT o_orderkey,
      |  CAST(year(o_orderdate) AS BIGINT) AS yr,
      |  CAST(month(o_orderdate) AS BIGINT) AS mo,
      |  CAST(day(o_orderdate) AS BIGINT) AS dy,
      |  CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
      |  CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
      |  CAST((dayofweek(o_orderdate) + 5) % 7 + 1 AS BIGINT) AS isodow,
      |  date_format(date_trunc('month', o_orderdate), 'yyyy-MM-dd') AS month_start,
      |  date_format(last_day(o_orderdate), 'yyyy-MM-dd') AS month_end,
      |  date_format(date_add(CAST(o_orderdate AS DATE), 30), 'yyyy-MM-dd') AS plus30,
      |  CAST(datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01') AS BIGINT) AS days_since,
      |  CAST(unix_timestamp(o_orderdate) AS BIGINT) AS epoch_s,
      |  date_format(make_date(2020, month(o_orderdate), 15), 'yyyy-MM-dd') AS mk
      |FROM orders
      |WHERE o_orderkey < 500
      |ORDER BY o_orderkey""".stripMargin

  private val q25Duck =
    """SELECT o_orderkey,
      |  CAST(year(o_orderdate) AS BIGINT) AS yr,
      |  CAST(month(o_orderdate) AS BIGINT) AS mo,
      |  CAST(day(o_orderdate) AS BIGINT) AS dy,
      |  CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
      |  CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
      |  CAST(isodow(o_orderdate) AS BIGINT) AS isodow,
      |  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
      |  strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
      |  strftime(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
      |  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since,
      |  CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
      |  strftime(make_date(2020, CAST(month(o_orderdate) AS INT), 15), '%Y-%m-%d') AS mk
      |FROM orders
      |WHERE o_orderkey < 500
      |ORDER BY o_orderkey""".stripMargin

  // date_bin equivalent: 15-minute buckets over the nanosecond event
  // stream (reference: DataFusion date_bin, docs/docs/sql/7-scalar_functions.md).
  // Spark reads TIMESTAMP(NANOS) as epoch-nano BIGINT (nanosAsLong).
  private val q26Spark =
    """SELECT ts DIV 900000000000 * 900 AS bucket_s, event_type,
      |  count(*) AS n,
      |  round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY bucket_s, event_type""".stripMargin

  private val q26Duck =
    """SELECT epoch_ns(ts) // 900000000000 * 900 AS bucket_s, event_type,
      |  count(*) AS n,
      |  round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY bucket_s, event_type""".stripMargin

  private val q27Spark =
    """SELECT p_partkey,
      |  regexp_extract(p_type, '^([A-Z]+)', 1) AS first_token,
      |  (regexp_extract(p_type, '^(STANDARD)', 1) = 'STANDARD') AS is_std,
      |  regexp_replace(p_name, '[aeiou]', '*') AS starred,
      |  CAST(length(p_name) - length(regexp_replace(p_name, '[aeiou]', '')) AS BIGINT) AS n_vowels
      |FROM part
      |WHERE p_partkey < 300
      |ORDER BY p_partkey""".stripMargin

  private val q27Duck =
    """SELECT p_partkey,
      |  regexp_extract(p_type, '^([A-Z]+)', 1) AS first_token,
      |  (regexp_extract(p_type, '^(STANDARD)', 1) = 'STANDARD') AS is_std,
      |  regexp_replace(p_name, '[aeiou]', '*', 'g') AS starred,
      |  CAST(length(p_name) - length(regexp_replace(p_name, '[aeiou]', '', 'g')) AS BIGINT) AS n_vowels
      |FROM part
      |WHERE p_partkey < 300
      |ORDER BY p_partkey""".stripMargin

  private val q28Spark =
    """SELECT doc_id,
      |  CAST(size(split(text, ' ')) AS BIGINT) AS n_words,
      |  array_join(slice(split(text, ' '), 1, 3), '-') AS first3,
      |  CAST(size(array_distinct(split(text, ' '))) AS BIGINT) AS n_distinct,
      |  array_min(split(text, ' ')) AS w_min,
      |  array_max(split(text, ' ')) AS w_max,
      |  array_contains(split(text, ' '), 'the') AS has_the,
      |  array_join(reverse(slice(split(text, ' '), 1, 5)), ' ') AS rev5,
      |  array_join(array_sort(array_distinct(slice(split(text, ' '), 1, 8))), ',') AS sorted8
      |FROM documents
      |WHERE doc_id < 100
      |ORDER BY doc_id""".stripMargin

  private val q28Duck =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |  array_to_string(string_split(text, ' ')[1:3], '-') AS first3,
      |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
      |  list_min(string_split(text, ' ')) AS w_min,
      |  list_max(string_split(text, ' ')) AS w_max,
      |  list_contains(string_split(text, ' '), 'the') AS has_the,
      |  array_to_string(list_reverse(string_split(text, ' ')[1:5]), ' ') AS rev5,
      |  array_to_string(list_sort(list_distinct(string_split(text, ' ')[1:8])), ',') AS sorted8
      |FROM documents
      |WHERE doc_id < 100
      |ORDER BY doc_id""".stripMargin

  private val q29Spark = q29Sql.format(
    "SELECT explode(split(text, ' ')) AS word FROM documents").stripMargin
  private val q29Duck = q29Sql.format(
    "SELECT unnest(string_split(text, ' ')) AS word FROM documents").stripMargin

  private val q30Spark =
    """SELECT event_type,
      |  count(*) AS n,
      |  CAST(sum(CAST(get_json_object(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  count(CASE WHEN get_json_object(props, '$.k') IS NOT NULL THEN 1 END) AS n_with_k,
      |  max(CAST(json_array_length('[1,2,3]') AS BIGINT)) AS lit_arr_len
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  private val q30Duck =
    """SELECT event_type,
      |  count(*) AS n,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  count(CASE WHEN json_extract_string(props, '$.k') IS NOT NULL THEN 1 END) AS n_with_k,
      |  max(CAST(json_array_length('[1,2,3]') AS BIGINT)) AS lit_arr_len
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  private val q31Spark =
    """SELECT c_custkey,
      |  named_struct('seg', c_mktsegment, 'bal', round(c_acctbal, 2)).seg AS seg_field,
      |  named_struct('seg', c_mktsegment, 'bal', round(c_acctbal, 2)).bal AS bal_field,
      |  map('segment', c_mktsegment)['segment'] AS map_val,
      |  map_keys(map('a', 1, 'b', 2))[0] AS first_key,
      |  CAST(size(map('a', 1, 'b', 2)) AS BIGINT) AS map_size
      |FROM customer
      |WHERE c_custkey < 100
      |ORDER BY c_custkey""".stripMargin

  private val q31Duck =
    """SELECT c_custkey,
      |  struct_pack(seg := c_mktsegment, bal := round(c_acctbal, 2)).seg AS seg_field,
      |  struct_pack(seg := c_mktsegment, bal := round(c_acctbal, 2)).bal AS bal_field,
      |  MAP(['segment'], [c_mktsegment])['segment'][1] AS map_val,
      |  map_keys(MAP(['a','b'], [1,2]))[1] AS first_key,
      |  CAST(cardinality(MAP(['a','b'], [1,2])) AS BIGINT) AS map_size
      |FROM customer
      |WHERE c_custkey < 100
      |ORDER BY c_custkey""".stripMargin

  private val q32Spark =
    """SELECT doc_id,
      |  md5(text) AS h_md5,
      |  sha2(text, 256) AS h_sha256,
      |  base64(CAST(substring(text, 1, 30) AS BINARY)) AS b64,
      |  lower(hex(n_chars)) AS hex_len
      |FROM documents
      |WHERE doc_id < 100
      |ORDER BY doc_id""".stripMargin

  private val q32Duck =
    """SELECT doc_id,
      |  md5(text) AS h_md5,
      |  sha256(text) AS h_sha256,
      |  to_base64(CAST(substring(text, 1, 30) AS BLOB)) AS b64,
      |  lower(hex(n_chars)) AS hex_len
      |FROM documents
      |WHERE doc_id < 100
      |ORDER BY doc_id""".stripMargin

  // ---- ema window UDF (functions/EmaWindow.scala) ----
  // Both sides fold left over the lang-partition series in doc_id order
  // with IDENTICAL double arithmetic: α·x + (1 − α)·acc, α = 0.3, the
  // (1 − α) complement computed in DOUBLE on both engines (a DECIMAL
  // 1 − 0.3 = 0.7 exactly is a DIFFERENT double than IEEE 1.0 − 0.3).

  private val q119Spark =
    """WITH scored AS (
      |  SELECT doc_id, lang,
      |    CAST(size(filter(split(text, ' '), w -> length(w) > 0)) AS BIGINT)
      |      AS n_words
      |  FROM documents
      |)
      |SELECT doc_id, lang, n_words,
      |  round(ema(CAST(n_words AS DOUBLE), 0.3)
      |    OVER (PARTITION BY lang ORDER BY doc_id), 6) AS ema_words
      |FROM scored ORDER BY doc_id""".stripMargin

  private val q119Duck =
    """WITH scored AS (
      |  SELECT doc_id, lang,
      |    CAST(len(list_filter(string_split(text, ' '), w -> len(w) > 0))
      |      AS BIGINT) AS n_words
      |  FROM documents
      |), w AS (
      |  SELECT doc_id, lang, n_words,
      |    list_reduce(
      |      list(CAST(n_words AS DOUBLE)) OVER (PARTITION BY lang
      |        ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |      (acc, v) -> CAST(0.3 AS DOUBLE) * v +
      |        (1 - CAST(0.3 AS DOUBLE)) * acc) AS ema_words
      |  FROM scored
      |)
      |SELECT doc_id, lang, n_words, round(ema_words, 6) AS ema_words
      |FROM w ORDER BY doc_id""".stripMargin

  // ---- registry ----

  val queries: Map[String, QueryFn] = Map(
    "q23_string_funcs" -> Q.fromSql(q23Sql),
    "q24_math_funcs" -> Q.fromSql(q24Sql),
    "q25_datetime_funcs" -> Q.fromSql(q25Spark),
    "q26_date_bin" -> Q.fromSql(q26Spark),
    "q27_regex_funcs" -> Q.fromSql(q27Spark),
    "q28_array_funcs" -> Q.fromSql(q28Spark),
    "q29_explode_unnest" -> Q.fromSql(q29Spark),
    "q30_json_funcs" -> Q.fromSql(q30Spark),
    "q31_struct_map" -> Q.fromSql(q31Spark),
    "q32_hash_funcs" -> Q.fromSql(q32Spark),
    "q119_ema" -> ((s, dir) => {
      graft.functions.Registry.install(s)
      graft.Tables.register(s, dir)
      s.sql(q119Spark)
    })
  )

  val oracle: Map[String, String] = Map(
    "q119_ema" -> q119Duck,
    "q23_string_funcs" -> q23Sql,
    "q24_math_funcs" -> q24Sql,
    "q25_datetime_funcs" -> q25Duck,
    "q26_date_bin" -> q26Duck,
    "q27_regex_funcs" -> q27Duck,
    "q28_array_funcs" -> q28Duck,
    "q29_explode_unnest" -> q29Duck,
    "q30_json_funcs" -> q30Duck,
    "q31_struct_map" -> q31Duck,
    "q32_hash_funcs" -> q32Duck
  )
}
