package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.expr.TextExprs

/** Scalar-function sweep (SURVEY.md §2.2): string, date/time, math,
  * array, and JSON functions — all `org.apache.spark.sql.functions`
  * built-ins so everything stays inside whole-stage codegen (no UDFs
  * anywhere on the hot path).
  *
  * Cross-engine determinism notes:
  *  - int-returning Spark functions (length, size, levenshtein, year…)
  *    are cast to long to match DuckDB's BIGINT;
  *  - transcendental outputs (ln, pow) are rounded to 6 dp — JVM vs
  *    libm may differ in the last ulp;
  *  - float array elements are cast to double (exact widening) before
  *    comparison.
  */
object Scalars {

  // ---------------------------------------------------------------- q20
  def q20StringFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(
        $"doc_id",
        TextExprs.upper($"lang").as("lang_upper"),
        TextExprs.lower($"source").as("source_lower"),
        substring($"text", 1, 12).as("prefix12"),
        length($"text").cast("long").as("text_len"),
        concat_ws("-", $"lang", $"source").as("tag"),
        regexp_extract($"text", "^(\\w+)", 1).as("first_word"),
        regexp_replace(substring($"text", 1, 20), " ", "_").as("snake20"),
        size(split($"text", " ")).cast("long").as("n_tokens"),
        levenshtein($"lang", $"source").cast("long").as("lev_dist"),
        reverse($"lang").as("lang_rev"),
        trim(lit("  pad  ")).as("trimmed"))
      .orderBy($"doc_id")
  }

  private val q20Oracle =
    """SELECT doc_id,
      |  upper(lang) AS lang_upper,
      |  lower(source) AS source_lower,
      |  substring(text, 1, 12) AS prefix12,
      |  length(text) AS text_len,
      |  concat_ws('-', lang, source) AS tag,
      |  regexp_extract(text, '^(\w+)', 1) AS first_word,
      |  replace(substring(text, 1, 20), ' ', '_') AS snake20,
      |  len(string_split(text, ' ')) AS n_tokens,
      |  levenshtein(lang, source) AS lev_dist,
      |  reverse(lang) AS lang_rev,
      |  trim('  pad  ') AS trimmed
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q21
  def q21DateFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .filter($"o_orderkey" < 500)
      .select(
        $"o_orderkey",
        year($"o_orderdate").cast("long").as("yr"),
        month($"o_orderdate").cast("long").as("mon"),
        dayofmonth($"o_orderdate").cast("long").as("dom"),
        date_trunc("month", $"o_orderdate").as("month_start"),
        date_format($"o_orderdate", "yyyy-MM-dd").as("ymd"),
        unix_timestamp($"o_orderdate").as("epoch_s"),
        datediff(lit("2002-01-01").cast("date"), $"o_orderdate".cast("date"))
          .cast("long").as("days_to_2002"),
        // serialized to ISO text: DATE columns round-trip through the
        // comparison harness differently per engine (datetime.date vs
        // datetime64); the string surface is engine-identical.
        date_format(date_add($"o_orderdate".cast("date"), 30), "yyyy-MM-dd")
          .as("plus30"))
      .orderBy($"o_orderkey")
  }

  private val q21Oracle =
    """SELECT o_orderkey,
      |  year(o_orderdate) AS yr,
      |  month(o_orderdate) AS mon,
      |  day(o_orderdate) AS dom,
      |  date_trunc('month', o_orderdate) AS month_start,
      |  strftime(o_orderdate, '%Y-%m-%d') AS ymd,
      |  CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
      |  date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_2002,
      |  strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS plus30
      |FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q22
  def q22MathFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_orderkey" < 300)
      .select(
        $"l_orderkey",
        $"l_linenumber".cast("long").as("l_linenumber"),
        $"l_quantity", $"l_extendedprice",
        abs($"l_discount" - 0.05).as("disc_dev"),
        ($"l_extendedprice" / $"l_quantity").as("unit_price"),
        sqrt($"l_extendedprice").as("sqrt_price"),
        round(log($"l_extendedprice"), 6).as("ln_price"),
        pow($"l_quantity", 2).as("qty_sq"),
        floor($"l_extendedprice" / 1000.0).cast("long").as("price_bucket"),
        ceil($"l_quantity" / 7.0).cast("long").as("qty_bucket"),
        ($"l_orderkey" % 7).as("key_mod"))
      .orderBy($"l_orderkey", $"l_linenumber", $"l_extendedprice", $"l_quantity")
  }

  private val q22Oracle =
    """SELECT l_orderkey,
      |  CAST(l_linenumber AS BIGINT) AS l_linenumber,
      |  l_quantity, l_extendedprice,
      |  abs(l_discount - 0.05) AS disc_dev,
      |  l_extendedprice / l_quantity AS unit_price,
      |  sqrt(l_extendedprice) AS sqrt_price,
      |  round(ln(l_extendedprice), 6) AS ln_price,
      |  pow(l_quantity, 2) AS qty_sq,
      |  CAST(floor(l_extendedprice / 1000.0) AS BIGINT) AS price_bucket,
      |  CAST(ceil(l_quantity / 7.0) AS BIGINT) AS qty_bucket,
      |  l_orderkey % 7 AS key_mod
      |FROM lineitem WHERE l_orderkey < 300
      |ORDER BY l_orderkey, l_linenumber, l_extendedprice, l_quantity""".stripMargin

  // ---------------------------------------------------------------- q23
  /** Array ops incl. lateral posexplode over the embedding vectors. */
  def q23ArrayFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, dir)
      .filter($"vec_id" < 3)
      .select($"vec_id", posexplode($"embedding").as(Seq("pos", "val")))
      .select($"vec_id", $"pos".cast("long").as("pos"),
        $"val".cast("double").as("val"))
      .orderBy($"vec_id", $"pos")
  }

  private val q23Oracle =
    """SELECT vec_id, CAST(i - 1 AS BIGINT) AS pos,
      |  CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS val
      |FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
      |WHERE vec_id < 3
      |ORDER BY vec_id, pos""".stripMargin

  // ---------------------------------------------------------------- q24
  /** JSON extraction from the events.props string column. */
  def q24JsonFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select($"event_id",
        get_json_object($"props", "$.k").cast("long").as("k"))
      .filter($"k" >= 50)
      .orderBy($"event_id")
  }

  private val q24Oracle =
    """SELECT event_id,
      |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |FROM events
      |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q25
  /** Map functions: build a map column, list its keys, explode it to
    * rows — over `nation` so the output is small and total-ordered. */
  def q25MapFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.nation(s, dir)
      .select($"n_nationkey",
        map(lit("nation_key"), $"n_nationkey".cast("double"),
            lit("region_key"), $"n_regionkey".cast("double")).as("m"))
      .select($"n_nationkey",
        array_join(map_keys($"m"), ",").as("keys_csv"),
        explode($"m"))
      .select($"n_nationkey".cast("long").as("n_nationkey"),
        $"keys_csv", $"key", $"value")
      .orderBy($"n_nationkey", $"key")
  }

  private val q25Oracle =
    """SELECT n_nationkey, keys_csv, key, value FROM (
      |  SELECT CAST(n_nationkey AS BIGINT) n_nationkey,
      |    'nation_key,region_key' keys_csv,
      |    'nation_key' AS key, CAST(n_nationkey AS DOUBLE) AS value FROM nation
      |  UNION ALL
      |  SELECT CAST(n_nationkey AS BIGINT), 'nation_key,region_key',
      |    'region_key', CAST(n_regionkey AS DOUBLE) FROM nation)
      |ORDER BY n_nationkey, key""".stripMargin

  // ---------------------------------------------------------------- q395
  /** Nested-struct surgery (`Column.withField` / `dropFields`) — the
    * semi-structured conformance stage every ingest of nested
    * payloads needs: add a computed field INSIDE a nested struct
    * (charges.net_cents), overwrite an existing field in place
    * (qty re-typed to BIGINT), and drop a deprecated one
    * (charges.tax) — all without exploding or re-packing the struct
    * by hand. Spark plans the three edits as ONE `update_fields`
    * projection at scan grain (PlanSpec pins no shuffle below the
    * final sort and the dropped field absent from the schema), which
    * is the 100-TB point: conformance over deep structs is a
    * column-level rewrite, never a row explosion. The readout
    * re-extracts the surgered fields as scalars; the oracle computes
    * them straight off the flat columns — if any edit landed in the
    * wrong slot the values or the (spec-pinned) schema diverge. */
  def q395StructSurgery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    nestedConform(Tables.lineitem(s, dir).where($"l_orderkey" < 200L))
      .select($"l_orderkey", $"l_linenumber",
        $"payload.qty".as("qty"),
        $"payload.charges.net_cents".as("net_cents"))
      .orderBy($"l_orderkey", $"l_linenumber", $"qty", $"net_cents")
  }

  /** Pack + surger on any lineitem-shaped frame — separated so the
    * spec can pin the post-surgery schema (tax gone, net_cents
    * present, qty re-typed) on a one-row plant. */
  private[graft] def nestedConform(li: DataFrame): DataFrame = {
    val s = li.sparkSession
    import s.implicits._
    li.select($"l_orderkey", $"l_linenumber",
      struct(
        $"l_quantity".as("qty"),
        $"l_extendedprice".as("price"),
        struct($"l_tax".as("tax"), $"l_discount".as("disc")).as("charges"))
        .as("payload"))
      .withColumn("payload", $"payload"
        .withField("charges.net_cents",
          expr("""CAST(round(payload.price
            |  * (1.0D - payload.charges.disc) * 100D) AS BIGINT)"""
            .stripMargin))
        .withField("qty", expr("CAST(round(payload.qty) AS BIGINT)"))
        .dropFields("charges.tax"))
  }

  private val q395Oracle =
    """SELECT l_orderkey, l_linenumber,
      |  CAST(round(l_quantity) AS BIGINT) AS qty,
      |  CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)
      |    AS net_cents
      |FROM lineitem WHERE l_orderkey < 200
      |ORDER BY l_orderkey, l_linenumber, qty, net_cents""".stripMargin

  // ---------------------------------------------------------------- q403
  /** The `try_*` defensive-arithmetic family — the per-expression
    * safety valves that make ANSI mode livable: the whole engine runs
    * ANSI-strict (a bad cast or division by zero FAILS the query, the
    * correct default for a warehouse), and `try_divide` / `try_add` /
    * `try_cast` / `try_element_at` are the opt-in NULL-on-error
    * escape hatches for the specific columns where dirty data is
    * expected, not a bug. Planted rows drive each failure mode
    * (zero denominator, BIGINT overflow at Long.MaxValue, an
    * unparseable number, an out-of-range list index) plus one clean
    * row proving the happy path is untouched; a corpus row counts
    * lineitem rows whose quantity-minus-25 denominator is zero —
    * the null count IS the dirty-row audit, no second pass. The
    * oracle mirrors each valve with its DuckDB equivalent (TRY_CAST;
    * guarded CASE for div/overflow; DuckDB lists already NULL on
    * out-of-range). All scan-grain projections. */
  def q403TryArithmetic(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val maxL = Long.MaxValue
    val planted = Seq(
      (1L, 100L, 7L, 5L, "42", 2),
      (2L, 100L, 0L, 5L, "42", 2),      // zero denominator
      (3L, 100L, 7L, maxL, "42", 2),    // overflow on add
      (4L, 100L, 7L, 5L, "12x", 2),     // unparseable cast
      (5L, 100L, 7L, 5L, "42", 99))     // out-of-range element
      .toDF("id", "num", "den", "big", "s", "idx")
    val perRow = planted.select($"id",
      expr("try_divide(num, den)").cast("double").as("div_q"),
      expr("try_add(big, big)").as("add_q"),
      expr("try_cast(s AS BIGINT)").as("cast_q"),
      expr("try_element_at(array(10L, 20L, 30L), idx)").as("elem_q"))
    val corpus = Tables.lineitem(s, dir)
      .select(expr("try_divide(CAST(round(l_extendedprice * 100D) AS BIGINT)," +
        " CAST(l_quantity AS BIGINT) - 25L)").as("unit"))
      .agg(sum(when($"unit".isNull, 1L).otherwise(0L)).as("n_dirty"))
      .select(lit(100L).as("id"), lit(null).cast("double").as("div_q"),
        $"n_dirty".as("add_q"), lit(null).cast("long").as("cast_q"),
        lit(null).cast("long").as("elem_q"))
    perRow.unionByName(corpus).orderBy($"id")
  }

  private val q403Oracle = {
    val maxL = Long.MaxValue
    s"""WITH p AS (
       |  SELECT * FROM (VALUES
       |    (1, 100, 7, 5, '42', 2),
       |    (2, 100, 0, 5, '42', 2),
       |    (3, 100, 7, $maxL, '42', 2),
       |    (4, 100, 7, 5, '12x', 2),
       |    (5, 100, 7, 5, '42', 99))
       |    AS t(id, num, den, big, s, idx)),
       |rows0 AS (
       |  SELECT CAST(id AS BIGINT) AS id,
       |    CASE WHEN den = 0 THEN NULL
       |         ELSE CAST(num AS DOUBLE) / den END AS div_q,
       |    CASE WHEN big > $maxL - big THEN NULL
       |         ELSE CAST(big + big AS BIGINT) END AS add_q,
       |    TRY_CAST(s AS BIGINT) AS cast_q,
       |    CAST(([10, 20, 30])[idx] AS BIGINT) AS elem_q
       |  FROM p
       |  UNION ALL
       |  SELECT 100, NULL,
       |    CAST(sum(CASE WHEN CAST(l_quantity AS BIGINT) = 25 THEN 1
       |      ELSE 0 END) AS BIGINT),
       |    NULL, NULL
       |  FROM lineitem)
       |SELECT id, div_q, add_q, cast_q, elem_q FROM rows0
       |ORDER BY id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q403_try_arithmetic" -> (q403TryArithmetic _),
    "q395_struct_surgery" -> (q395StructSurgery _),
    "q20_string_funcs" -> (q20StringFuncs _),
    "q21_date_funcs"   -> (q21DateFuncs _),
    "q22_math_funcs"   -> (q22MathFuncs _),
    "q23_array_funcs"  -> (q23ArrayFuncs _),
    "q24_json_funcs"   -> (q24JsonFuncs _),
    "q25_map_funcs"    -> (q25MapFuncs _),
  )

  val oracles: Map[String, String] = Map(
    "q403_try_arithmetic" -> q403Oracle,
    "q395_struct_surgery" -> q395Oracle,
    "q20_string_funcs" -> q20Oracle,
    "q21_date_funcs"   -> q21Oracle,
    "q22_math_funcs"   -> q22Oracle,
    "q23_array_funcs"  -> q23Oracle,
    "q24_json_funcs"   -> q24Oracle,
    "q25_map_funcs"    -> q25Oracle,
  )
}
