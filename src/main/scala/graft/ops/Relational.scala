package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftSession, Tables}

/** Core relational operator sweep (SURVEY.md §2.2): scan, filter,
  * projection, joins (all variants), aggregation, windows, set ops,
  * sort/limit/top-k.
  *
  * Determinism contract with the DuckDB oracle (SURVEY.md §7.4):
  *  - every query ends in a total-order ORDER BY;
  *  - double aggregates are computed in exact DECIMAL then cast to
  *    double, so Spark's partial-agg ordering can't change the result;
  *  - integer-typed computed outputs are cast to BIGINT/long on both
  *    sides (Spark row_number is int, DuckDB's is int64).
  *
  * Scale notes: dimension joins (region/nation/customer/supplier/part)
  * are explicitly `broadcast()`-hinted — at 100 TB the fact table never
  * shuffles for a dim join. Aggregations are declarative groupBy/agg so
  * Catalyst plans partial (map-side) aggregation automatically.
  */
object Relational {

  /** Exact-decimal cast for 2-dp synthetic money/quantity columns. */
  private def dec(c: Column): Column  = c.cast("decimal(12,2)")
  /** Exact-decimal cast for 2-dp rate columns (discount/tax in [0,1]). */
  private def rate(c: Column): Column = c.cast("decimal(4,2)")
  private val one = lit(1).cast("decimal(3,2)")
  /** Deterministic sum of a 2-dp double column: exact decimal sum → double. */
  private def dsum(c: Column): Column = sum(dec(c)).cast("double")

  // ---------------------------------------------------------------- q01
  /** TPC-H Q1 shape: scan → filter (pushed to parquet) → hash agg → sort. */
  def q01PricingSummary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        dsum($"l_quantity").as("sum_qty"),
        dsum($"l_extendedprice").as("sum_base_price"),
        sum(dec($"l_extendedprice") * (one - rate($"l_discount")))
          .cast("double").as("sum_disc_price"),
        sum(dec($"l_extendedprice") * (one - rate($"l_discount")) * (one + rate($"l_tax")))
          .cast("double").as("sum_charge"),
        (sum(dec($"l_quantity")).cast("double") / count(lit(1))).as("avg_qty"),
        (sum(dec($"l_extendedprice")).cast("double") / count(lit(1))).as("avg_price"),
        (sum(rate($"l_discount")).cast("double") / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  private val q01Oracle =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
      |  CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q02
  /** Filter + projection: predicates and column pruning reach the scan. */
  def q02FilterProject(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_quantity" > 45.0 && $"l_discount" >= 0.05 &&
        $"l_shipdate" >= lit("1997-01-01").cast("timestamp") &&
        $"l_returnflag" =!= "A")
      .select($"l_orderkey", $"l_linenumber".cast("long").as("l_linenumber"),
        $"l_quantity", $"l_extendedprice", $"l_returnflag")
      .orderBy($"l_orderkey", $"l_linenumber", $"l_extendedprice", $"l_quantity", $"l_returnflag")
  }

  private val q02Oracle =
    """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
      |       l_quantity, l_extendedprice, l_returnflag
      |FROM lineitem
      |WHERE l_quantity > 45.0 AND l_discount >= 0.05
      |  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_returnflag <> 'A'
      |ORDER BY l_orderkey, l_linenumber, l_extendedprice, l_quantity, l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q03
  /** TPC-H Q5 shape: multiway join, dims broadcast, fact never shuffled
    * for the dim joins — the plan that survives a 100× scale-up. */
  def q03RevenueByNation(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li  = Tables.lineitem(s, dir)
    val ord = Tables.orders(s, dir)
      .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
              $"o_orderdate" <  lit("1998-01-01").cast("timestamp"))
    val cust = Tables.customer(s, dir)
    val nat  = Tables.nation(s, dir)
    val reg  = Tables.region(s, dir).filter($"r_name" === "ASIA")
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .join(broadcast(nat), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(reg), $"n_regionkey" === $"r_regionkey")
      .groupBy($"n_name")
      .agg(sum(dec($"l_extendedprice") * (one - rate($"l_discount")))
        .cast("double").as("revenue"))
      .orderBy($"revenue".desc, $"n_name")
  }

  private val q03Oracle =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  // ---------------------------------------------------------------- q12
  /** Window top-k per group: row_number + filter (the scalable top-k). */
  def q12TopKPerGroup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    Tables.orders(s, dir)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter($"rn" <= 3)
      .select($"o_orderpriority", $"rn", $"o_orderkey", $"o_totalprice")
      .orderBy($"o_orderpriority", $"rn")
  }

  private val q12Oracle =
    """SELECT o_orderpriority, rn, o_orderkey, o_totalprice FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
      |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
      |  FROM orders) t
      |WHERE rn <= 3
      |ORDER BY o_orderpriority, rn""".stripMargin

  // ---------------------------------------------------------------- q04
  /** LEFT OUTER join + agg over the preserved side (null-producing). */
  def q04LeftJoinAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, dir)
    val ord  = Tables.orders(s, dir)
    cust.join(ord, $"c_custkey" === $"o_custkey", "left")
      .groupBy($"c_custkey", $"c_mktsegment")
      .agg(count($"o_orderkey").as("n_orders"),
        sum(dec($"o_totalprice")).cast("double").as("total_spent"))
      .orderBy($"c_custkey")
  }

  private val q04Oracle =
    """SELECT c_custkey, c_mktsegment, COUNT(o_orderkey) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_spent
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey, c_mktsegment
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q05
  /** LEFT SEMI join — existence without duplication. */
  def q05SemiJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, dir)
    val fOrders = Tables.orders(s, dir).filter($"o_orderstatus" === "F")
    cust.join(fOrders, $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_name", $"c_acctbal")
      .orderBy($"c_custkey")
  }

  private val q05Oracle =
    """SELECT c_custkey, c_name, c_acctbal FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q06
  /** LEFT ANTI join — customers with no orders at all. */
  def q06AntiJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name", $"c_nationkey".cast("long").as("c_nationkey"))
      .orderBy($"c_custkey")
  }

  private val q06Oracle =
    """SELECT c_custkey, c_name, CAST(c_nationkey AS BIGINT) AS c_nationkey
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q07
  /** FULL OUTER join (null-producing on both sides); explicit null
    * ordering because Spark (NULLS FIRST) and DuckDB (NULLS LAST)
    * disagree on ASC defaults. */
  def q07FullOuterJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nat = Tables.nation(s, dir).select(
      $"n_nationkey".cast("long").as("n_nationkey"), $"n_name")
    val sup = Tables.supplier(s, dir)
      .select($"s_suppkey", $"s_name", $"s_nationkey".cast("long").as("s_nationkey"))
    nat.join(sup, $"n_nationkey" === $"s_nationkey", "full")
      .select($"n_nationkey", $"n_name", $"s_suppkey", $"s_name")
      .orderBy($"n_nationkey".asc_nulls_first, $"s_suppkey".asc_nulls_first)
  }

  private val q07Oracle =
    """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name, s_suppkey, s_name
      |FROM nation FULL JOIN supplier ON n_nationkey = s_nationkey
      |ORDER BY n_nationkey ASC NULLS FIRST, s_suppkey ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- q08
  /** Equi + range (non-equi band) join predicate: lineitem×part where
    * the extended price falls in a band around retail price. Catalyst
    * keeps the equi key for the hash join and applies the band as a
    * post-join filter — the shape that scales. */
  def q08BandJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)),
        $"l_partkey" === $"p_partkey" &&
        $"l_extendedprice" >= $"p_retailprice" &&
        $"l_extendedprice" < $"p_retailprice" * lit(30.0))
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n_items"),
        sum(dec($"l_extendedprice")).cast("double").as("sum_price"))
      .orderBy($"p_brand")
  }

  private val q08Oracle =
    """SELECT p_brand, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      | AND l_extendedprice >= p_retailprice
      | AND l_extendedprice < p_retailprice * 30.0
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  // ---------------------------------------------------------------- q09
  /** DISTINCT aggregates (exact count-distinct shuffles by group+value
    * under the hood — scalable; approx variant lives in TextOps). */
  def q09AggDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .groupBy($"o_orderstatus")
      .agg(countDistinct($"o_custkey").as("n_customers"),
        countDistinct($"o_orderpriority").as("n_priorities"),
        count(lit(1)).as("n_orders"))
      .orderBy($"o_orderstatus")
  }

  private val q09Oracle =
    """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_customers,
      |  COUNT(DISTINCT o_orderpriority) AS n_priorities, COUNT(*) AS n_orders
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- q10
  /** ROLLUP hierarchy totals; sentinel-coalesced keys keep the sort
    * total and dodge cross-engine null-ordering rules. */
  def q10Rollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(dsum($"l_quantity").as("sum_qty"), count(lit(1)).as("n_rows"))
      .select(coalesce($"l_returnflag", lit("ALL")).as("returnflag"),
        coalesce($"l_linestatus", lit("ALL")).as("linestatus"),
        $"sum_qty", $"n_rows")
      .orderBy($"returnflag", $"linestatus")
  }

  private val q10Oracle =
    """SELECT COALESCE(l_returnflag,'ALL') AS returnflag,
      |  COALESCE(l_linestatus,'ALL') AS linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n_rows
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  // ---------------------------------------------------------------- q11
  /** CUBE over two dims. */
  def q11Cube(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(dec($"o_totalprice")).cast("double").as("sum_price"))
      .select(coalesce($"o_orderstatus", lit("ALL")).as("status"),
        coalesce($"o_orderpriority", lit("ALL")).as("priority"),
        $"n_orders", $"sum_price")
      .orderBy($"status", $"priority")
  }

  private val q11Oracle =
    """SELECT COALESCE(o_orderstatus,'ALL') AS status,
      |  COALESCE(o_orderpriority,'ALL') AS priority,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY status, priority""".stripMargin

  // ---------------------------------------------------------------- q13
  /** Running/window aggregates: cumulative sum, lag, lead, rank over a
    * per-customer event sequence. Unique (date, orderkey) ordering
    * makes RANGE==ROWS frames and the result deterministic. */
  def q13RunningWindow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    Tables.orders(s, dir)
      .filter($"o_custkey" <= 100)
      .select($"o_custkey", $"o_orderkey", $"o_totalprice",
        sum(dec($"o_totalprice")).over(w).cast("double").as("running_total"),
        lag($"o_totalprice", 1).over(w).as("prev_price"),
        lead($"o_totalprice", 1).over(w).as("next_price"),
        row_number().over(w).cast("long").as("seq"))
      .orderBy($"o_custkey", $"seq")
  }

  private val q13Oracle =
    """SELECT o_custkey, o_orderkey, o_totalprice,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
      |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DOUBLE) AS running_total,
      |  LAG(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
      |  LEAD(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS seq
      |FROM orders WHERE o_custkey <= 100
      |ORDER BY o_custkey, seq""".stripMargin

  // ---------------------------------------------------------------- q14
  /** Set operations: UNION (distinct), EXCEPT — bag→set semantics
    * identical in Spark and DuckDB. */
  def q14SetOps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, dir)
    val building = cust.filter($"c_mktsegment" === "BUILDING").select($"c_custkey")
    val rich     = cust.filter($"c_acctbal" > 5000.0).select($"c_custkey")
    val lowNat   = cust.filter($"c_nationkey" < 5).select($"c_custkey")
    building.union(rich).distinct().except(lowNat)
      .orderBy($"c_custkey")
  }

  private val q14Oracle =
    """(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      | UNION
      | SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0)
      |EXCEPT
      |SELECT c_custkey FROM customer WHERE c_nationkey < 5
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q15
  /** INTERSECT (set semantics — dedups both sides). */
  def q15Intersect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ord = Tables.orders(s, dir)
    val a = ord.filter($"o_orderstatus" === "O").select($"o_custkey")
    val b = ord.filter($"o_totalprice" > 100000.0).select($"o_custkey")
    a.intersect(b).orderBy($"o_custkey")
  }

  private val q15Oracle =
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE o_totalprice > 100000.0
      |ORDER BY o_custkey""".stripMargin

  // ---------------------------------------------------------------- q38
  /** INTERSECT ALL — bag semantics: a customer with 3 open orders and
    * 2 big orders survives twice. Matters for append-only pipelines
    * where duplicates ARE data; plan-wise it is one shuffle on the
    * value with per-side counts met by min() — no pair explosion. */
  def q38IntersectAll(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ord = Tables.orders(s, dir)
    val a = ord.filter($"o_orderstatus" === "O").select($"o_custkey")
    val b = ord.filter($"o_totalprice" > 100000.0).select($"o_custkey")
    a.intersectAll(b).orderBy($"o_custkey")
  }

  private val q38Oracle =
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |INTERSECT ALL
      |SELECT o_custkey FROM orders WHERE o_totalprice > 100000.0
      |ORDER BY o_custkey""".stripMargin

  // ---------------------------------------------------------------- q39
  /** EXCEPT ALL — bag difference: each left occurrence is cancelled by
    * at most one right occurrence (multiplicity max(la - lb, 0)). */
  def q39ExceptAll(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ord = Tables.orders(s, dir)
    val a = ord.filter($"o_orderstatus" === "O").select($"o_custkey")
    val b = ord.filter($"o_totalprice" > 150000.0).select($"o_custkey")
    a.exceptAll(b).orderBy($"o_custkey")
  }

  private val q39Oracle =
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |EXCEPT ALL
      |SELECT o_custkey FROM orders WHERE o_totalprice > 150000.0
      |ORDER BY o_custkey""".stripMargin

  // ---------------------------------------------------------------- q40
  /** approx_count_distinct (HyperLogLog++) next to the exact count.
    * At 100 TB approximate distinct is the default: the sketch merges
    * map-side in O(1) memory per group where COUNT(DISTINCT) must
    * shuffle every distinct value. The sketch estimate is engine-
    * specific, so the hashed surface carries the exact count plus a
    * BOUNDED check (relative error ≤ 10%, ~2× the default 5% rsd);
    * ExtOpsSpec additionally asserts the tighter observed error. */
  def q40ApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(countDistinct($"l_partkey").as("n_exact"),
        approx_count_distinct($"l_partkey").as("n_approx"))
      .select($"l_returnflag", $"n_exact",
        (abs($"n_approx" - $"n_exact").cast("double") / $"n_exact" <= 0.10)
          .as("approx_within_10pct"))
      .orderBy($"l_returnflag")
  }

  private val q40Oracle =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_partkey) AS n_exact,
      |  TRUE AS approx_within_10pct
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q41
  /** Explicit GROUPING SETS — the general form rollup (q10) and cube
    * (q11) specialize: here (status, priority), (status), and grand
    * total, plus grouping_id so consumers can tell a grouping NULL
    * from a data NULL. One shuffle; Spark expands sets map-side. */
  def q41GroupingSets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .groupingSets(
        Seq(Seq($"o_orderstatus", $"o_orderpriority"), Seq($"o_orderstatus"), Seq()),
        $"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("sum_price"),
        grouping_id().as("gid"))
      .orderBy($"gid", $"o_orderstatus".asc_nulls_first,
        $"o_orderpriority".asc_nulls_first)
  }

  private val q41Oracle =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
      |  GROUPING_ID(o_orderstatus, o_orderpriority) AS gid
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
      |ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- q42
  /** Controlled cross join: the dense (region × order-priority)
    * matrix with order counts, zero cells included — the report shape
    * that needs every combination present even when no fact row
    * exists. `crossJoin` is the one join Catalyst requires you to ask
    * for explicitly, and this is the legitimate use: both sides are
    * tiny dimensions (5×5 product), and the fact side is
    * pre-aggregated to the (region, priority) grain BEFORE the left
    * join onto the matrix, so the cross product never multiplies
    * against fact-table cardinality — at 100 TB the cross join stays
    * a 25-row broadcast no matter how large orders grows. The
    * priority axis is a DECLARED domain ([[orderPriorities]], the
    * TPC-H enumeration, mirrored into the oracle) — deriving it with
    * distinct() over orders would spend a full fact-table pass to
    * learn five constants, and a dense matrix wants declared axes
    * anyway (a priority with zero orders anywhere must still appear). */
  def q42CrossMatrix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val priorities = orderPriorities.toDF("o_orderpriority")
    val counts = Tables.orders(s, dir)
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .join(Tables.nation(s, dir), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_regionkey", $"o_orderpriority".as("pr"))
      .agg(count(lit(1)).as("cnt"))
    Tables.region(s, dir).select($"r_regionkey", $"r_name")
      .crossJoin(priorities)
      .join(counts,
        $"r_regionkey" === $"n_regionkey" && $"o_orderpriority" === $"pr", "left")
      .select($"r_name", $"o_orderpriority",
        coalesce($"cnt", lit(0L)).as("n_orders"))
      .orderBy($"r_name", $"o_orderpriority")
  }

  /** The order-priority domain (TPC-H 4.2.2.13's enumeration) — the
    * declared axis of q42's dense matrix, interpolated into its
    * oracle so query and SQL share one definition. */
  val orderPriorities: Seq[String] =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  private val q42Oracle =
    s"""WITH pr AS (SELECT unnest(ARRAY[${orderPriorities.map(p => s"'$p'").mkString(", ")}]) AS o_orderpriority),
      |c AS (
      |  SELECT n_regionkey, o_orderpriority, COUNT(*) AS cnt
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2)
      |SELECT r_name, pr.o_orderpriority, COALESCE(cnt, CAST(0 AS BIGINT)) AS n_orders
      |FROM region CROSS JOIN pr
      |LEFT JOIN c ON r_regionkey = c.n_regionkey
      |           AND pr.o_orderpriority = c.o_orderpriority
      |ORDER BY r_name, pr.o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q43
  /** percentile_approx (a rank-error-bounded quantile sketch) beside
    * the exact percentile — completing the sketch family q40 started
    * for distinct counts. At 100 TB the sketch is the only option:
    * exact percentile materializes every group's values; the sketch
    * merges map-side in bounded memory. Like q40, the sketch estimate
    * is engine-specific, so the hashed surface carries the exact
    * values plus BOUNDED checks: with accuracy = 10000 the sketch's
    * relative rank error is ≤ 1/10000, so the estimate must lie
    * within the exact quantile envelope at q ± 0.001 (a 10× safety
    * margin that still pins a 0.1%-tight window). */
  def q43ApproxPercentiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(
        expr("percentile(l_extendedprice, 0.5)").as("p50_exact"),
        expr("percentile(l_extendedprice, 0.95)").as("p95_exact"),
        expr("percentile(l_extendedprice, 0.499)").as("p50_lo"),
        expr("percentile(l_extendedprice, 0.501)").as("p50_hi"),
        expr("percentile(l_extendedprice, 0.949)").as("p95_lo"),
        expr("percentile(l_extendedprice, 0.951)").as("p95_hi"),
        expr("percentile_approx(l_extendedprice, 0.5, 10000)").as("a50"),
        expr("percentile_approx(l_extendedprice, 0.95, 10000)").as("a95"))
      .select($"l_returnflag", $"p50_exact", $"p95_exact",
        ($"a50" >= $"p50_lo" && $"a50" <= $"p50_hi").as("approx_p50_in_bounds"),
        ($"a95" >= $"p95_lo" && $"a95" <= $"p95_hi").as("approx_p95_in_bounds"))
      .orderBy($"l_returnflag")
  }

  private val q43Oracle =
    """SELECT l_returnflag,
      |  quantile_cont(l_extendedprice, 0.5) AS p50_exact,
      |  quantile_cont(l_extendedprice, 0.95) AS p95_exact,
      |  TRUE AS approx_p50_in_bounds,
      |  TRUE AS approx_p95_in_bounds
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q45
  /** RIGHT OUTER join: the right side preserved, with the left-side
    * filter applied BEFORE the join (inside the join input, not as a
    * post-filter — a WHERE after a right join silently turns it
    * inner). Customers with no qualifying order keep a zero count and
    * NULL total. Catalyst canonicalizes right joins to mirrored left
    * joins, so the same broadcast/SMJ strategies apply. */
  def q45RightJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bigOrders = Tables.orders(s, dir).where($"o_totalprice" > 150000.0)
    bigOrders.join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey", "right")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("n_big_orders"),
        sum(dec($"o_totalprice")).cast("double").as("big_total"))
      .orderBy($"c_custkey")
  }

  private val q45Oracle =
    """SELECT c_custkey, COUNT(o_orderkey) AS n_big_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS big_total
      |FROM (SELECT * FROM orders WHERE o_totalprice > 150000.0) o
      |RIGHT JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q46
  /** Deterministic salted join — the skew-survival pattern for
    * large-fact ⋈ mid-size-dim joins where a hot key would overload
    * one task and the dim is too large to broadcast. Fact rows spread
    * across [[nSalts]] sub-keys via a DETERMINISTIC salt (hash of
    * non-key columns — a random salt breaks task retries and
    * reproducibility); the dim replicates nSalts×, and the join runs
    * on (key, salt), landing a hot key on nSalts tasks instead of
    * one. The result is identical to the unsalted join (the oracle IS
    * the plain join); the explode multiplies only the dim side. AQE's
    * skew handling covers sort-merge joins adaptively — explicit
    * salting is the portable form that also works for shuffled-hash
    * and stateful stream-stream joins. */
  val nSalts = 8

  def q46SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fact = Tables.lineitem(s, dir).withColumn("salt",
      pmod(xxhash64($"l_linenumber", $"l_partkey", $"l_suppkey"), lit(nSalts.toLong)))
    val dim = Tables.orders(s, dir)
      .withColumn("salt", explode(sequence(lit(0L), lit(nSalts - 1L))))
    fact.join(dim.hint("shuffle_hash"),
        fact("salt") === dim("salt") && $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(dec($"l_extendedprice")).cast("double").as("sum_price"))
      .orderBy($"o_orderpriority")
  }

  private val q46Oracle =
    """SELECT o_orderpriority, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q51
  /** The spark.sql(...) front-end: the same ANSI SQL text drives both
    * engines — the Spark side registers temp views and runs the query
    * through the SQL parser instead of the DataFrame API (identical
    * Catalyst plan downstream, so everything PlanSpec pins about the
    * DataFrame path holds here too). One template string, two
    * engines: the oracle is the SAME template with unprefixed table
    * names, so the two dialects can never drift. Revenue share per
    * region = join + group + window over the grand total. */
  private def q51Sql(p: String): String =
    s"""WITH rev AS (
       |  SELECT r_name, SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS total
       |  FROM ${p}orders
       |  JOIN ${p}customer ON o_custkey = c_custkey
       |  JOIN ${p}nation ON c_nationkey = n_nationkey
       |  JOIN ${p}region ON n_regionkey = r_regionkey
       |  GROUP BY r_name)
       |SELECT r_name, CAST(total AS DOUBLE) AS total_rev,
       |  CAST(total AS DOUBLE) / CAST(SUM(total) OVER () AS DOUBLE) AS rev_share
       |FROM rev ORDER BY r_name""".stripMargin

  def q51SqlFrontend(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("g_orders")
    Tables.customer(s, dir).createOrReplaceTempView("g_customer")
    Tables.nation(s, dir).createOrReplaceTempView("g_nation")
    Tables.region(s, dir).createOrReplaceTempView("g_region")
    // spark.sql analyzes eagerly, so the returned plan holds the view
    // relations directly — dropping the catalog entries right away
    // keeps a long session's catalog clean (same hygiene as the
    // streaming memory sinks in Streaming.drain)
    val out = s.sql(q51Sql("g_"))
    Seq("g_orders", "g_customer", "g_nation", "g_region")
      .foreach(s.catalog.dropTempView(_))
    out
  }

  // ---------------------------------------------------------------- q48
  /** unionByName with allowMissingColumns: schema-tolerant append —
    * columns align by NAME (positional `union` would silently pair
    * mismatched columns), and a column absent on one side null-fills.
    * This is the ingestion posture for federating feeds whose schemas
    * drifted (the reference's frozen sink schema makes drift a hard
    * error; this is the engine's upgrade). Customer and supplier
    * project to a shared party shape; suppliers carry no segment. */
  def q48UnionByName(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, dir)
      .select($"c_custkey".as("party_key"), $"c_mktsegment".as("segment"),
        lit("customer").as("kind"), $"c_acctbal".as("balance"))
    val supp = Tables.supplier(s, dir)
      .select($"s_suppkey".as("party_key"), lit("supplier").as("kind"),
        $"s_acctbal".as("balance")) // no segment, different column order
    cust.unionByName(supp, allowMissingColumns = true)
      .orderBy($"kind", $"party_key")
  }

  private val q48Oracle =
    """SELECT c_custkey AS party_key, c_mktsegment AS segment,
      |  'customer' AS kind, c_acctbal AS balance
      |FROM customer
      |UNION ALL
      |SELECT s_suppkey, NULL, 'supplier', s_acctbal FROM supplier
      |ORDER BY kind, party_key""".stripMargin

  // ---------------------------------------------------------------- q16
  /** Global top-k: total sort + limit (Spark runs TakeOrderedAndProject
    * — no full sort at scale). */
  def q16TopKGlobal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .limit(20)
  }

  private val q16Oracle =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q17
  /** Correlated-existence with extra predicate (semi join w/ condition)
    * + HAVING-style post-aggregation filter. */
  def q17ExistsHaving(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bigLine = Tables.lineitem(s, dir).filter($"l_quantity" >= 49.0)
      .select($"l_orderkey")
    Tables.orders(s, dir)
      .join(bigLine, $"o_orderkey" === $"l_orderkey", "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .filter($"n_orders" > 5)
      .orderBy($"o_orderpriority")
  }

  private val q17Oracle =
    """SELECT o_orderpriority, COUNT(*) AS n_orders FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_quantity >= 49.0)
      |GROUP BY o_orderpriority
      |HAVING COUNT(*) > 5
      |ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q18
  /** As-of join: each event picks up the most recent order (by
    * o_orderdate ≤ ts) of its user. Implemented with the scalable
    * union + running-last-value technique: tag both sides, union,
    * one window keyed by user ordered by time (order rows sort
    * before events at equal timestamps to honor ≤), and
    * `last(..., ignoreNulls)` carries the latest order forward.
    * One shuffle on the key, linear state — no range join, no
    * per-event probe. Orders are pre-collapsed to one row per
    * (custkey, date) so tie-breaks are deterministic on both
    * engines (max orderkey wins). */
  def q18AsofJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val ord = Tables.orders(s, dir)
      .groupBy($"o_custkey", $"o_orderdate")
      .agg(max($"o_orderkey").as("o_k"),
        max_by($"o_totalprice", $"o_orderkey").as("o_p"))
    val lhs = Tables.events(s, dir)
      .select($"user_id".as("k"), $"ts".as("t"), $"event_id",
        lit(null).cast("long").as("o_k"), lit(null).cast("double").as("o_p"),
        lit(1).as("side"))
    val rhs = ord
      .select($"o_custkey".as("k"), $"o_orderdate".as("t"),
        lit(null).cast("long").as("event_id"), $"o_k", $"o_p", lit(0).as("side"))
    val w = Window.partitionBy($"k")
      .orderBy($"t".asc, $"side".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lhs.unionByName(rhs)
      .withColumn("last_orderkey", last($"o_k", ignoreNulls = true).over(w))
      .withColumn("last_totalprice", last($"o_p", ignoreNulls = true).over(w))
      .where($"side" === 1)
      .select($"event_id", $"k".as("user_id"), $"last_orderkey", $"last_totalprice")
      .orderBy($"event_id")
  }

  private val q18Oracle =
    """WITH ord AS (
      |  SELECT o_custkey AS k, o_orderdate AS t,
      |    max(o_orderkey) AS last_orderkey,
      |    arg_max(o_totalprice, o_orderkey) AS last_totalprice
      |  FROM orders GROUP BY 1, 2)
      |SELECT e.event_id, e.user_id, o.last_orderkey, o.last_totalprice
      |FROM events e ASOF LEFT JOIN ord o
      |  ON e.user_id = o.k AND e.ts >= o.t
      |ORDER BY e.event_id""".stripMargin

  // ---------------------------------------------------------------- q19
  /** Exact percentiles (median / p90): value-based on the sorted
    * multiset, so the result is partition-order-insensitive and
    * cross-engine exact (unlike a t-digest/GK sketch, which is the
    * right tool at 100 TB but engine-specific — percentile_approx is
    * the scale path, pinned here to the exact spec for the oracle). */
  def q19Percentiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(
        expr("percentile(l_quantity, 0.5)").as("p50_qty"),
        expr("percentile(l_quantity, 0.9)").as("p90_qty"),
        expr("percentile(l_extendedprice, 0.5)").as("p50_price"),
        count(lit(1)).as("n"))
      .orderBy($"l_returnflag")
  }

  private val q19Oracle =
    """SELECT l_returnflag,
      |  quantile_cont(l_quantity, 0.5) AS p50_qty,
      |  quantile_cont(l_quantity, 0.9) AS p90_qty,
      |  quantile_cont(l_extendedprice, 0.5) AS p50_price,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q28
  /** Pivot: order-priority counts spread across return-flag columns.
    * Pivot values are declared explicitly — at scale an undeclared
    * pivot forces an extra distinct-values job before planning. */
  def q28Pivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_linestatus")
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .select($"l_linestatus", $"A".as("n_a"), $"N".as("n_n"), $"R".as("n_r"))
      .orderBy($"l_linestatus")
  }

  private val q28Oracle =
    """SELECT l_linestatus,
      |  COUNT(*) FILTER (l_returnflag = 'A') AS n_a,
      |  COUNT(*) FILTER (l_returnflag = 'N') AS n_n,
      |  COUNT(*) FILTER (l_returnflag = 'R') AS n_r
      |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q29
  /** Null semantics end-to-end: null-safe equality (<=>), NULLIF,
    * COALESCE, null-aware aggregation, and explicit NULLS FIRST
    * ordering — the fine print every engine must agree on. Nulls are
    * injected via NULLIF so both engines derive them identically. */
  def q29NullSemantics(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .select($"o_orderkey", $"o_orderpriority", $"o_totalprice",
        nullif($"o_orderpriority", lit("1-URGENT")).as("prio_or_null"))
      .groupBy($"prio_or_null")
      .agg(count(lit(1)).as("n_rows"),
        count($"prio_or_null").as("n_nonnull"), // COUNT(col) skips nulls
        sum(when($"prio_or_null" <=> lit(null), 1L).otherwise(0L)).as("n_nullsafe_eq"),
        max(coalesce($"prio_or_null", lit("(none)"))).as("prio_filled"))
      .orderBy($"prio_or_null".asc_nulls_first)
  }

  private val q29Oracle =
    """SELECT NULLIF(o_orderpriority, '1-URGENT') AS prio_or_null,
      |  COUNT(*) AS n_rows,
      |  COUNT(NULLIF(o_orderpriority, '1-URGENT')) AS n_nonnull,
      |  CAST(SUM(CASE WHEN NULLIF(o_orderpriority, '1-URGENT') IS NOT DISTINCT FROM NULL
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_eq,
      |  MAX(COALESCE(NULLIF(o_orderpriority, '1-URGENT'), '(none)')) AS prio_filled
      |FROM orders GROUP BY 1 ORDER BY prio_or_null ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- q36
  /** Skew-mitigated aggregation (manual salting): l_returnflag has 3
    * hot values, so a direct groupBy lands 600k rows on ≤3 reducers.
    * Phase 1 fans each key across 16 salt buckets (uniform via hash
    * of the full row key-set), phase 2 merges the partials. The sums
    * stay in exact decimal until the final cast, so salting cannot
    * perturb the result — identical output to the unsalted oracle.
    * (AQE's skew handling covers joins; aggregation skew still wants
    * this pattern at 100 TB.) */
  val saltBuckets = 16

  def q36SaltedAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val salted = Tables.lineitem(s, dir)
      .withColumn("salt", pmod(xxhash64($"l_orderkey", $"l_linenumber"), lit(saltBuckets)))
      .groupBy($"l_returnflag", $"salt")
      .agg(sum($"l_quantity".cast("decimal(12,2)")).as("part_qty"),
        count(lit(1)).as("part_n"))
    salted
      .groupBy($"l_returnflag")
      .agg(sum($"part_qty").cast("double").as("sum_qty"),
        sum($"part_n").as("n_rows"))
      .orderBy($"l_returnflag")
  }

  private val q36Oracle =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q37
  /** Window-function breadth: rank family (rank, dense_rank, ntile,
    * percent_rank, cume_dist), nth_value, and an explicit sliding
    * ROWS frame. The frame average is computed as exact-decimal sum
    * over frame ÷ count over frame (both engines produce identical
    * doubles); rank ratios are exact small-int divisions. */
  def q37WindowSuite(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val order = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    val frame = order.rowsBetween(-2, Window.currentRow)
    Tables.orders(s, dir)
      .filter($"o_custkey" <= 50)
      .select($"o_custkey", $"o_orderkey",
        rank().over(order).cast("long").as("rnk"),
        dense_rank().over(order).cast("long").as("drnk"),
        ntile(4).over(order).cast("long").as("quartile"),
        percent_rank().over(order).as("pct_rank"),
        cume_dist().over(order).as("cume"),
        nth_value($"o_totalprice", 2).over(order).as("second_seen_price"),
        (sum(dec($"o_totalprice")).over(frame).cast("double") /
          count(lit(1)).over(frame)).as("avg3"))
      .orderBy($"o_custkey", $"rnk")
  }

  private val q37Oracle =
    """SELECT o_custkey, o_orderkey,
      |  RANK() OVER w AS rnk,
      |  DENSE_RANK() OVER w AS drnk,
      |  NTILE(4) OVER w AS quartile,
      |  PERCENT_RANK() OVER w AS pct_rank,
      |  CUME_DIST() OVER w AS cume,
      |  NTH_VALUE(o_totalprice, 2) OVER w AS second_seen_price,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
      |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
      |  / COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS avg3
      |FROM orders WHERE o_custkey <= 50
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, rnk""".stripMargin

  // ---------------------------------------------------------------- q90
  /** Batch MERGE (upsert): apply a change set to a snapshot —
    * matched keys take the change row, unmatched changes insert,
    * everything else carries over — the operation that turns the
    * reference's append-only load into a maintainable table (CDC
    * apply, dimension refresh). Expressed as one full-outer join +
    * coalesce, which Catalyst plans as a single sort-merge join on
    * the key: ONE shuffle per side, no driver loop, no per-row
    * lookups. At 100 TB the snapshot side arrives pre-bucketed on
    * the key (q86's layout) so only the (small) change set shuffles;
    * combined with date-partitioned tables (q80's load) the rewrite
    * touches only affected partitions.
    *
    * The change set here is derived deterministically from the
    * snapshot itself (keys ≡ 3 mod 10 get a 10% price bump; fresh
    * negative keys insert) so the oracle can reproduce it exactly —
    * a real pipeline reads changes as its own table; identical
    * plan. */
  def q90MergeUpsert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val snap = Tables.orders(s, dir)
    val updates = snap.where($"o_orderkey" % 10 === 3)
      .select($"o_orderkey", ($"o_totalprice" * 1.1).as("c_totalprice"),
        lit("U").as("c_orderstatus"))
    val inserts = snap.where($"o_orderkey" % 100 === 7)
      .select((-$"o_orderkey" - 1).as("o_orderkey"),
        $"o_totalprice".as("c_totalprice"), lit("N").as("c_orderstatus"))
    val changes = updates.unionByName(inserts)
    snap.join(changes, Seq("o_orderkey"), "full_outer")
      .select($"o_orderkey",
        coalesce($"c_totalprice", $"o_totalprice").as("o_totalprice"),
        coalesce($"c_orderstatus", $"o_orderstatus").as("o_orderstatus"),
        when($"c_totalprice".isNull, "keep")
          .when($"o_orderdate".isNull, "insert")
          .otherwise("update").as("action"))
      .orderBy($"o_orderkey")
  }

  private val q90Oracle =
    """WITH changes AS (
      |  SELECT o_orderkey, o_totalprice * 1.1 AS c_totalprice,
      |    'U' AS c_orderstatus
      |  FROM orders WHERE o_orderkey % 10 = 3
      |  UNION ALL
      |  SELECT -o_orderkey - 1, o_totalprice, 'N'
      |  FROM orders WHERE o_orderkey % 100 = 7)
      |SELECT COALESCE(o.o_orderkey, c.o_orderkey) AS o_orderkey,
      |  COALESCE(c_totalprice, o_totalprice) AS o_totalprice,
      |  COALESCE(c_orderstatus, o_orderstatus) AS o_orderstatus,
      |  CASE WHEN c_totalprice IS NULL THEN 'keep'
      |       WHEN o.o_orderkey IS NULL THEN 'insert'
      |       ELSE 'update' END AS action
      |FROM orders o FULL OUTER JOIN changes c ON o.o_orderkey = c.o_orderkey
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q106
  /** Deterministic "today" snapshot derived from orders — shared by
    * q106 and its round-trip spec so both sides agree on ground
    * truth: drop keys ≡1 (mod 50), bump price 5% + status 'U' on
    * keys ≡4 (mod 10), insert fresh negative keys from keys ≡9
    * (mod 100). A real pipeline reads two stored snapshots;
    * identical plan. */
  def q106NewSnapshot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir)
      .select($"o_orderkey", $"o_totalprice", $"o_orderstatus")
    val survivors = o.where($"o_orderkey" % 50 =!= 1)
      .select($"o_orderkey",
        when($"o_orderkey" % 10 === 4, $"o_totalprice" * 1.05)
          .otherwise($"o_totalprice").as("o_totalprice"),
        when($"o_orderkey" % 10 === 4, lit("U"))
          .otherwise($"o_orderstatus").as("o_orderstatus"))
    val inserts = o.where($"o_orderkey" % 100 === 9)
      .select((-$"o_orderkey" - 1).as("o_orderkey"),
        $"o_totalprice", lit("N").as("o_orderstatus"))
    survivors.unionByName(inserts)
  }

  /** Snapshot diff (CDC extract) — the inverse of q90's MERGE: given
    * yesterday's and today's states of a table, emit the change
    * stream (insert / update / delete with before+after values) that
    * replays one into the other. One full-outer join on the key —
    * one shuffle per side, and with both snapshots stored in q86's
    * bucketed layout it is shuffle-free; unchanged rows (the
    * overwhelming majority at 100 TB) are dropped by the codegen'd
    * filter before anything downstream materializes. Wide tables
    * would compare one precomputed row-hash column instead of each
    * field — same plan, narrower compare. Round-trip invariant
    * spec'd in RelationalSpec: MERGE-applying this diff onto the old
    * snapshot rebuilds the new one exactly. */
  def q106SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val old = Tables.orders(s, dir).select($"o_orderkey",
      $"o_totalprice".as("old_price"), $"o_orderstatus".as("old_status"))
    val neu = q106NewSnapshot(s, dir).select($"o_orderkey",
      $"o_totalprice".as("new_price"), $"o_orderstatus".as("new_status"))
    old.join(neu, Seq("o_orderkey"), "full_outer")
      .withColumn("action",
        when($"old_price".isNull, "insert")
          .when($"new_price".isNull, "delete")
          .when(!($"old_price" <=> $"new_price") ||
            !($"old_status" <=> $"new_status"), "update"))
      .where($"action".isNotNull)
      .select($"o_orderkey", $"action",
        $"old_price", $"new_price", $"old_status", $"new_status")
      .orderBy($"o_orderkey")
  }

  private val q106Oracle =
    """WITH neu AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 10 = 4 THEN o_totalprice * 1.05
      |         ELSE o_totalprice END AS o_totalprice,
      |    CASE WHEN o_orderkey % 10 = 4 THEN 'U'
      |         ELSE o_orderstatus END AS o_orderstatus
      |  FROM orders WHERE o_orderkey % 50 <> 1
      |  UNION ALL
      |  SELECT -o_orderkey - 1, o_totalprice, 'N'
      |  FROM orders WHERE o_orderkey % 100 = 9)
      |SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
      |  CASE WHEN o.o_orderkey IS NULL THEN 'insert'
      |       WHEN n.o_orderkey IS NULL THEN 'delete'
      |       ELSE 'update' END AS action,
      |  o.o_totalprice AS old_price, n.o_totalprice AS new_price,
      |  o.o_orderstatus AS old_status, n.o_orderstatus AS new_status
      |FROM orders o FULL OUTER JOIN neu n ON o.o_orderkey = n.o_orderkey
      |WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
      |   OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
      |   OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q115
  /** Distribution drift report (PSI — population stability index,
    * the standard snapshot-over-snapshot health check): bucket a
    * metric into 10 equal-width bins over the OLD snapshot's range,
    * compare the two snapshots' bin shares, and score each bin with
    * (p₂−p₁)·ln(p₂/p₁). Composes q106: this is the report that
    * DETECTS the price drift q106's change stream introduced. Two
    * bounded aggregates (10 bins each) joined on a literal bin spine
    * — the snapshots scan once, only (bin, count) rows shuffle.
    * Empty-bin shares clamp to 1e-6 (standard PSI practice, keeps
    * ln finite); the ln term rounds to 6 decimals (q73's device).
    * Bin edges come from one broadcast bounds row of the OLD
    * snapshot so both snapshots bin identically. */
  def q115DriftReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val old = Tables.orders(s, dir).select($"o_totalprice")
    val neu = q106NewSnapshot(s, dir).select($"o_totalprice")
    val bounds = old.agg(min($"o_totalprice").as("mn"), max($"o_totalprice").as("mx"))
    def binned(df: DataFrame, out: String): DataFrame =
      df.crossJoin(broadcast(bounds))
        .select(least(greatest(expr(
          "CAST(floor((o_totalprice - mn) * 10.0D / (mx - mn)) AS BIGINT)"),
          lit(0L)), lit(9L)).as("bin"))
        .groupBy($"bin").agg(count(lit(1)).as(out))
    val spine = s.range(0, 10).select($"id".as("bin"))
    spine.join(binned(old, "n_old"), Seq("bin"), "left")
      .join(binned(neu, "n_new"), Seq("bin"), "left")
      .select($"bin", coalesce($"n_old", lit(0L)).as("n_old"),
        coalesce($"n_new", lit(0L)).as("n_new"))
      .crossJoin(broadcast(old.agg(count(lit(1)).as("t_old"))))
      .crossJoin(broadcast(neu.agg(count(lit(1)).as("t_new"))))
      .select($"bin", $"n_old", $"n_new",
        expr("""round((greatest(CAST(n_new AS DOUBLE) / t_new, 1e-6)
                 - greatest(CAST(n_old AS DOUBLE) / t_old, 1e-6))
                * ln(greatest(CAST(n_new AS DOUBLE) / t_new, 1e-6)
                   / greatest(CAST(n_old AS DOUBLE) / t_old, 1e-6)), 6)""")
          .as("psi_term"))
      .orderBy($"bin")
  }

  private val q115Oracle =
    """WITH neu AS (
      |  SELECT CASE WHEN o_orderkey % 10 = 4 THEN o_totalprice * 1.05
      |              ELSE o_totalprice END AS o_totalprice
      |  FROM orders WHERE o_orderkey % 50 <> 1
      |  UNION ALL
      |  SELECT o_totalprice FROM orders WHERE o_orderkey % 100 = 9),
      |b AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders),
      |ob AS (
      |  SELECT least(greatest(CAST(floor((o_totalprice - mn) * 10.0 / (mx - mn))
      |    AS BIGINT), 0), 9) AS bin, count(*) AS n_old
      |  FROM orders, b GROUP BY 1),
      |nb AS (
      |  SELECT least(greatest(CAST(floor((o_totalprice - mn) * 10.0 / (mx - mn))
      |    AS BIGINT), 0), 9) AS bin, count(*) AS n_new
      |  FROM neu, b GROUP BY 1),
      |t AS (SELECT (SELECT count(*) FROM orders) AS t_old,
      |             (SELECT count(*) FROM neu) AS t_new),
      |s AS (SELECT unnest(range(0, 10)) AS bin)
      |SELECT s.bin, COALESCE(n_old, 0) AS n_old, COALESCE(n_new, 0) AS n_new,
      |  round((greatest(CAST(COALESCE(n_new, 0) AS DOUBLE) / t_new, 1e-6)
      |         - greatest(CAST(COALESCE(n_old, 0) AS DOUBLE) / t_old, 1e-6))
      |        * ln(greatest(CAST(COALESCE(n_new, 0) AS DOUBLE) / t_new, 1e-6)
      |           / greatest(CAST(COALESCE(n_old, 0) AS DOUBLE) / t_old, 1e-6)), 6)
      |    AS psi_term
      |FROM s LEFT JOIN ob ON s.bin = ob.bin LEFT JOIN nb ON s.bin = nb.bin, t
      |ORDER BY s.bin""".stripMargin

  // ---------------------------------------------------------------- q93
  /** Key-skew diagnostics — the report you run BEFORE choosing a join
    * strategy (broadcast / salt q46 / AQE skew split): per-key row
    * counts reduced to one summary row. Two hash aggregates, both
    * map-side partial; the second input is one row per KEY, not per
    * row, so the report costs one scan plus a key-cardinality shuffle.
    * `percentile` over the per-key counts is exact here and
    * cross-engine stable (q43); at 100 TB swap `percentile_approx` —
    * same plan, sketch memory. skew_ratio ≈ 1 means uniform keys;
    * a hot-key table pushes it toward n_rows/n_keys. */
  def q93SkewReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_orderkey").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_keys"), sum($"n").as("n_rows"),
        max($"n").as("max_per_key"),
        expr("percentile(n, 0.5)").as("p50_per_key"),
        expr("percentile(n, 0.99)").as("p99_per_key"))
      .select($"n_keys", $"n_rows", $"max_per_key", $"p50_per_key",
        $"p99_per_key",
        ($"max_per_key" * $"n_keys" / $"n_rows".cast("double")).as("skew_ratio"))
  }

  private val q93Oracle =
    """WITH k AS (SELECT l_orderkey, count(*) AS n FROM lineitem GROUP BY 1)
      |SELECT count(*) AS n_keys, CAST(sum(n) AS BIGINT) AS n_rows,
      |  max(n) AS max_per_key,
      |  quantile_cont(n, 0.5) AS p50_per_key,
      |  quantile_cont(n, 0.99) AS p99_per_key,
      |  max(n) * count(*) / CAST(sum(n) AS DOUBLE) AS skew_ratio
      |FROM k""".stripMargin

  // ---------------------------------------------------------------- q94
  /** Last-write-wins compaction: keep only the LATEST record per key —
    * the CDC/changelog collapse every ingestion pipeline runs before
    * serving a snapshot. One window, one shuffle on the key, with a
    * total tie-break (ts DESC, event_id DESC) so replays and
    * duplicate timestamps can't flap the survivor. At 100 TB this is
    * exactly the q86 bucketed layout's home game: a table bucketed on
    * user_id 'compacts' without any Exchange. */
  def q94LatestPerKey(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts".desc, $"event_id".desc)
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(w))
      .where($"rn" === 1)
      .select($"user_id", $"event_id", $"ts", $"event_type", $"value")
      .orderBy($"user_id")
  }

  private val q94Oracle =
    """SELECT user_id, event_id, ts, event_type, value FROM (
      |  SELECT *, row_number() OVER (PARTITION BY user_id
      |    ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) t
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q210
  /** Drill-down report with share-of-parent ratios: revenue per
    * (region, nation) alongside each nation's share of its region
    * and of the total, in ppm — the hierarchy-percentage columns
    * every BI drill-down carries next to its absolutes (q10's
    * ROLLUP emits the subtotal ROWS; dashboards need the RATIOS on
    * the leaf rows). Revenue aggregates as exact DECIMAL cents
    * before any ratio; parent totals ride two windows over the
    * nation-cardinality aggregate — no second pass over facts, and
    * the ppm shares are integer divisions of exact sums. */
  def q210ShareOfParent(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val rev = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir).select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.customer(s, dir)
        .select($"c_custkey", $"c_nationkey")), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(s, dir)
        .select($"n_nationkey", $"n_name", $"n_regionkey")),
        $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, dir)
        .select($"r_regionkey", $"r_name")), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(sum(expr("CAST(round(l_extendedprice * 100D) AS BIGINT)"))
        .as("rev_cents"))
    rev
      .withColumn("region_cents",
        sum($"rev_cents").over(Window.partitionBy($"r_name")))
      .withColumn("total_cents", sum($"rev_cents").over(Window.partitionBy()))
      .select($"r_name", $"n_name", $"rev_cents",
        expr("(1000000 * rev_cents) div region_cents").as("share_of_region_ppm"),
        expr("(1000000 * rev_cents) div total_cents").as("share_of_total_ppm"))
      .orderBy($"r_name", $"n_name")
  }

  private val q210Oracle =
    """WITH rev AS (
      |  SELECT r.r_name, n.n_name,
      |    CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |      AS rev_cents
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  JOIN region r ON n.n_regionkey = r.r_regionkey
      |  GROUP BY 1, 2)
      |SELECT r_name, n_name, rev_cents,
      |  CAST((1000000 * rev_cents) //
      |    CAST(sum(rev_cents) OVER (PARTITION BY r_name) AS BIGINT) AS BIGINT)
      |    AS share_of_region_ppm,
      |  CAST((1000000 * rev_cents) //
      |    CAST(sum(rev_cents) OVER () AS BIGINT) AS BIGINT)
      |    AS share_of_total_ppm
      |FROM rev ORDER BY r_name, n_name""".stripMargin

  // ---------------------------------------------------------------- q211
  /** Period-over-period deltas: weekly order revenue with the prior
    * week's value, absolute change, and relative change in ppm —
    * the WoW movement column every operational dashboard leads
    * with. First week reports NULL change (no fabricated zero
    * baseline); revenue in exact cents, relative change as an
    * integer division against the PRIOR period (the convention that
    * makes +100% mean "doubled"). One aggregate to the
    * calendar-bounded week grid, one lag window. */
  def q211PeriodOverPeriod(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy($"week")
    Tables.orders(s, dir)
      .groupBy(to_date(date_trunc("week", $"o_orderdate")).as("week"))
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(round(o_totalprice * 100D) AS BIGINT)")).as("rev_cents"))
      .withColumn("prev_cents", lag($"rev_cents", 1).over(w))
      .select($"week", $"n_orders", $"rev_cents", $"prev_cents",
        ($"rev_cents" - $"prev_cents").as("delta_cents"),
        expr("(1000000 * (rev_cents - prev_cents)) div prev_cents")
          .as("delta_ppm"))
      .orderBy($"week")
  }

  private val q211Oracle =
    """WITH wk AS (
      |  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week,
      |    CAST(count(*) AS BIGINT) AS n_orders,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS rev_cents
      |  FROM orders GROUP BY 1)
      |SELECT week, n_orders, rev_cents,
      |  lag(rev_cents) OVER (ORDER BY week) AS prev_cents,
      |  rev_cents - lag(rev_cents) OVER (ORDER BY week) AS delta_cents,
      |  CAST((1000000 * (rev_cents - lag(rev_cents) OVER (ORDER BY week)))
      |    // lag(rev_cents) OVER (ORDER BY week) AS BIGINT) AS delta_ppm
      |FROM wk ORDER BY week""".stripMargin

  // ---------------------------------------------------------------- q212
  /** Fulfillment lead-time report per order priority: exact integer
    * day gaps from order date to line ship date, summarized as
    * discrete p50/p90 (q209's first-crossing rank device, per
    * priority) plus min/max and a count of NEGATIVE lead times —
    * ship-before-order lines, which the synthetic data genuinely
    * contains and a real warehouse wants FLAGGED, not averaged away
    * (the honest-report posture of q103's negative offsets). One
    * fact join (orders side projected to two columns), per-priority
    * ranking windows over day-gap integers. */
  def q212LeadTime(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val lt = Tables.lineitem(s, dir)
      .select($"l_orderkey", to_date($"l_shipdate").as("ship"))
      .join(Tables.orders(s, dir)
        .select($"o_orderkey", $"o_orderpriority".as("priority"),
          to_date($"o_orderdate").as("odate")),
        $"l_orderkey" === $"o_orderkey")
      .select($"priority", datediff($"ship", $"odate").cast("long").as("days"))
    val w = Window.partitionBy($"priority")
    lt
      .withColumn("rn", row_number().over(w.orderBy($"days")).cast("long"))
      .withColumn("n", count(lit(1)).over(w))
      .groupBy($"priority")
      .agg(max($"n").as("n_lines"),
        sum(when($"days" < 0L, 1L).otherwise(0L)).as("n_negative"),
        min(when(lit(2) * $"rn" >= $"n", $"days")).as("p50_days"),
        min(when(lit(10) * $"rn" >= lit(9) * $"n", $"days")).as("p90_days"),
        min($"days").as("min_days"), max($"days").as("max_days"))
      .orderBy($"priority")
  }

  private val q212Oracle =
    """WITH lt AS (
      |  SELECT o.o_orderpriority AS priority,
      |    CAST(datediff('day', CAST(o.o_orderdate AS DATE),
      |      CAST(l.l_shipdate AS DATE)) AS BIGINT) AS days
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |r AS (
      |  SELECT priority, days,
      |    CAST(row_number() OVER (PARTITION BY priority ORDER BY days)
      |      AS BIGINT) AS rn,
      |    CAST(count(*) OVER (PARTITION BY priority) AS BIGINT) AS n
      |  FROM lt)
      |SELECT priority, max(n) AS n_lines,
      |  CAST(sum(CASE WHEN days < 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_negative,
      |  min(CASE WHEN 2 * rn >= n THEN days END) AS p50_days,
      |  min(CASE WHEN 10 * rn >= 9 * n THEN days END) AS p90_days,
      |  min(days) AS min_days, max(days) AS max_days
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q218
  /** Decile lift / gains table for a ranking score — the standard
    * model-targeting readout ("mail the top 3 deciles"): rank orders
    * by o_totalprice descending, cut into population deciles, report
    * each decile's response rate (status 'F') and the cumulative
    * lift over the base rate. q118 sweeps a THRESHOLD curve and q199
    * checks calibration; this is the third scorer readout, the one
    * a campaign planner actually reads.
    *
    * Scale shape: orders never rank row-by-row. Scores quantize to
    * cents and pre-aggregate to one row per distinct score (one
    * map-side-combining shuffle) — a DOMAIN-bounded spine (price
    * range × 100 values, independent of row count) like q215's
    * dimension-sized re-aggregation — and the single cumulative
    * window runs over that spine. A tie block of equal scores is
    * never split: the whole block takes the decile of its FIRST
    * member (`1 + 10·cum_before div n`, SAS ties=low), so both
    * engines assign identically with no per-row tiebreak, and decile
    * populations deviate from n/10 only where a block straddles a
    * boundary. Lift composes from two ppm rates (rate then ratio —
    * two divisions, mirrored exactly in the oracle) to keep every
    * intermediate ≤ 10¹² regardless of corpus size. */
  def q218DecileLift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    liftOf(Tables.orders(s, dir)
      .select(expr("CAST(round(o_totalprice * 100D) AS BIGINT)").as("score"),
        ($"o_orderstatus" === "F").cast("long").as("resp")))
  }

  /** The gains table on any (score BIGINT, resp 0/1) frame —
    * separated so the spec can plant a perfectly-ranking score
    * (decile-1 lift = 1/base-rate) and verify conservation. */
  private[ops] def liftOf(scored: DataFrame): DataFrame = {
    val s = scored.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val spine = scored.groupBy($"score")
      .agg(count(lit(1)).as("n"), sum($"resp").as("r"))
    val w = Window.orderBy($"score".desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy()
    spine
      .withColumn("cum_before", coalesce(sum($"n").over(w), lit(0L)))
      .withColumn("total_n", sum($"n").over(wAll))
      .withColumn("total_r", sum($"r").over(wAll))
      .withColumn("decile",
        expr("CAST(1 + (10 * cum_before) div total_n AS BIGINT)"))
      .groupBy($"decile")
      .agg(sum($"n").as("n_orders"), sum($"r").as("n_resp"),
        max($"total_n").as("tn"), max($"total_r").as("tr"))
      .withColumn("cum_orders", sum($"n_orders").over(
        Window.orderBy($"decile")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cum_resp", sum($"n_resp").over(
        Window.orderBy($"decile")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select($"decile", $"n_orders", $"n_resp",
        expr("(1000000 * n_resp) div n_orders").as("resp_rate_ppm"),
        $"cum_orders", $"cum_resp",
        expr("""((1000000 * ((1000000 * cum_resp) div cum_orders))
               | div ((1000000 * tr) div tn))""".stripMargin)
          .as("cum_lift_ppm"))
      .orderBy($"decile")
  }

  private val q218Oracle =
    """WITH sc AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS score,
      |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS resp
      |  FROM orders),
      |spine AS (
      |  SELECT score, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(resp) AS BIGINT) AS r
      |  FROM sc GROUP BY 1),
      |c AS (
      |  SELECT score, n, r,
      |    CAST(COALESCE(sum(n) OVER (ORDER BY score DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS cum_before,
      |    CAST(sum(n) OVER () AS BIGINT) AS total_n,
      |    CAST(sum(r) OVER () AS BIGINT) AS total_r
      |  FROM spine),
      |d AS (
      |  SELECT CAST(1 + (10 * cum_before) // total_n AS BIGINT) AS decile,
      |    n, r, total_n, total_r
      |  FROM c),
      |g AS (
      |  SELECT decile, CAST(sum(n) AS BIGINT) AS n_orders,
      |    CAST(sum(r) AS BIGINT) AS n_resp,
      |    max(total_n) AS tn, max(total_r) AS tr
      |  FROM d GROUP BY 1),
      |cum AS (
      |  SELECT decile, n_orders, n_resp, tn, tr,
      |    CAST(sum(n_orders) OVER (ORDER BY decile
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_orders,
      |    CAST(sum(n_resp) OVER (ORDER BY decile
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_resp
      |  FROM g)
      |SELECT decile, n_orders, n_resp,
      |  CAST((1000000 * n_resp) // n_orders AS BIGINT) AS resp_rate_ppm,
      |  cum_orders, cum_resp,
      |  CAST((1000000 * ((1000000 * cum_resp) // cum_orders))
      |    // ((1000000 * tr) // tn) AS BIGINT) AS cum_lift_ppm
      |FROM cum ORDER BY decile""".stripMargin

  // ---------------------------------------------------------------- q219
  /** RFM segmentation — the CRM classic: score every purchasing
    * customer 1–5 on Recency (days since last order, vs the
    * dataset's as-of day), Frequency (order count), and Monetary
    * (lifetime spend), then roll the scores into named segments.
    * q190 follows cohorts over time; this is the cross-sectional
    * cut marketing actually targets from.
    *
    * Quintiles use the same integer first-member rank formula as
    * q218 (`5 − 5·(rn−1) div n`, rn ordered best-first with custkey
    * tiebreak so both engines rank identically); the three global
    * ranks are [[Ranks.withGlobalRank]] hierarchical ranks over the
    * CUSTOMER-grain aggregate (the fact stream reduces by one
    * map-side-combining shuffle first) — customer grain is still
    * population grain at 100 TB, so none of the three may plan a
    * single-partition sort. Segment rules
    * are a first-match CASE mirrored verbatim in the oracle; spend
    * stays in exact integer cents. */
  def q219RfmSegments(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val asOf = Tables.orders(s, dir)
      .agg(max(to_date($"o_orderdate")).as("as_of"))
    val cust = Tables.orders(s, dir)
      .groupBy($"o_custkey")
      .agg(max(to_date($"o_orderdate")).as("last_day"),
        count(lit(1)).as("freq"),
        sum(expr("CAST(round(o_totalprice * 100D) AS BIGINT)")).as("cents"))
      .crossJoin(broadcast(asOf))
      .select($"o_custkey", datediff($"as_of", $"last_day").cast("long")
        .as("rec_days"), $"freq", $"cents")
    // three hierarchical global ranks (desc = negated key), chained;
    // the total count rides out of the first — no single-partition
    // WindowExec anywhere, where the bare row_number/count-over-()
    // formulation planned four
    val ranked = Ranks.withGlobalRank(
      Ranks.withGlobalRank(
        Ranks.withGlobalRank(cust, $"rec_days", $"o_custkey", "rr",
          nName = "n"),
        -$"freq", $"o_custkey", "rf"),
      -$"cents", $"o_custkey", "rm")
      .withColumn("r_score", expr("CAST(5 - (5 * (rr - 1)) div n AS BIGINT)"))
      .withColumn("f_score", expr("CAST(5 - (5 * (rf - 1)) div n AS BIGINT)"))
      .withColumn("m_score", expr("CAST(5 - (5 * (rm - 1)) div n AS BIGINT)"))
      .withColumn("segment",
        when($"r_score" >= 4 && $"f_score" >= 4 && $"m_score" >= 4,
          "champion")
          .when($"r_score" >= 4 && $"f_score" <= 2, "new")
          .when($"r_score" <= 2 && $"f_score" >= 4, "at_risk_loyal")
          .when($"r_score" <= 2 && $"m_score" >= 4, "cant_lose")
          .when($"r_score" <= 2, "hibernating")
          .otherwise("core"))
    ranked
      .groupBy($"segment")
      .agg(count(lit(1)).as("n_customers"),
        sum($"cents").as("total_monetary_cents"),
        expr("sum(rec_days) div count(1)").as("avg_recency_days"))
      .orderBy($"segment")
  }

  private val q219Oracle =
    """WITH cust AS (
      |  SELECT o_custkey,
      |    CAST(datediff('day', max(CAST(o_orderdate AS DATE)),
      |      (SELECT max(CAST(o_orderdate AS DATE)) FROM orders))
      |      AS BIGINT) AS rec_days,
      |    CAST(count(*) AS BIGINT) AS freq,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1),
      |ranked AS (
      |  SELECT *,
      |    CAST(count(*) OVER () AS BIGINT) AS n,
      |    CAST(row_number() OVER (ORDER BY rec_days ASC, o_custkey ASC)
      |      AS BIGINT) AS rr,
      |    CAST(row_number() OVER (ORDER BY freq DESC, o_custkey ASC)
      |      AS BIGINT) AS rf,
      |    CAST(row_number() OVER (ORDER BY cents DESC, o_custkey ASC)
      |      AS BIGINT) AS rm
      |  FROM cust),
      |scored AS (
      |  SELECT *,
      |    CAST(5 - (5 * (rr - 1)) // n AS BIGINT) AS r_score,
      |    CAST(5 - (5 * (rf - 1)) // n AS BIGINT) AS f_score,
      |    CAST(5 - (5 * (rm - 1)) // n AS BIGINT) AS m_score
      |  FROM ranked),
      |seg AS (
      |  SELECT *,
      |    CASE
      |      WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
      |        THEN 'champion'
      |      WHEN r_score >= 4 AND f_score <= 2 THEN 'new'
      |      WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk_loyal'
      |      WHEN r_score <= 2 AND m_score >= 4 THEN 'cant_lose'
      |      WHEN r_score <= 2 THEN 'hibernating'
      |      ELSE 'core' END AS segment
      |  FROM scored)
      |SELECT segment, CAST(count(*) AS BIGINT) AS n_customers,
      |  CAST(sum(cents) AS BIGINT) AS total_monetary_cents,
      |  CAST(sum(rec_days) // count(*) AS BIGINT) AS avg_recency_days
      |FROM seg GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q220
  /** Semi-additive snapshot totals — the DW measure that sums across
    * CUSTOMERS but not across TIME (balances, inventory, "current
    * order size"): for each month, the sum over all customers seen
    * so far of each customer's LATEST order value as of that month.
    * The naive shape materializes a customer × month grid (carry
    * each balance forward) — 10⁷ customers × 120 months = 10⁹
    * carried rows at scale, almost all of them copies. This uses the
    * DELTA trick instead: a customer's contribution to month m
    * changes only in months where they ORDER, by (new_latest −
    * prev_latest); summing those per-month deltas and running a
    * cumulative window over the calendar-bounded month spine
    * reconstructs every snapshot total with zero carried rows.
    *
    * Per-(customer, month) latest order picks by max(struct(date,
    * orderkey, cents)) — key-first lexicographic max, deterministic
    * because (date, orderkey) is unique — mirrored in the oracle as
    * a desc row_number. All spend is exact integer cents; avg is
    * integer div. Shuffles: one map-side-combining agg to (customer,
    * month) grain, one customer-partitioned lag window (activity-
    * bounded), one month agg; the cumulative window runs on the
    * month spine only. */
  def q220SemiAdditive(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val perMonth = Tables.orders(s, dir)
      .select($"o_custkey", date_trunc("month", $"o_orderdate").cast("date")
        .as("month"), to_date($"o_orderdate").as("odate"), $"o_orderkey",
        expr("CAST(round(o_totalprice * 100D) AS BIGINT)").as("cents"))
      .groupBy($"o_custkey", $"month")
      .agg(max(struct($"odate", $"o_orderkey", $"cents")).as("pick"))
      .select($"o_custkey", $"month", $"pick.cents".as("last_cents"))
    val wCust = Window.partitionBy($"o_custkey").orderBy($"month")
    val wMonths = Window.orderBy($"month")
      .rowsBetween(Window.unboundedPreceding, 0)
    perMonth
      .withColumn("prev", lag($"last_cents", 1).over(wCust))
      .select($"month",
        ($"last_cents" - coalesce($"prev", lit(0L))).as("delta"),
        when($"prev".isNull, 1L).otherwise(0L).as("first"))
      .groupBy($"month")
      .agg(sum($"delta").as("d"), sum($"first").as("nf"))
      .withColumn("n_customers", sum($"nf").over(wMonths))
      .withColumn("total_last_order_cents", sum($"d").over(wMonths))
      .select($"month", $"n_customers", $"total_last_order_cents",
        expr("total_last_order_cents div n_customers").as("avg_cents"))
      .orderBy($"month")
  }

  private val q220Oracle =
    """WITH o AS (
      |  SELECT o_custkey,
      |    CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
      |    CAST(o_orderdate AS DATE) AS odate, o_orderkey,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |pm AS (
      |  SELECT o_custkey, month, cents AS last_cents FROM (
      |    SELECT *, row_number() OVER (PARTITION BY o_custkey, month
      |      ORDER BY odate DESC, o_orderkey DESC) AS rn
      |    FROM o) WHERE rn = 1),
      |dl AS (
      |  SELECT month,
      |    last_cents - COALESCE(lag(last_cents) OVER (
      |      PARTITION BY o_custkey ORDER BY month), 0) AS delta,
      |    CASE WHEN lag(last_cents) OVER (
      |      PARTITION BY o_custkey ORDER BY month) IS NULL
      |      THEN 1 ELSE 0 END AS first
      |  FROM pm),
      |ma AS (
      |  SELECT month, CAST(sum(delta) AS BIGINT) AS d,
      |    CAST(sum(first) AS BIGINT) AS nf
      |  FROM dl GROUP BY 1),
      |cum AS (
      |  SELECT month,
      |    CAST(sum(nf) OVER (ORDER BY month ROWS UNBOUNDED PRECEDING)
      |      AS BIGINT) AS n_customers,
      |    CAST(sum(d) OVER (ORDER BY month ROWS UNBOUNDED PRECEDING)
      |      AS BIGINT) AS total_last_order_cents
      |  FROM ma)
      |SELECT month, n_customers, total_last_order_cents,
      |  CAST(total_last_order_cents // n_customers AS BIGINT) AS avg_cents
      |FROM cum ORDER BY month""".stripMargin

  // ---------------------------------------------------------------- q228
  /** Quantile–quantile drift table between two order eras (≤1997 vs
    * later): the d/10 decile VALUES of each period's price
    * distribution side by side with their signed ppm gap — the
    * distribution-shift readout that says WHERE the change lives
    * (q203's KS gives one max-gap number; q115's PSI gives binned
    * mass shifts; a QQ table localizes drift by quantile, the view
    * a pricing or data-quality review actually reads).
    *
    * Exact discrete quantiles on the cents spine (q218's
    * domain-bounded device): per period, one map-side-combining agg
    * to distinct cents, a cumulative window over the spine, and the
    * first-crossing rule `10·cum ≥ d·n` per decile — no per-row
    * ranking anywhere. The decile fan-out is a 9-element explode on
    * the spine; the final pivot is a 9-row conditional agg. */
  def q228QqDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val sc = Tables.orders(s, dir)
      .select(when(year($"o_orderdate") <= 1997, "p1").otherwise("p2")
        .as("period"),
        expr("CAST(round(o_totalprice * 100D) AS BIGINT)").as("x"))
    val spine = sc.groupBy($"period", $"x").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy($"period").orderBy($"x")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy($"period")
    spine
      .withColumn("cum", sum($"c").over(w))
      .withColumn("n", sum($"c").over(wAll))
      .select($"period", $"x", $"cum", $"n",
        explode(expr("sequence(1, 9)")).as("d"))
      .where(lit(10) * $"cum" >= $"d" * $"n")
      .groupBy($"d".cast("long").as("d"))
      .agg(min(when($"period" === "p1", $"x")).as("p1_cents"),
        min(when($"period" === "p2", $"x")).as("p2_cents"))
      .select($"d", $"p1_cents", $"p2_cents",
        expr("(1000000 * (p2_cents - p1_cents)) div p1_cents").as("gap_ppm"))
      .orderBy($"d")
  }

  private val q228Oracle =
    """WITH sc AS (
      |  SELECT CASE WHEN year(o_orderdate) <= 1997 THEN 'p1' ELSE 'p2' END
      |      AS period,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS x
      |  FROM orders),
      |spine AS (
      |  SELECT period, x, CAST(count(*) AS BIGINT) AS c
      |  FROM sc GROUP BY 1, 2),
      |cw AS (
      |  SELECT period, x,
      |    CAST(sum(c) OVER (PARTITION BY period ORDER BY x
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
      |    CAST(sum(c) OVER (PARTITION BY period) AS BIGINT) AS n
      |  FROM spine),
      |q AS (
      |  SELECT d.d,
      |    min(CASE WHEN period = 'p1' THEN x END) AS p1_cents,
      |    min(CASE WHEN period = 'p2' THEN x END) AS p2_cents
      |  FROM cw, (SELECT unnest(generate_series(1, 9)) AS d) d
      |  WHERE 10 * cum >= d.d * n
      |  GROUP BY 1)
      |SELECT d, p1_cents, p2_cents,
      |  CAST((1000000 * (p2_cents - p1_cents)) // p1_cents AS BIGINT)
      |    AS gap_ppm
      |FROM q ORDER BY d""".stripMargin

  // ---------------------------------------------------------------- q235
  /** On-time grace period for a line to count as filled. */
  val fillGraceDays = 90

  /** Order fill-rate — parent–child completeness: an order is
    * "fully filled on time" only if EVERY line shipped within 90
    * days of the order date; one late line disqualifies the whole
    * parent (ALL-quantified, where q17's EXISTS/HAVING is
    * ANY-quantified). The per-order verdict is `min(on_time)` over
    * its lines — the standard relational encoding of a universal
    * quantifier as an aggregate, no correlated NOT EXISTS subquery
    * re-scanning lineitem per order. One fact join (orders projected
    * to three columns), one (order) agg with map-side combine, one
    * priority-grain rollup. Exact day arithmetic; negative-lead
    * anomaly lines (q212) fail on-time honestly like any other late
    * line... they shipped before the order existed, which is not
    * "on time", it's a data defect the rate should surface. */
  def q235FillRate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lines = Tables.lineitem(s, dir)
      .select($"l_orderkey", to_date($"l_shipdate").as("ship"))
      .join(Tables.orders(s, dir)
        .select($"o_orderkey", $"o_orderpriority".as("priority"),
          to_date($"o_orderdate").as("odate")),
        $"l_orderkey" === $"o_orderkey")
      .select($"priority", $"o_orderkey",
        (datediff($"ship", $"odate") >= 0 &&
          datediff($"ship", $"odate") <= fillGraceDays).cast("long")
          .as("on_time"))
    lines
      .groupBy($"priority", $"o_orderkey")
      .agg(min($"on_time").as("all_on_time"), count(lit(1)).as("n_lines"))
      .groupBy($"priority")
      .agg(count(lit(1)).as("n_orders"),
        sum($"all_on_time").as("n_fully_filled"),
        sum($"n_lines").as("n_lines"))
      .select($"priority", $"n_orders", $"n_fully_filled", $"n_lines",
        expr("(1000000 * n_fully_filled) div n_orders").as("fill_ppm"))
      .orderBy($"priority")
  }

  private val q235Oracle =
    s"""WITH l AS (
       |  SELECT o.o_orderpriority AS priority, o.o_orderkey,
       |    CASE WHEN datediff('day', CAST(o.o_orderdate AS DATE),
       |        CAST(li.l_shipdate AS DATE)) BETWEEN 0 AND $fillGraceDays
       |      THEN 1 ELSE 0 END AS on_time
       |  FROM lineitem li JOIN orders o ON li.l_orderkey = o.o_orderkey),
       |po AS (
       |  SELECT priority, o_orderkey, min(on_time) AS all_on_time,
       |    CAST(count(*) AS BIGINT) AS n_lines
       |  FROM l GROUP BY 1, 2)
       |SELECT priority, CAST(count(*) AS BIGINT) AS n_orders,
       |  CAST(sum(all_on_time) AS BIGINT) AS n_fully_filled,
       |  CAST(sum(n_lines) AS BIGINT) AS n_lines,
       |  CAST((1000000 * sum(all_on_time)) // count(*) AS BIGINT)
       |    AS fill_ppm
       |FROM po GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q245
  /** Quintile rank-migration matrix — "do big customers stay big?":
    * each customer's spend quintile in the early era (≤1997) against
    * their quintile in the late era, counted into the 5×5 mobility
    * matrix with row-share ppm — the rank-persistence readout behind
    * churn-of-whales analyses (q219 scores ONE cross-section; this
    * compares two). Quintiles per era by the q219 integer formula on
    * era-grain customer aggregates (dimension-bounded ranking); only
    * customers active in BOTH eras migrate (the matrix row is the
    * era-1 cohort that could move). Cents-exact spend, custkey
    * tiebreaks, diagonal share spec'd. */
  def q245RankMigration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    def eraSpend(era: String): DataFrame = {
      val cond =
        if (era == "p1") year($"o_orderdate") <= 1997
        else year($"o_orderdate") > 1997
      Tables.orders(s, dir).where(cond)
        .groupBy($"o_custkey")
        .agg(sum(expr("CAST(round(o_totalprice * 100D) AS BIGINT)"))
          .as("cents"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy()))
        .withColumn("rn", row_number().over(
          Window.orderBy($"cents".desc, $"o_custkey")).cast("long"))
        .select($"o_custkey",
          expr("CAST(5 - (5 * (rn - 1)) div n AS BIGINT)").as(s"q_$era"))
    }
    eraSpend("p1").join(eraSpend("p2"), "o_custkey")
      .groupBy($"q_p1", $"q_p2")
      .agg(count(lit(1)).as("n_customers"))
      .withColumn("row_share_ppm", expr(
        "(1000000 * n_customers) div sum(n_customers) OVER (PARTITION BY q_p1)"))
      .orderBy($"q_p1", $"q_p2")
  }

  private val q245Oracle =
    """WITH e1 AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders WHERE year(o_orderdate) <= 1997 GROUP BY 1),
      |r1 AS (
      |  SELECT o_custkey, CAST(5 - (5 * (row_number() OVER (
      |      ORDER BY cents DESC, o_custkey) - 1))
      |    // (SELECT count(*) FROM e1) AS BIGINT) AS q_p1
      |  FROM e1),
      |e2 AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders WHERE year(o_orderdate) > 1997 GROUP BY 1),
      |r2 AS (
      |  SELECT o_custkey, CAST(5 - (5 * (row_number() OVER (
      |      ORDER BY cents DESC, o_custkey) - 1))
      |    // (SELECT count(*) FROM e2) AS BIGINT) AS q_p2
      |  FROM e2),
      |m AS (
      |  SELECT q_p1, q_p2, CAST(count(*) AS BIGINT) AS n_customers
      |  FROM r1 JOIN r2 USING (o_custkey) GROUP BY 1, 2)
      |SELECT q_p1, q_p2, n_customers,
      |  CAST((1000000 * n_customers) //
      |    (sum(n_customers) OVER (PARTITION BY q_p1)) AS BIGINT)
      |    AS row_share_ppm
      |FROM m ORDER BY q_p1, q_p2""".stripMargin

  // ---------------------------------------------------------------- q247
  /** Exact-integer Pearson correlation matrix over the four lineitem
    * numeric measures — the EDA table every feature-engineering pass
    * starts from, computed deterministically: doubles accumulate
    * partition-order-dependently (q135's lesson), so every sum here
    * is BIGINT over integer-quantized, INTEGER-CENTERED columns.
    * Two passes by design: pass 1 takes the four integer means,
    * pass 2 accumulates the 4 variances + 6 cross products of the
    * centered columns in ONE map-side-combining aggregate. The
    * final ratio uses the fixed-form floored sqrt (ln discipline)
    * and a two-step 10³×10³ scaling so the ppm numerator never
    * leaves BIGINT (documented: Σxc·yc ~10¹⁵ here; 10⁶·that would
    * overflow — divide the denominator down first). Quantization
    * grids (qty ×100, price ×1 dollar, disc/tax ×10⁴) keep centered
    * squares ≪2⁶³ at 10⁹ rows; a bigger corpus re-grids (q202). */
  def q247CorrMatrix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val q = Tables.lineitem(s, dir).select(
      expr("CAST(round(l_quantity * 100D) AS BIGINT)").as("qty"),
      expr("CAST(round(l_extendedprice) AS BIGINT)").as("price"),
      expr("CAST(round(l_discount * 10000D) AS BIGINT)").as("disc"),
      expr("CAST(round(l_tax * 10000D) AS BIGINT)").as("tax"))
    val means = q.agg(count(lit(1)).as("n"), sum($"qty").as("sq"),
      sum($"price").as("sp"), sum($"disc").as("sd"), sum($"tax").as("st"))
    val c = q.crossJoin(broadcast(means)).select(
      ($"qty" - expr("sq div n")).as("q"),
      ($"price" - expr("sp div n")).as("p"),
      ($"disc" - expr("sd div n")).as("d"),
      ($"tax" - expr("st div n")).as("t"))
    val sums = c.agg(
      sum($"q" * $"q").as("qq"), sum($"p" * $"p").as("pp"),
      sum($"d" * $"d").as("dd"), sum($"t" * $"t").as("tt"),
      sum($"q" * $"p").as("qp"), sum($"q" * $"d").as("qd"),
      sum($"q" * $"t").as("qt"), sum($"p" * $"d").as("pd"),
      sum($"p" * $"t").as("pt"), sum($"d" * $"t").as("dt"))
    def corr(xy: String, xx: String, yy: String): Column =
      expr(s"""(1000 * $xy) div
              |  ((CAST(floor(sqrt(CAST($xx AS DOUBLE))) AS BIGINT)
              |    * CAST(floor(sqrt(CAST($yy AS DOUBLE))) AS BIGINT))
              |   div 1000)""".stripMargin)
    sums.select(
      corr("qp", "qq", "pp").as("qty_price_ppm"),
      corr("qd", "qq", "dd").as("qty_disc_ppm"),
      corr("qt", "qq", "tt").as("qty_tax_ppm"),
      corr("pd", "pp", "dd").as("price_disc_ppm"),
      corr("pt", "pp", "tt").as("price_tax_ppm"),
      corr("dt", "dd", "tt").as("disc_tax_ppm"))
  }

  private val q247Oracle =
    """WITH q0 AS (
      |  SELECT CAST(round(l_quantity * 100) AS BIGINT) AS qty,
      |    CAST(round(l_extendedprice) AS BIGINT) AS price,
      |    CAST(round(l_discount * 10000) AS BIGINT) AS disc,
      |    CAST(round(l_tax * 10000) AS BIGINT) AS tax
      |  FROM lineitem),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(qty) AS BIGINT) AS sq, CAST(sum(price) AS BIGINT) AS sp,
      |    CAST(sum(disc) AS BIGINT) AS sd, CAST(sum(tax) AS BIGINT) AS st
      |  FROM q0),
      |c AS (
      |  SELECT qty - (m.sq // m.n) AS q, price - (m.sp // m.n) AS p,
      |    disc - (m.sd // m.n) AS d, tax - (m.st // m.n) AS t
      |  FROM q0, m),
      |s AS (
      |  SELECT CAST(sum(q * q) AS BIGINT) AS qq,
      |    CAST(sum(p * p) AS BIGINT) AS pp,
      |    CAST(sum(d * d) AS BIGINT) AS dd,
      |    CAST(sum(t * t) AS BIGINT) AS tt,
      |    CAST(sum(q * p) AS BIGINT) AS qp,
      |    CAST(sum(q * d) AS BIGINT) AS qd,
      |    CAST(sum(q * t) AS BIGINT) AS qt,
      |    CAST(sum(p * d) AS BIGINT) AS pd,
      |    CAST(sum(p * t) AS BIGINT) AS pt,
      |    CAST(sum(d * t) AS BIGINT) AS dt
      |  FROM c)
      |SELECT
      |  CAST((1000 * qp) // ((CAST(floor(sqrt(CAST(qq AS DOUBLE))) AS BIGINT)
      |    * CAST(floor(sqrt(CAST(pp AS DOUBLE))) AS BIGINT)) // 1000)
      |    AS BIGINT) AS qty_price_ppm,
      |  CAST((1000 * qd) // ((CAST(floor(sqrt(CAST(qq AS DOUBLE))) AS BIGINT)
      |    * CAST(floor(sqrt(CAST(dd AS DOUBLE))) AS BIGINT)) // 1000)
      |    AS BIGINT) AS qty_disc_ppm,
      |  CAST((1000 * qt) // ((CAST(floor(sqrt(CAST(qq AS DOUBLE))) AS BIGINT)
      |    * CAST(floor(sqrt(CAST(tt AS DOUBLE))) AS BIGINT)) // 1000)
      |    AS BIGINT) AS qty_tax_ppm,
      |  CAST((1000 * pd) // ((CAST(floor(sqrt(CAST(pp AS DOUBLE))) AS BIGINT)
      |    * CAST(floor(sqrt(CAST(dd AS DOUBLE))) AS BIGINT)) // 1000)
      |    AS BIGINT) AS price_disc_ppm,
      |  CAST((1000 * pt) // ((CAST(floor(sqrt(CAST(pp AS DOUBLE))) AS BIGINT)
      |    * CAST(floor(sqrt(CAST(tt AS DOUBLE))) AS BIGINT)) // 1000)
      |    AS BIGINT) AS price_tax_ppm,
      |  CAST((1000 * dt) // ((CAST(floor(sqrt(CAST(dd AS DOUBLE))) AS BIGINT)
      |    * CAST(floor(sqrt(CAST(tt AS DOUBLE))) AS BIGINT)) // 1000)
      |    AS BIGINT) AS disc_tax_ppm
      |FROM s""".stripMargin

  // ---------------------------------------------------------------- q180
  /** Changelog compaction with DELETE tombstones — applying a CDC
    * feed (insert / update / delete ops with a sequence number) to
    * produce the current table: the operator behind every
    * Debezium-style replication landing. q94 compacts last-writer-
    * wins VALUES; this adds the two things real CDC needs on top:
    * explicit tombstones (a deleted key must vanish, not keep its
    * last value) and op-sequence ordering that is independent of
    * arrival order. Per key: order by seq, keep the latest op, drop
    * the key iff that op is a delete; `n_versions` rides along as
    * the compaction-audit column.
    *
    * The fixture changelog derives from `orders` IN ONE SCAN (each
    * row explodes to its insert + conditional update + conditional
    * tombstone — no three-branch self-union re-reading the fact
    * table), then one key-partitioned window does ordering, survivor
    * choice, and version counting together — a single shuffle, the
    * same cost profile as q94. */
  def q180CdcApply(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val emptyOps = "CAST(array() AS ARRAY<STRUCT<seq: BIGINT, op: STRING, price: DOUBLE>>)"
    val changelog = Tables.orders(s, dir)
      .select($"o_orderkey".as("key"), explode(expr(
        s"""concat(
           |  array(struct(1L AS seq, 'I' AS op, o_totalprice AS price)),
           |  CASE WHEN o_orderkey % 3 = 0 THEN
           |    array(struct(2L AS seq, 'U' AS op, o_totalprice + 1000.0D AS price))
           |  ELSE $emptyOps END,
           |  CASE WHEN o_orderkey % 5 = 0 THEN
           |    array(struct(3L AS seq, 'D' AS op, CAST(NULL AS DOUBLE) AS price))
           |  ELSE $emptyOps END)""".stripMargin)).as("c"))
      .select($"key", $"c.seq", $"c.op", $"c.price")
    val w = Window.partitionBy($"key")
    changelog
      .withColumn("rn", row_number().over(w.orderBy($"seq".desc)))
      .withColumn("n_versions", count(lit(1)).over(w))
      .where($"rn" === 1 && $"op" =!= "D")
      .select($"key", $"price", $"seq".as("last_seq"), $"n_versions")
      .orderBy($"key")
  }

  private val q180Oracle =
    """WITH changelog AS (
      |  SELECT o_orderkey AS key, 1 AS seq, 'I' AS op, o_totalprice AS price
      |  FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, 2, 'U', o_totalprice + 1000.0
      |  FROM orders WHERE o_orderkey % 3 = 0
      |  UNION ALL
      |  SELECT o_orderkey, 3, 'D', NULL
      |  FROM orders WHERE o_orderkey % 5 = 0),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn,
      |    CAST(count(*) OVER (PARTITION BY key) AS BIGINT) AS n_versions
      |  FROM changelog)
      |SELECT key, price, CAST(seq AS BIGINT) AS last_seq, n_versions
      |FROM ranked WHERE rn = 1 AND op <> 'D'
      |ORDER BY key""".stripMargin

  // ---------------------------------------------------------------- q99
  /** Time-series gap filling (resample to a dense hourly grid): every
    * (event_type × hour) slot in the observed span gets a row, absent
    * slots at zero — the densification step before any rate/anomaly
    * model that can't represent "no row". The spine is BOUNDED data:
    * one global (min, max) row crossed with the distinct types —
    * span×types rows regardless of corpus size — so it broadcasts
    * onto the aggregated counts (already reduced to one row per
    * occupied slot). The raw stream never joins the spine. */
  def q99GapFill(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hours = Tables.events(s, dir)
      .select(date_trunc("hour", $"ts").as("h"), $"event_type")
    val counts = hours.groupBy($"h", $"event_type")
      .agg(count(lit(1)).as("n"))
    val bounds = hours.agg(min($"h").as("mn"), max($"h").as("mx"))
    val spine = bounds
      .select(explode(sequence($"mn", $"mx", expr("INTERVAL 1 HOUR"))).as("h"))
      .crossJoin(hours.select($"event_type").distinct())
    spine.join(counts, Seq("h", "event_type"), "left")
      .select($"h", $"event_type", coalesce($"n", lit(0L)).as("n"))
      .orderBy($"h", $"event_type")
  }

  private[ops] val q99Oracle =
    """WITH d AS (
      |  SELECT date_trunc('hour', ts) AS h, event_type FROM events),
      |c AS (SELECT h, event_type, count(*) AS n FROM d GROUP BY 1, 2),
      |b AS (SELECT min(h) AS mn, max(h) AS mx FROM d),
      |spine AS (
      |  SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h, event_type
      |  FROM b CROSS JOIN (SELECT DISTINCT event_type FROM d) t)
      |SELECT spine.h AS h, spine.event_type AS event_type,
      |  COALESCE(n, 0) AS n
      |FROM spine LEFT JOIN c ON spine.h = c.h AND spine.event_type = c.event_type
      |ORDER BY h, event_type""".stripMargin

  // ---------------------------------------------------------------- q100
  /** Fixed-width histogram — the distribution profile behind q93's
    * skew report and every "what does this column look like" sweep.
    * Bin id is pure arithmetic on the row (floor of a double divide,
    * engine-identical), so binning happens at the scan and only
    * (bin, partial agg) rows shuffle. Bin WIDTH is the fixed model
    * constant; bin COUNT follows the data range — at 100 TB you cap
    * ids with least() if a wild outlier could mint unbounded groups. */
  val histBinWidth = 50000.0

  def q100Histogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .select(floor($"o_totalprice" / histBinWidth).as("bin"), $"o_totalprice")
      .groupBy($"bin")
      .agg(count(lit(1)).as("n"),
        min($"o_totalprice").as("lo"), max($"o_totalprice").as("hi"))
      .orderBy($"bin")
  }

  private val q100Oracle =
    s"""SELECT CAST(floor(o_totalprice / $histBinWidth) AS BIGINT) AS bin,
       |  count(*) AS n, min(o_totalprice) AS lo, max(o_totalprice) AS hi
       |FROM orders GROUP BY 1 ORDER BY bin""".stripMargin

  // ---------------------------------------------------------------- q253
  /** Benford expected first-digit shares in floored ppm —
    * floor(log10(1+1/d)·10⁶), a compile-time constant table shared
    * verbatim with the oracle. */
  val benfordPpm: Seq[Long] =
    (1 to 9).map(d => math.floor(math.log10(1 + 1.0 / d) * 1e6).toLong)

  /** Benford first-digit anomaly screen over order totals — the
    * classic forensic-accounting test (fabricated or capped amounts
    * bend the first-digit law): per digit 1–9, observed count and
    * share vs the Benford expectation, deviation in exact ppm. The
    * amount is floored integer cents (floor is IEEE-exact on both
    * engines; a raw double→BIGINT cast is NOT — Spark truncates,
    * DuckDB rounds) and the digit is the first character of the
    * BIGINT's decimal print — no log10 on data values anywhere. The
    * digit spine is COMPLETE (q242's zero-cell discipline: a missing
    * digit is the loudest anomaly and must appear as n=0).
    *
    * Scale shape: digit extraction at the scan, one partial agg into
    * a 9-row result, window totals over the digit spine only. */
  def q253BenfordScreen(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.orders(s, dir)
      .select(substring(floor($"o_totalprice" * 100).cast("long")
        .cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy($"digit").agg(count(lit(1)).as("n"))
    val spine = s.range(1, 10).select($"id".cast("int").as("digit"),
      element_at(lit(benfordPpm.toArray), $"id".cast("int")).as("exp_ppm"))
    val wAll = Window.partitionBy()
    spine.join(counts, Seq("digit"), "left")
      .select($"digit", coalesce($"n", lit(0L)).as("n"), $"exp_ppm")
      .withColumn("obs_ppm", expr("(1000000 * n) div sum(n) OVER ()"))
      .withColumn("dev_ppm", $"obs_ppm" - $"exp_ppm")
      .select($"digit", $"n", $"obs_ppm", $"exp_ppm", $"dev_ppm")
      .orderBy($"digit")
  }

  private val q253Oracle =
    s"""WITH c AS (
       |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100) AS BIGINT)
       |    AS VARCHAR), 1, 1) AS INT) AS digit,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM orders GROUP BY 1),
       |spine AS (
       |  SELECT digit, exp_ppm FROM (VALUES
       |    ${benfordPpm.zipWithIndex.map { case (p, i) => s"(${i + 1}, ${p})" }
           .mkString(", ")}) AS t(digit, exp_ppm))
       |SELECT spine.digit, CAST(COALESCE(c.n, 0) AS BIGINT) AS n,
       |  CAST((1000000 * COALESCE(c.n, 0)) // (sum(COALESCE(c.n, 0)) OVER ())
       |    AS BIGINT) AS obs_ppm,
       |  CAST(exp_ppm AS BIGINT) AS exp_ppm,
       |  CAST((1000000 * COALESCE(c.n, 0)) // (sum(COALESCE(c.n, 0)) OVER ())
       |    - exp_ppm AS BIGINT) AS dev_ppm
       |FROM spine LEFT JOIN c ON spine.digit = c.digit
       |ORDER BY spine.digit""".stripMargin

  // ---------------------------------------------------------------- q288
  /** Order↔lineitem financial reconciliation — does the header total
    * equal the sum of its lines' charges (extprice·(1−disc)·(1+tax)),
    * the audit every billing pipeline runs before closing books.
    * Exact integer throughout: prices quantized to cents, rates to
    * basis points, so a line's charge is an exact product in
    * 10⁻⁸-cent units and the header comparison is BIGINT equality —
    * no float epsilon to hide behind. Discrepant orders land in
    * signed log₂ magnitude buckets (q276's length(bin(·)) device on
    * cents) so the report separates rounding-grade drift from real
    * breakage; the synthetic corpus does NOT reconcile and the
    * report says so honestly rather than averaging it away.
    *
    * Scale shape: one lineitem pass (partial agg to order grain),
    * one broadcast-friendly header join on the order key, one fold
    * to the ≤128-bucket report. */
  def q288Reconciliation(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lines = Tables.lineitem(s, dir)
      .select($"l_orderkey",
        (expr("CAST(round(l_extendedprice * 100D) AS BIGINT)")
          * (lit(10000L) - expr("CAST(round(l_discount * 10000D) AS BIGINT)"))
          * (lit(10000L) + expr("CAST(round(l_tax * 10000D) AS BIGINT)")))
          .as("charge"))
      .groupBy($"l_orderkey").agg(sum($"charge").as("line_total"))
    val orders = Tables.orders(s, dir)
      .select($"o_orderkey",
        expr("CAST(round(o_totalprice * 100D) AS BIGINT)").as("hdr_cents"))
    orders.join(lines, $"o_orderkey" === $"l_orderkey", "left")
      .select($"hdr_cents",
        (coalesce($"line_total", lit(0L))
          - $"hdr_cents" * lit(100000000L)).as("diff"))
      .select(
        expr("""CASE WHEN diff = 0 THEN 0
          |  ELSE CAST(sign(diff) AS BIGINT)
          |    * CAST(length(bin(1 + abs(diff) div 100000000)) AS BIGINT)
          |END""".stripMargin).as("bucket"),
        $"diff")
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_orders"),
        min(expr("diff div 100000000")).as("min_diff_cents"),
        max(expr("diff div 100000000")).as("max_diff_cents"))
      .orderBy($"bucket")
  }

  private val q288Oracle =
    """WITH lines AS (
      |  SELECT l_orderkey,
      |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |      * (10000 - CAST(round(l_discount * 10000) AS BIGINT))
      |      * (10000 + CAST(round(l_tax * 10000) AS BIGINT))) AS BIGINT)
      |      AS line_total
      |  FROM lineitem GROUP BY 1),
      |d AS (
      |  SELECT COALESCE(l.line_total, 0)
      |      - CAST(round(o.o_totalprice * 100) AS BIGINT) * 100000000
      |      AS diff
      |  FROM orders o LEFT JOIN lines l ON o.o_orderkey = l.l_orderkey),
      |b AS (
      |  SELECT CASE WHEN diff = 0 THEN 0
      |    ELSE CAST(sign(diff) AS BIGINT)
      |      * CAST(length(bin(1 + abs(diff) // 100000000)) AS BIGINT)
      |  END AS bucket, diff
      |  FROM d)
      |SELECT bucket, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(min(diff // 100000000) AS BIGINT) AS min_diff_cents,
      |  CAST(max(diff // 100000000) AS BIGINT) AS max_diff_cents
      |FROM b GROUP BY 1 ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------- q289
  /** Largest-remainder allocation — split each order's header total
    * (cents) across its lineitems proportionally to extended price
    * so the parts sum EXACTLY to the whole: the apportionment
    * problem naive per-row rounding gets wrong by ±(lines−1) cents
    * per order (and which financial close actually cares about).
    * Hamilton's method declaratively: base = floor share, then the
    * residual R = total − Σbase cents go to the R largest
    * remainders (window rank; remainder DESC, linenumber tie-break —
    * duplicate synthetic lines make the per-row choice among
    * identical twins arbitrary but the per-order allocation MULTISET
    * deterministic, which is what the oracle hash compares). The
    * per-order Σalloc = total invariant is spec-pinned.
    *
    * Scale shape: two order-key windows (sum, rank) on the lineitem
    * stream — same key, one shuffle; no joins, no collect. */
  def q289LargestRemainder(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy($"l_orderkey")
    val li = Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_linenumber",
        expr("CAST(round(l_extendedprice * 100D) AS BIGINT)").as("p"))
      .withColumn("pt", sum($"p").over(wOrd))
    val withTotal = li
      .join(Tables.orders(s, dir).select($"o_orderkey",
        expr("CAST(round(o_totalprice * 100D) AS BIGINT)").as("total")),
        $"l_orderkey" === $"o_orderkey")
      .select($"l_orderkey", $"l_linenumber", $"p", $"pt", $"total",
        expr("(total * p) div pt").as("base"),
        expr("(total * p) % pt").as("rem"))
    val wRank = Window.partitionBy($"l_orderkey")
      .orderBy($"rem".desc, $"l_linenumber")
    withTotal
      .withColumn("rbase", sum($"base").over(wOrd))
      .withColumn("rn", row_number().over(wRank).cast("long"))
      .select($"l_orderkey", $"l_linenumber", $"p".as("price_cents"),
        ($"base" + when($"rn" <= $"total" - $"rbase", 1L).otherwise(0L))
          .as("alloc_cents"))
      .orderBy($"l_orderkey", $"l_linenumber", $"alloc_cents")
  }

  private val q289Oracle =
    """WITH li AS (
      |  SELECT l_orderkey, l_linenumber,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS p,
      |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
      |      OVER (PARTITION BY l_orderkey) AS BIGINT) AS pt
      |  FROM lineitem),
      |wt AS (
      |  SELECT li.l_orderkey, li.l_linenumber, li.p, li.pt,
      |    CAST(round(o.o_totalprice * 100) AS BIGINT) AS total,
      |    (CAST(round(o.o_totalprice * 100) AS BIGINT) * li.p) // li.pt
      |      AS base,
      |    (CAST(round(o.o_totalprice * 100) AS BIGINT) * li.p) % li.pt
      |      AS rem
      |  FROM li JOIN orders o ON li.l_orderkey = o.o_orderkey),
      |rk AS (
      |  SELECT l_orderkey, l_linenumber, p, base, total,
      |    CAST(sum(base) OVER (PARTITION BY l_orderkey) AS BIGINT)
      |      AS rbase,
      |    CAST(row_number() OVER (PARTITION BY l_orderkey
      |      ORDER BY rem DESC, l_linenumber) AS BIGINT) AS rn
      |  FROM wt)
      |SELECT l_orderkey, l_linenumber, p AS price_cents,
      |  base + CASE WHEN rn <= total - rbase THEN 1 ELSE 0 END
      |    AS alloc_cents
      |FROM rk ORDER BY l_orderkey, l_linenumber, alloc_cents""".stripMargin

  // ---------------------------------------------------------------- q300
  /** Accumulating-snapshot fulfillment fact (Kimball) — one row per
    * order carrying its milestone dates and the widths between them:
    * order date, first ship, last ship, days-to-first, days-to-last,
    * ship span, and line totals. The table a fulfillment dashboard
    * reads directly (q212 aggregates the same lag into per-priority
    * quantiles; this is the row-grain fact those aggregates roll up
    * from — the thing you ALSO need, because "which orders are stuck"
    * is a row question, not a quantile). Orders that never shipped
    * keep NULL milestones and −1 widths, disclosed rather than
    * dropped.
    *
    * Scale shape: one lineitem partial agg to order grain, one
    * order-key join — the same two-table shape every accumulating
    * snapshot build has; no windows, no sorts beyond the output
    * order. */
  def q300AccumulatingSnapshot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ship = Tables.lineitem(s, dir)
      .groupBy($"l_orderkey")
      .agg(min(to_date($"l_shipdate")).as("first_ship"),
        max(to_date($"l_shipdate")).as("last_ship"),
        count(lit(1)).as("n_lines"),
        sum(expr("CAST(round(l_extendedprice * 100D) AS BIGINT)"))
          .as("lines_cents"))
    Tables.orders(s, dir)
      .select($"o_orderkey", to_date($"o_orderdate").as("order_date"),
        $"o_orderstatus")
      .join(ship, $"o_orderkey" === $"l_orderkey", "left")
      .select($"o_orderkey", $"order_date", $"o_orderstatus",
        $"first_ship", $"last_ship",
        coalesce($"n_lines", lit(0L)).as("n_lines"),
        coalesce($"lines_cents", lit(0L)).as("lines_cents"),
        coalesce(datediff($"first_ship", $"order_date").cast("long"),
          lit(-1L)).as("days_to_first_ship"),
        coalesce(datediff($"last_ship", $"order_date").cast("long"),
          lit(-1L)).as("days_to_last_ship"),
        coalesce(datediff($"last_ship", $"first_ship").cast("long"),
          lit(-1L)).as("ship_span_days"))
      .orderBy($"o_orderkey")
  }

  private val q300Oracle =
    """WITH ship AS (
      |  SELECT l_orderkey, min(CAST(l_shipdate AS DATE)) AS first_ship,
      |    max(CAST(l_shipdate AS DATE)) AS last_ship,
      |    CAST(count(*) AS BIGINT) AS n_lines,
      |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
      |      AS BIGINT) AS lines_cents
      |  FROM lineitem GROUP BY 1)
      |SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS order_date,
      |  o.o_orderstatus, s.first_ship, s.last_ship,
      |  COALESCE(s.n_lines, 0) AS n_lines,
      |  COALESCE(s.lines_cents, 0) AS lines_cents,
      |  COALESCE(s.first_ship - CAST(o.o_orderdate AS DATE), -1)
      |    AS days_to_first_ship,
      |  COALESCE(s.last_ship - CAST(o.o_orderdate AS DATE), -1)
      |    AS days_to_last_ship,
      |  COALESCE(s.last_ship - s.first_ship, -1) AS ship_span_days
      |FROM orders o LEFT JOIN ship s ON o.o_orderkey = s.l_orderkey
      |ORDER BY o.o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q361
  /** Boosting rounds (stumps added after the constant baseline). */
  val boostRounds = 3

  /** Shared exact-integer S²/n device (q324's denominator-first
    * split): with a=|S|, q=a div n, a² div n = q·a + ((a−q·n)·a)
    * div n exactly — every intermediate ≤ mean·|S|, so the stump
    * score never forms S². Rendered for both engines. */
  private def msumSql(sc: String, nc: String, idiv: String): String = {
    val a = s"abs($sc)"
    val q = s"($a $idiv $nc)"
    s"($q * $a + (($a - $q * $nc) * $a) $idiv $nc)"
  }

  /** F(x) as a SQL expression for a model prefix: the constant
    * baseline plus each committed stump's branch add. `refs` renders
    * params as literals (Spark driver loop) or as the model-CTE's
    * column names (oracle). */
  private def boostFSql(f0: String, steps: Seq[(String, String, String)]): String =
    steps.foldLeft(f0) { case (acc, (t, l, r)) =>
      s"($acc + (CASE WHEN x <= $t THEN $l ELSE $r END))"
    }

  /** Gradient-boosted regression stumps — the ensemble upgrade of
    * q246's single decision stump, and the third from-scratch
    * distributed learner (q352 logistic GD, q353 Naive Bayes):
    * predict whole-dollar order value from the customer key by a
    * constant baseline plus [[boostRounds]] depth-1 trees fit on
    * integer residuals under squared loss. Exact BIGINT end-to-end:
    * the target is floor(totalprice) dollars (explicit floor — a raw
    * double→BIGINT cast diverges between engines, q253's lesson),
    * split scoring maximizes S_l²/n_l + S_r²/n_r via the
    * denominator-first device (never forms S²; safe to ~10¹³ rows at
    * this quantization, disclosed), leaf adds are truncating-division
    * residual means, ties break to the smaller threshold. Output =
    * the model TRAJECTORY: per round its committed stump and the
    * training MSE, which must fall monotonically (spec-pinned).
    *
    * Scale shape: ONE corpus pass reduces to the feature-DOMAIN
    * spine (x, n, Σy, Σy²) — residuals are a function of x, so every
    * round reruns on the spine, never the corpus (the algebra that
    * makes boosting a domain-bounded loop here). Candidate scoring
    * is one cumulative window over the spine (q246's disclosed
    * single-partition-on-domain posture); each round collects ONE
    * argmax row. The oracle unrolls the rounds as generated CTEs. */
  def q361BoostedStumps(s: SparkSession, dir: String): DataFrame =
    boostedStumpsOf(Tables.orders(s, dir)
      .selectExpr("o_custkey AS x", "CAST(floor(o_totalprice) AS BIGINT) AS y"))

  /** The boosting fold on any (x BIGINT, y BIGINT) frame — separated
    * so the spec can plant an exactly-learnable step function. */
  private[ops] def boostedStumpsOf(base: DataFrame): DataFrame =
    boostedFold(base, None)

  /** Boosting with an optional HELD-OUT frame: the model trains on
    * `train` only; when `test` is given, every round also prices the
    * model on the untouched test spine (test residuals are a
    * function of x too, so the eval is spine-bounded as well). */
  private[ops] def boostedFold(train: DataFrame,
      test: Option[DataFrame]): DataFrame = {
    val s = train.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    def spineOf(df: DataFrame) = df
      .groupBy($"x")
      .agg(count(lit(1)).as("n_x"), expr("sum(y)").as("sy"),
        expr("sum(y * y)").as("sy2"))
      .localCheckpoint()
    val perx = spineOf(train)
    val testSpine = test.map(spineOf)
    val t0 = perx.selectExpr("sum(n_x) AS n", "sum(sy) AS s", "sum(sy2) AS s2")
      .collect()(0)
    val (n, sTot, s2Tot) = (t0.getLong(0), t0.getLong(1), t0.getLong(2))
    val testN = testSpine.map(_.agg(sum($"n_x")).collect()(0).getLong(0))
    val f0 = sTot / n
    def mseOn(spine: DataFrame, nTot: Long, f: String): Long =
      spine.selectExpr(
        s"sum(sy2 - 2 * ($f) * sy + n_x * ($f) * ($f)) AS sse")
        .collect()(0).getLong(0) / nTot
    val steps = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    def fLit = boostFSql(s"${f0}L",
      steps.toSeq.map { case (t, l, r) => (s"${t}L", s"${l}L", s"${r}L") })
    def emit(r: Long, t: Long, l: Long, rr: Long) = {
      val f = fLit
      val trainMse = mseOn(perx, n, f)
      testSpine match {
        case Some(ts) => (r, t, l, rr, trainMse, mseOn(ts, testN.get, f))
        case None => (r, t, l, rr, trainMse, -1L)
      }
    }
    val out = scala.collection.mutable.ArrayBuffer(emit(0L, -1L, f0, f0))
    for (r <- 1 to boostRounds) {
      val f = fLit
      val resid = perx.selectExpr("x", "n_x", s"sy - n_x * $f AS sr")
      // residual total under the CURRENT model (floored leaf means
      // leave a nonzero remainder, so this is not simply 0)
      val totS = resid.agg(sum($"sr")).collect()(0).getLong(0)
      val w = Window.orderBy($"x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val best = resid
        .withColumn("nl", sum($"n_x").over(w))
        .withColumn("sl", sum($"sr").over(w))
        .withColumn("nr", lit(n) - $"nl")
        .withColumn("srr", lit(totS) - $"sl")
        .where($"nr" > 0L)
        .withColumn("score", expr(
          s"${msumSql("sl", "nl", "div")} + ${msumSql("srr", "nr", "div")}"))
        .agg(max(struct($"score", (-$"x").as("nx"), $"nl", $"sl", $"nr", $"srr")).as("b"))
        .selectExpr("b.score", "-b.nx AS t", "b.nl", "b.sl", "b.nr", "b.srr")
        .collect()(0)
      val (t, nl, sl, nr, sr2) =
        (best.getLong(1), best.getLong(2), best.getLong(3),
          best.getLong(4), best.getLong(5))
      steps += ((t, sl / nl, sr2 / nr))
      val st = steps.last
      out += emit(r.toLong, st._1, st._2, st._3)
    }
    val df = s.createDataFrame(out.toSeq).toDF("round", "threshold",
      "add_left", "add_right", "train_mse", "test_mse")
    (if (test.isEmpty) df.drop("test_mse") else df).orderBy($"round")
  }

  // ---------------------------------------------------------------- q364
  /** SQL PIPE syntax (Spark 4's `|>` operators — the linear query
    * form SQL:2023's proponents and GoogleSQL pipe syntax argue
    * for): the same filter → aggregate → order chain q01 writes
    * relationally, expressed as a pipeline the optimizer still plans
    * as ONE logical tree (pipe stages are pure syntax — Catalyst
    * sees the identical Aggregate/Filter/Sort plan, so pushdown and
    * partial aggregation are unchanged). The oracle is the plain-SQL
    * equivalent, proving the two forms are the same query. */
  def q364SqlPipeSyntax(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("g_pipe_lineitem")
    val out = s.sql(
      """FROM g_pipe_lineitem
        ||> WHERE l_quantity >= 30
        ||> AGGREGATE count(*) AS n_lines,
        |     CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |     GROUP BY l_returnflag, l_linestatus
        ||> WHERE n_lines > 0
        ||> ORDER BY l_returnflag, l_linestatus""".stripMargin)
    s.catalog.dropTempView("g_pipe_lineitem")
    out
  }

  private val q364Oracle =
    """SELECT l_returnflag, l_linestatus, count(*) AS n_lines,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      |FROM lineitem WHERE l_quantity >= 30
      |GROUP BY 1, 2 HAVING count(*) > 0
      |ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q365
  /** Correlated LATERAL derived table — the top-1-per-group join
    * written the way SQL:99 intends (each nation row drives its own
    * ordered-limit subquery) instead of q13's window + filter.
    * Catalyst plans the correlated LIMIT 1 via DomainJoin rewrite;
    * semantically it is the per-group argmax, and the oracle states
    * the same LATERAL in DuckDB. Nations whose customer set is empty
    * drop out (inner lateral), disclosed. */
  def q365LateralJoin(s: SparkSession, dir: String): DataFrame = {
    Tables.nation(s, dir).createOrReplaceTempView("g_lat_nation")
    Tables.customer(s, dir).createOrReplaceTempView("g_lat_customer")
    val out = s.sql(
      """SELECT n.n_name, t.c_name, t.c_acctbal
        |FROM g_lat_nation n,
        |LATERAL (
        |  SELECT c_name, c_acctbal FROM g_lat_customer c
        |  WHERE c.c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_name LIMIT 1) t
        |ORDER BY n.n_name""".stripMargin)
    Seq("g_lat_nation", "g_lat_customer").foreach(s.catalog.dropTempView(_))
    out
  }

  private val q365Oracle =
    """SELECT n.n_name, t.c_name, t.c_acctbal
      |FROM nation n,
      |LATERAL (
      |  SELECT c_name, c_acctbal FROM customer c
      |  WHERE c.c_nationkey = n.n_nationkey
      |  ORDER BY c_acctbal DESC, c_name LIMIT 1) t
      |ORDER BY n.n_name""".stripMargin

  // ---------------------------------------------------------------- q366
  /** VARIANT ingestion (Spark 4's open JSON storage type, the
    * Delta/Iceberg-adopted shape for semi-structured columns):
    * `parse_json` once at the scan, typed `variant_get` paths after —
    * the schema-on-read idiom that replaces per-access string
    * re-parsing (q24's get_json_object re-parses the string per
    * expression; a VARIANT column parses once and serves many typed
    * reads). Per event type: row count, sum and max of the typed
    * `$.k` path. The oracle reads the same path with DuckDB's JSON
    * extraction — results must agree exactly as BIGINTs. */
  def q366VariantJson(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .selectExpr("event_type", "parse_json(props) AS v")
      .selectExpr("event_type",
        "variant_get(v, '$.k', 'bigint') AS k")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"), sum($"k").as("sum_k"),
        max($"k").as("max_k"))
      .orderBy($"event_type")
  }

  private val q366Oracle =
    """SELECT event_type, count(*) AS n_events,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
      |    AS sum_k,
      |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q367
  /** Recursive CTE (SQL:1999 recursion, Spark 4's `WITH RECURSIVE` /
    * UnionLoop): min-hop reachability from a seed part over the
    * co-purchase graph, stated declaratively in BOTH engines — the
    * language surface for iterative queries. This is deliberately the
    * same semantics as q159's BFS so the two formulations check each
    * other: q159's working-set frontier (visited nodes never re-enter
    * the join) is the 100-TB execution shape; the recursive CTE here
    * re-derives every path up to the hop bound (frontier work is
    * Σ deg^h — fine at a bounded radius, unbounded on a deep graph),
    * so recursion depth is capped at 2 and min-hop is taken outside
    * the loop. Edges = distinct co-ordered part pairs; only 8-byte
    * keys flow through the recursion.
    *
    * Loop-invariant MATERIALIZATION is the load-bearing detail: a
    * plain CTE referenced inside the recursion is re-planned and
    * re-executed on EVERY UnionLoop step (measured 10.4 s/run at
    * sf0.1 — the edges self-join ran three times), so the edge
    * derivation runs once as its own job, localCheckpoints, and the
    * recursion joins the pinned result (1.1 s/run, 10×). DuckDB
    * materializes CTEs once, so the oracle states edges as a CTE —
    * same relation, each engine's idiomatic once-only form. */
  def q367RecursiveCte(s: SparkSession, dir: String): DataFrame = {
    // r16: project to the two used columns and pre-spread the
    // self-join's shuffle explicitly. The join's ENSURE_REQUIREMENTS
    // exchange carries only a few MB at sf0.1, so AQE coalesced the
    // reduce side to 3 tasks — but that stage's work is the per-order
    // pair fan-out plus the distinct's partial aggregate, which is
    // CPU-bound in ROWS PRODUCED, not input bytes (the q66/q292
    // fan-out-sizing rule; measured 3.0 s on 3 tasks in the r16
    // event-log attribution). An explicit fixed-width repartition on
    // the join key is AQE-stable, and both self-join sides reuse the
    // one exchange.
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .repartition(s.sparkContext.defaultParallelism, col("l_orderkey"))
      .createOrReplaceTempView("g_rec_lineitem")
    s.sql(
      """SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |FROM g_rec_lineitem a JOIN g_rec_lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey"""
        .stripMargin)
      .localCheckpoint().createOrReplaceTempView("g_rec_edges")
    val out = s.sql(
      """WITH RECURSIVE reach(node, hops) AS (
        |  SELECT CAST(min(l_partkey) AS BIGINT), 0 FROM g_rec_lineitem
        |  UNION ALL
        |  SELECT e.dst, r.hops + 1
        |  FROM reach r JOIN g_rec_edges e ON e.src = r.node
        |  WHERE r.hops < 2)
        |SELECT node, CAST(min(hops) AS BIGINT) AS hops
        |FROM reach GROUP BY node ORDER BY node""".stripMargin)
    Seq("g_rec_lineitem", "g_rec_edges").foreach(s.catalog.dropTempView(_))
    out
  }

  private val q367Oracle =
    """WITH RECURSIVE edges AS (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
      |reach(node, hops) AS (
      |  SELECT CAST(min(l_partkey) AS BIGINT), 0 FROM lineitem
      |  UNION ALL
      |  SELECT e.dst, r.hops + 1
      |  FROM reach r JOIN edges e ON e.src = r.node
      |  WHERE r.hops < 2)
      |SELECT node, CAST(min(hops) AS BIGINT) AS hops
      |FROM reach GROUP BY node ORDER BY node""".stripMargin

  // ---------------------------------------------------------------- q368
  /** UNPIVOT (SQL-standard wide→long melt, first-class in Spark 4 and
    * DuckDB): per-returnflag sums of three lineitem measures rotated
    * into (measure, value) rows — the normalization step every
    * metrics-warehouse export runs before a generic charting/alerting
    * consumer. The rotate happens AFTER aggregation, so it runs on a
    * group-cardinality frame (3 flags × 3 measures = 9 rows), never
    * widening the fact scan; sums are exact DECIMAL cast to DOUBLE
    * once, on both engines. */
  def q368UnpivotMelt(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("g_unp_lineitem")
    val out = s.sql(
      """SELECT l_returnflag, measure, val FROM (
        |  SELECT l_returnflag,
        |    CAST(sum(CAST(l_quantity      AS DECIMAL(12,2))) AS DOUBLE) AS qty,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS price,
        |    CAST(sum(CAST(l_tax           AS DECIMAL(12,2))) AS DOUBLE) AS tax
        |  FROM g_unp_lineitem GROUP BY l_returnflag)
        |UNPIVOT (val FOR measure IN (qty, price, tax))
        |ORDER BY l_returnflag, measure""".stripMargin)
    s.catalog.dropTempView("g_unp_lineitem")
    out
  }

  private val q368Oracle =
    """SELECT l_returnflag, measure, val FROM (
      |  SELECT l_returnflag,
      |    CAST(sum(CAST(l_quantity      AS DECIMAL(12,2))) AS DOUBLE) AS qty,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS price,
      |    CAST(sum(CAST(l_tax           AS DECIMAL(12,2))) AS DOUBLE) AS tax
      |  FROM lineitem GROUP BY l_returnflag)
      |UNPIVOT (val FOR measure IN (qty, price, tax))
      |ORDER BY l_returnflag, measure""".stripMargin

  // ---------------------------------------------------------------- q369
  /** GROUP BY ALL / ORDER BY ALL (the DuckDB-pioneered shorthand,
    * adopted by Spark 4): every non-aggregate select item becomes a
    * grouping key and the full select list the sort order — the
    * ad-hoc-analytics ergonomics row next to q364's pipe syntax.
    * Catalyst resolves it to the identical Aggregate/Sort tree as the
    * explicit form (pure sugar — partial aggregation and pushdown
    * unchanged), and the oracle runs the SAME text under DuckDB's
    * original semantics, proving the two engines resolved the
    * shorthand identically. */
  def q369GroupByAll(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("g_gba_orders")
    val out = s.sql(
      """SELECT o_orderstatus, o_orderpriority,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM g_gba_orders
        |GROUP BY ALL ORDER BY ALL""".stripMargin)
    s.catalog.dropTempView("g_gba_orders")
    out
  }

  private val q369Oracle =
    """SELECT o_orderstatus, o_orderpriority,
      |  count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      |FROM orders
      |GROUP BY ALL ORDER BY ALL""".stripMargin

  // ---------------------------------------------------------------- q370
  /** Collation-aware grouping (Spark 4 collated strings vs DuckDB
    * NOCASE): entity labels arriving in inconsistent case collapse
    * under a case-insensitive collation WITHOUT a lossy lower()
    * projection — the grouping key keeps its data, and the engine's
    * comparator does the folding (at scale this also keeps the
    * pushed-down dictionary filters on the original column). Case
    * noise is planted in-query (q57's device): odd part keys upper
    * their brand. Representative = binary min over the raw variants
    * (deterministic on both engines), variant count emitted so the
    * collapse is visible in the result. Cost note (measured): the
    * FIRST collated comparison in a JVM pays ~4 s of one-time
    * collator initialization; steady-state is 0.35 s on this frame
    * and the overhead is corpus-size-independent — a constant, not a
    * scale term. */
  def q370CollatedGroup(s: SparkSession, dir: String): DataFrame = {
    Tables.part(s, dir).createOrReplaceTempView("g_coll_part")
    val out = s.sql(
      """WITH noisy AS (
        |  SELECT CASE WHEN p_partkey % 2 = 1 THEN upper(p_brand)
        |              ELSE p_brand END AS brand
        |  FROM g_coll_part)
        |SELECT min(brand) AS brand, count(*) AS n_parts,
        |  CAST(count(DISTINCT brand) AS BIGINT) AS n_variants
        |FROM noisy
        |GROUP BY brand COLLATE UTF8_LCASE
        |ORDER BY brand""".stripMargin)
    s.catalog.dropTempView("g_coll_part")
    out
  }

  private val q370Oracle =
    """WITH noisy AS (
      |  SELECT CASE WHEN p_partkey % 2 = 1 THEN upper(p_brand)
      |              ELSE p_brand END AS brand
      |  FROM part)
      |SELECT min(brand) AS brand, count(*) AS n_parts,
      |  CAST(count(DISTINCT brand) AS BIGINT) AS n_variants
      |FROM noisy
      |GROUP BY brand COLLATE NOCASE
      |ORDER BY brand""".stripMargin

  // ---------------------------------------------------------------- q381
  /** Parameterized SQL with named parameter markers (`:name` +
    * args map — the SQL-injection-safe binding surface Spark 4
    * ships; string-splicing user input into SQL text is the
    * warehouse's oldest vulnerability): the markers bind as typed
    * literals BEFORE analysis, so Catalyst plans the identical
    * constant-folded tree as the inlined form — same pushdown, same
    * partial aggregation — which the oracle (the literal-inlined
    * equivalent) proves by hash. */
  def q381ParameterizedSql(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("g_par_lineitem")
    val out = s.sql(
      """SELECT l_returnflag, count(*) AS n_lines,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
        |    AS revenue
        |FROM g_par_lineitem
        |WHERE l_quantity >= :qmin AND l_discount <= :dmax
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      Map("qmin" -> 25, "dmax" -> 0.07))
    s.catalog.dropTempView("g_par_lineitem")
    out
  }

  private val q381Oracle =
    """SELECT l_returnflag, count(*) AS n_lines,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
      |    AS revenue
      |FROM lineitem
      |WHERE l_quantity >= 25 AND l_discount <= 0.07
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q387
  /** SQL scripting (Spark 4's BEGIN…END compound statements —
    * DECLARE / SET / WHILE, the Teradata-BTEQ/BigQuery-script
    * migration surface): an imperative threshold search written the
    * way a warehouse analyst writes it — walk the quantity cutoff
    * down in steps of 5 until at least a quarter of the lineitem
    * rows clear it, each probe a full declarative query (so every
    * iteration still gets pushdown + partial aggregation; scripting
    * sequences PLANS, it does not row-loop). The loop body's count
    * is monotone in the falling cutoff, so the script's fixpoint
    * equals the relational form the oracle states: the LARGEST
    * grid cutoff whose count clears the target. The script and its
    * temp view live on a session scoped to scripting enabled. */
  def q387SqlScripting(s: SparkSession, dir: String): DataFrame = {
    val ss = GraftSession.scoped(s, "spark.sql.scripting.enabled" -> "true")
    Tables.lineitem(ss, dir).createOrReplaceTempView("g_scr_lineitem")
    ss.sql(
      """BEGIN
        |  DECLARE qty DOUBLE = 50;
        |  DECLARE target BIGINT = 0;
        |  DECLARE n BIGINT = 0;
        |  SET target = (SELECT count(*) div 4 FROM g_scr_lineitem);
        |  SET n = (SELECT count(*) FROM g_scr_lineitem
        |           WHERE l_quantity >= qty);
        |  WHILE n < target DO
        |    SET qty = qty - 5;
        |    SET n = (SELECT count(*) FROM g_scr_lineitem
        |             WHERE l_quantity >= qty);
        |  END WHILE;
        |  SELECT qty AS qty, n AS n_lines, target AS target;
        |END""".stripMargin)
  }

  private val q387Oracle =
    """WITH t AS (SELECT count(*) // 4 AS target FROM lineitem),
      |grid AS (SELECT 50.0 - 5 * s AS qty FROM generate_series(0, 10) g(s)),
      |cnt AS (
      |  SELECT qty,
      |    (SELECT count(*) FROM lineitem WHERE l_quantity >= qty) AS n
      |  FROM grid)
      |SELECT CAST(qty AS DOUBLE) AS qty, CAST(n AS BIGINT) AS n_lines,
      |  CAST(t.target AS BIGINT) AS target
      |FROM cnt, t WHERE n >= t.target
      |ORDER BY qty DESC LIMIT 1""".stripMargin

  // ---------------------------------------------------------------- q362
  /** Boosting with an HONEST generalization readout — q291's
    * fit/transform separation applied to the q361 learner: rows
    * split 80/20 by the salted-md5 bucket of the ORDER key (row
    * grain, so held-out rows of seen x values exist on both sides),
    * the model trains purely on the train fold, and every round also
    * prices the CURRENT model on the untouched test spine. Train MSE
    * falls by construction; test MSE is the number a modeler
    * actually reads (on this noise-dominated synthetic corpus the
    * two stay close — a widening gap is the overfit signal this
    * report exists to catch). Same spine algebra as q361 on both
    * folds; the test fold never influences a split. */
  def q362BoostingHoldout(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.orders(s, dir)
      .selectExpr("o_orderkey AS id", "o_custkey AS x",
        "CAST(floor(o_totalprice) AS BIGINT) AS y")
      .withColumn("bucket",
        conv(substring(md5(concat(lit("boost:"), $"id".cast("string"))),
          1, 4), 16, 10).cast("long") % 100)
    boostedFold(base.where($"bucket" < 80).select($"x", $"y"),
      Some(base.where($"bucket" >= 80).select($"x", $"y")))
  }

  private val q362Oracle: String = {
    def fRef(r: Int, xRef: String) = boostFSql("m.f0",
      (1 to r).map(j => (s"m.t$j", s"m.l$j", s"m.r$j")))
        .replace("x <=", s"$xRef <=")
    def mseTe(r: Int) = {
      val f = fRef(r, "p.x")
      s"""msete$r AS (
         |  SELECT CAST(sum(p.sy2 - 2 * ($f) * p.sy
         |      + p.n_x * ($f) * ($f)) AS BIGINT) // max(t.n) AS mse
         |  FROM perxte p CROSS JOIN m$r m CROSS JOIN nte t)""".stripMargin
    }
    val rounds = (1 to boostRounds).map { r =>
      val f = fRef(r - 1, "p.x")
      val fNew = fRef(r, "p.x")
      val score = s"${msumSql("sl", "nl", "//")} + ${msumSql("srr", "nr", "//")}"
      s"""resid$r AS (
         |  SELECT p.x, p.n_x, p.sy - p.n_x * $f AS sr
         |  FROM perx p CROSS JOIN m${r - 1} m),
         |tot$r AS (
         |  SELECT CAST(sum(n_x) AS BIGINT) AS tn, CAST(sum(sr) AS BIGINT) AS ts
         |  FROM resid$r),
         |cand$r AS (
         |  SELECT x,
         |    CAST(sum(n_x) OVER win AS BIGINT) AS nl,
         |    CAST(sum(sr) OVER win AS BIGINT) AS sl
         |  FROM resid$r
         |  WINDOW win AS (ORDER BY x ROWS UNBOUNDED PRECEDING)),
         |sc$r AS (
         |  SELECT c.x, c.nl, c.sl, t.tn - c.nl AS nr, t.ts - c.sl AS srr
         |  FROM cand$r c CROSS JOIN tot$r t
         |  WHERE t.tn - c.nl > 0),
         |best$r AS (
         |  SELECT x, nl, sl, nr, srr FROM (
         |    SELECT *, row_number() OVER (ORDER BY ($score) DESC, x ASC) AS rn
         |    FROM sc$r) WHERE rn = 1),
         |m$r AS (
         |  SELECT m.*, b.x AS t$r, b.sl // b.nl AS l$r, b.srr // b.nr AS r$r
         |  FROM m${r - 1} m CROSS JOIN best$r b),
         |mse$r AS (
         |  SELECT CAST(sum(p.sy2 - 2 * ($fNew) * p.sy
         |      + p.n_x * ($fNew) * ($fNew)) AS BIGINT) // max(m.n) AS mse
         |  FROM perx p CROSS JOIN m$r m),
         |${mseTe(r)}""".stripMargin
    }
    val tail = (1 to boostRounds).map(r =>
      s"""SELECT CAST($r AS BIGINT), t$r, l$r, r$r,
         |  (SELECT mse FROM mse$r), (SELECT mse FROM msete$r) FROM m$r""".stripMargin)
      .mkString("\nUNION ALL ")
    s"""WITH b AS (
       |  SELECT o_custkey AS x, CAST(floor(o_totalprice) AS BIGINT) AS y,
       |    ('0x' || substr(md5('boost:' || CAST(o_orderkey AS VARCHAR)), 1, 4))::BIGINT
       |      % 100 AS bucket
       |  FROM orders),
       |perx AS (
       |  SELECT x, count(*) AS n_x, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(y * y) AS BIGINT) AS sy2
       |  FROM b WHERE bucket < 80 GROUP BY 1),
       |perxte AS (
       |  SELECT x, count(*) AS n_x, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(y * y) AS BIGINT) AS sy2
       |  FROM b WHERE bucket >= 80 GROUP BY 1),
       |nte AS (SELECT CAST(sum(n_x) AS BIGINT) AS n FROM perxte),
       |m0 AS (
       |  SELECT CAST(sum(sy) AS BIGINT) // CAST(sum(n_x) AS BIGINT) AS f0,
       |    CAST(sum(n_x) AS BIGINT) AS n, CAST(sum(sy) AS BIGINT) AS s,
       |    CAST(sum(sy2) AS BIGINT) AS s2
       |  FROM perx),
       |mse0 AS (SELECT (s2 - 2 * f0 * s + n * f0 * f0) // n AS mse FROM m0),
       |msete0 AS (
       |  SELECT CAST(sum(p.sy2 - 2 * m.f0 * p.sy
       |      + p.n_x * m.f0 * m.f0) AS BIGINT) // max(t.n) AS mse
       |  FROM perxte p CROSS JOIN m0 m CROSS JOIN nte t),
       |${rounds.mkString(",\n")}
       |SELECT CAST(0 AS BIGINT) AS round, CAST(-1 AS BIGINT) AS threshold,
       |  f0 AS add_left, f0 AS add_right, (SELECT mse FROM mse0) AS train_mse,
       |  (SELECT mse FROM msete0) AS test_mse
       |FROM m0
       |UNION ALL $tail
       |ORDER BY round""".stripMargin
  }

  private val q361Oracle: String = {
    def fRef(r: Int, xRef: String) = boostFSql("m.f0",
      (1 to r).map(j => (s"m.t$j", s"m.l$j", s"m.r$j")))
        .replace("x <=", s"$xRef <=")
    val rounds = (1 to boostRounds).map { r =>
      val f = fRef(r - 1, "p.x")
      val fNew = fRef(r, "p.x")
      val score = s"${msumSql("sl", "nl", "//")} + ${msumSql("srr", "nr", "//")}"
      s"""resid$r AS (
         |  SELECT p.x, p.n_x, p.sy - p.n_x * $f AS sr
         |  FROM perx p CROSS JOIN m${r - 1} m),
         |tot$r AS (
         |  SELECT CAST(sum(n_x) AS BIGINT) AS tn, CAST(sum(sr) AS BIGINT) AS ts
         |  FROM resid$r),
         |cand$r AS (
         |  SELECT x,
         |    CAST(sum(n_x) OVER win AS BIGINT) AS nl,
         |    CAST(sum(sr) OVER win AS BIGINT) AS sl
         |  FROM resid$r
         |  WINDOW win AS (ORDER BY x ROWS UNBOUNDED PRECEDING)),
         |sc$r AS (
         |  SELECT c.x, c.nl, c.sl, t.tn - c.nl AS nr, t.ts - c.sl AS srr
         |  FROM cand$r c CROSS JOIN tot$r t
         |  WHERE t.tn - c.nl > 0),
         |best$r AS (
         |  SELECT x, nl, sl, nr, srr FROM (
         |    SELECT *, row_number() OVER (ORDER BY ($score) DESC, x ASC) AS rn
         |    FROM sc$r) WHERE rn = 1),
         |m$r AS (
         |  SELECT m.*, b.x AS t$r, b.sl // b.nl AS l$r, b.srr // b.nr AS r$r
         |  FROM m${r - 1} m CROSS JOIN best$r b),
         |mse$r AS (
         |  SELECT CAST(sum(p.sy2 - 2 * ($fNew) * p.sy
         |      + p.n_x * ($fNew) * ($fNew)) AS BIGINT) // max(m.n) AS mse
         |  FROM perx p CROSS JOIN m$r m)""".stripMargin
    }
    val tail = (1 to boostRounds).map(r =>
      s"SELECT CAST($r AS BIGINT), t$r, l$r, r$r, (SELECT mse FROM mse$r) FROM m$r")
      .mkString("\nUNION ALL ")
    s"""WITH perx AS (
       |  SELECT x, count(*) AS n_x, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(y * y) AS BIGINT) AS sy2
       |  FROM (SELECT o_custkey AS x, CAST(floor(o_totalprice) AS BIGINT) AS y
       |        FROM orders)
       |  GROUP BY 1),
       |m0 AS (
       |  SELECT CAST(sum(sy) AS BIGINT) // CAST(sum(n_x) AS BIGINT) AS f0,
       |    CAST(sum(n_x) AS BIGINT) AS n, CAST(sum(sy) AS BIGINT) AS s,
       |    CAST(sum(sy2) AS BIGINT) AS s2
       |  FROM perx),
       |mse0 AS (SELECT (s2 - 2 * f0 * s + n * f0 * f0) // n AS mse FROM m0),
       |${rounds.mkString(",\n")}
       |SELECT CAST(0 AS BIGINT) AS round, CAST(-1 AS BIGINT) AS threshold,
       |  f0 AS add_left, f0 AS add_right, (SELECT mse FROM mse0) AS train_mse
       |FROM m0
       |UNION ALL $tail
       |ORDER BY round""".stripMargin
  }

  // ---------------------------------------------------------------- q399
  /** Runtime bloom-filter injection (`InjectRuntimeFilter`) — the
    * optimizer feature that rescues the one join shape q03
    * (broadcast) and q86 (bucketing) both miss: a SELECTIVE dimension
    * too big to broadcast joining a huge fact over a shuffle. Spark
    * builds a bloom filter from the dimension's join keys at runtime
    * and pushes `bloom_filter_might_contain` into the fact side
    * BELOW its exchange, so ~97% of fact rows (here: lineitems of
    * non-urgent/cheap orders) drop before they are ever hashed,
    * sorted, or shuffled — at 100 TB that is the difference between
    * shuffling the whole fact table and shuffling the 3% that can
    * possibly match. Broadcast is disabled for the query (hint-level
    * would defeat the demonstration) and the application-side size
    * threshold lowered to fixture scale — at production scale the
    * default 10 GiB gate fires on its own; both confs live on the
    * query's own [[runtimeFilterSession]], so the result plans under
    * them whenever it runs. PlanSpec pins the injected filter on the
    * fact side and SMJ/SHJ as the join. The oracle is the plain join-agg:
    * the filter is one-sided (no false negatives), so the result is
    * EXACTLY the unfiltered join's — which the hash proves. */
  def q399RuntimeFilter(s: SparkSession, dir: String): DataFrame =
    runtimeFilterJoin(runtimeFilterSession(s), dir)

  /** The join-agg under demonstration — separated so PlanSpec can pin
    * the injected filter on exactly the plan the query executes. */
  private[graft] def runtimeFilterJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dim = Tables.orders(s, dir)
      .where($"o_orderpriority" === "1-URGENT" && $"o_totalprice" > 250000.0)
      .select($"o_orderkey", $"o_orderdate")
    Tables.lineitem(s, dir).join(dim, $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum($"l_extendedprice".cast("decimal(12,2)")).cast("double")
          .as("revenue"))
      .orderBy($"l_returnflag")
  }

  /** The runtime-filter demonstration's session — separated so
    * PlanSpec builds the SAME plan the query runs. */
  private[graft] def runtimeFilterSession(s: SparkSession): SparkSession =
    GraftSession.scoped(s,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  private val q399Oracle =
    """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
      |    AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 250000.0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q401
  /** SQL-defined functions (Spark 4 `CREATE FUNCTION … RETURN expr`)
    * — the reusable-logic surface q26's Scala UDF deliberately is
    * not: a SQL UDF is INLINED at analysis (the plan carries the CASE
    * expression itself, PlanSpec pins zero ScalaUDF/codegen-opaque
    * nodes), so it keeps pushdown, constant folding, and whole-stage
    * codegen — shared business logic with none of the lambda tax.
    * Two functions compose: a scalar band classifier and a second
    * scalar calling the FIRST (SQL UDFs nest, and both inline flat).
    * `CREATE OR REPLACE TEMPORARY` keeps the definition
    * session-local and idempotent across reruns. The oracle inlines
    * the same expressions by hand — analysis-time inlining means
    * result ≡ hand-inlined SQL, which the hash proves. */
  def q401SqlUdf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_price_band(p DOUBLE)
      |RETURNS STRING
      |RETURN CASE WHEN p < 100000.0 THEN 'low'
      |            WHEN p < 200000.0 THEN 'mid' ELSE 'high' END""".stripMargin)
    s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_band_rank(p DOUBLE)
      |RETURNS BIGINT
      |RETURN CASE graft_price_band(p)
      |  WHEN 'low' THEN 1 WHEN 'mid' THEN 2 ELSE 3 END""".stripMargin)
    Tables.orders(s, dir).createOrReplaceTempView("graft_orders_q401")
    s.sql("""SELECT graft_price_band(o_totalprice) AS band,
      |  CAST(min(graft_band_rank(o_totalprice)) AS BIGINT) AS band_rank,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      |FROM graft_orders_q401 GROUP BY 1 ORDER BY band_rank""".stripMargin)
  }

  private val q401Oracle =
    """WITH b AS (
      |  SELECT CASE WHEN o_totalprice < 100000.0 THEN 'low'
      |              WHEN o_totalprice < 200000.0 THEN 'mid'
      |              ELSE 'high' END AS band,
      |    CASE WHEN o_totalprice < 100000.0 THEN 1
      |         WHEN o_totalprice < 200000.0 THEN 2 ELSE 3 END AS rnk,
      |    o_totalprice
      |  FROM orders)
      |SELECT band, CAST(min(rnk) AS BIGINT) AS band_rank,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      |FROM b GROUP BY 1 ORDER BY band_rank""".stripMargin

  // ---------------------------------------------------------------- q405
  /** Dynamic SQL (`EXECUTE IMMEDIATE` + session variables +
    * `IDENTIFIER(:param)`) — the last piece of the BigQuery-script
    * migration triangle next to q381 (static parameter markers) and
    * q387 (compound-statement control flow): the query TEXT is
    * assembled at runtime, the grouping COLUMN arrives as a
    * parameter (bound through IDENTIFIER, so it can never inject —
    * it resolves as a name or fails analysis), and the threshold
    * lives in a session variable referenced from inside the dynamic
    * string. Statement sequencing is driver-side (control plane);
    * the executed query is one ordinary declarative plan, so at
    * 100 TB dynamic SQL costs exactly what its static twin costs —
    * which the oracle is. */
  def q405ExecuteImmediate(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("graft_li_q405")
    s.sql("DECLARE OR REPLACE VARIABLE graft_qty_floor DOUBLE DEFAULT 0.0")
    s.sql("SET VARIABLE graft_qty_floor = 35.0")
    s.sql("""EXECUTE IMMEDIATE
      |  'SELECT IDENTIFIER(:grp) AS grp, CAST(count(*) AS BIGINT) AS n,
      |     CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
      |       AS revenue
      |   FROM graft_li_q405 WHERE l_quantity >= graft_qty_floor
      |   GROUP BY 1 ORDER BY 1'
      |  USING 'l_returnflag' AS grp""".stripMargin)
  }

  private val q405Oracle =
    """SELECT l_returnflag AS grp, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
      |    AS revenue
      |FROM lineitem WHERE l_quantity >= 35.0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q409
  /** The `NOT IN` null trap — ANSI three-valued logic's sharpest
    * footgun, demonstrated and defused in one readout: against a key
    * list containing even ONE NULL, `NOT IN` returns ZERO rows (x <>
    * NULL is UNKNOWN, so no row ever passes — silently, no error),
    * while `NOT EXISTS`, the left-anti join, and the IS NOT NULL
    * pre-filter all return the true complement. The four methods run
    * over the same planted key set (every 100th key replaced by
    * NULL, so the true complement is exactly the %100 = 0 keys) and
    * the counts land side by side — 0 vs three agreeing answers.
    * Both engines implement the same standard, so the oracle mirrors
    * verbatim; the spec additionally pins the agreement identities.
    * The 100-TB angle: anti joins and NOT EXISTS plan as left-anti
    * hash joins (null-safe by construction); a NOT IN over a
    * nullable column plans a null-aware anti join — correct but
    * forced to broadcast-and-scan, which is why the rewrite is also
    * the PERFORMANCE fix. */
  def q409NotInTrap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir).createOrReplaceTempView("graft_ord_q409")
    val sqlPart = s.sql("""WITH keys AS (
      |  SELECT CASE WHEN o_orderkey % 100 = 0 THEN NULL
      |              ELSE o_orderkey END AS k
      |  FROM graft_ord_q409)
      |SELECT 'a_not_in' AS method, CAST(count(*) AS BIGINT) AS n_rows
      |FROM graft_ord_q409 WHERE o_orderkey NOT IN (SELECT k FROM keys)
      |UNION ALL
      |SELECT 'b_not_exists', CAST(count(*) AS BIGINT)
      |FROM graft_ord_q409 o
      |WHERE NOT EXISTS (SELECT 1 FROM keys WHERE k = o.o_orderkey)
      |UNION ALL
      |SELECT 'd_not_in_filtered', CAST(count(*) AS BIGINT)
      |FROM graft_ord_q409
      |WHERE o_orderkey NOT IN (SELECT k FROM keys WHERE k IS NOT NULL)
      |""".stripMargin)
    val keys = Tables.orders(s, dir)
      .select(when($"o_orderkey" % 100 === 0, lit(null))
        .otherwise($"o_orderkey").as("k"))
    val anti = Tables.orders(s, dir)
      .join(keys, $"o_orderkey" === $"k", "left_anti")
      .agg(count(lit(1)).as("n_rows"))
      .select(lit("c_anti_join").as("method"), $"n_rows")
    sqlPart.unionByName(anti).orderBy($"method")
  }

  private val q409Oracle =
    """WITH keys AS (
      |  SELECT CASE WHEN o_orderkey % 100 = 0 THEN NULL
      |              ELSE o_orderkey END AS k
      |  FROM orders)
      |SELECT 'a_not_in' AS method, CAST(count(*) AS BIGINT) AS n_rows
      |FROM orders WHERE o_orderkey NOT IN (SELECT k FROM keys)
      |UNION ALL
      |SELECT 'b_not_exists', CAST(count(*) AS BIGINT)
      |FROM orders o
      |WHERE NOT EXISTS (SELECT 1 FROM keys WHERE k = o.o_orderkey)
      |UNION ALL
      |SELECT 'c_anti_join', CAST(count(*) AS BIGINT)
      |FROM orders o ANTI JOIN keys ON o.o_orderkey = keys.k
      |UNION ALL
      |SELECT 'd_not_in_filtered', CAST(count(*) AS BIGINT)
      |FROM orders
      |WHERE o_orderkey NOT IN (SELECT k FROM keys WHERE k IS NOT NULL)
      |ORDER BY method""".stripMargin

  // ---------------------------------------------------------------- q412
  /** `Dataset.transpose` (Spark 4) — the report-layout matrix flip
    * next to q43's pivot (values→columns by aggregation) and q368's
    * unpivot (columns→rows): transpose swaps the WHOLE frame's axes,
    * turning a (region × metric) summary into a (metric × region)
    * sheet whose column set is the index column's values. Strictly a
    * presentation-grain operator: the input must already be tiny
    * (here: 5 regions × 3 metrics from one star-join aggregate — the
    * heavy work is ordinary and upstream), because the output schema
    * is DATA-dependent — exactly why it must never appear below an
    * aggregate at scale, which the docstring is the warning for.
    * Metrics are cast to one common BIGINT type first (transpose
    * requires a least common type across transposed cells). The
    * oracle builds the transposed sheet by hand with per-region
    * scalar subqueries. */
  def q412Transpose(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val summary = Tables.orders(s, dir)
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .join(Tables.nation(s, dir), $"c_nationkey" === $"n_nationkey")
      .join(Tables.region(s, dir), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name")
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(round(o_totalprice * 100D) AS BIGINT)"))
          .as("revenue_cents"),
        countDistinct($"c_custkey").as("n_customers"))
      .select($"r_name", $"n_orders", $"revenue_cents", $"n_customers")
      .orderBy($"r_name")
    summary.transpose($"r_name").withColumnRenamed("key", "metric")
      .orderBy($"metric")
  }

  private val q412Oracle = {
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    val metrics = Seq(
      ("n_customers", "CAST(count(DISTINCT c_custkey) AS BIGINT)"),
      ("n_orders", "CAST(count(*) AS BIGINT)"),
      ("revenue_cents",
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)"))
    val rows = metrics.map { case (m, exprSql) =>
      val cells = regions.map { r =>
        s"""(SELECT $exprSql
           |   FROM orders JOIN customer ON o_custkey = c_custkey
           |   JOIN nation ON c_nationkey = n_nationkey
           |   JOIN region ON n_regionkey = r_regionkey
           |   WHERE r_name = '$r') AS "$r"""".stripMargin
      }.mkString(",\n  ")
      s"SELECT '$m' AS metric,\n  $cells"
    }.mkString("\nUNION ALL ")
    s"""$rows
       |ORDER BY metric""".stripMargin
  }

  // ---------------------------------------------------------------- q415
  /** `DataFrameStatFunctions.crosstab` — the contingency-table API
    * (pair frequencies as a wide sheet) next to q43's aggregation
    * pivot: event type × day-of-week counts in ONE call, no agg
    * spec, column set = the second column's distinct values. The dow
    * key is computed as Spark's `dayofweek` (1 = Sunday); DuckDB's
    * 0-based `dayofweek` shifts by one in the oracle. Crosstab is a
    * single groupBy under the hood (distinct-pair grain), so it
    * scales like any pivot: fine while the column dimension stays
    * enumerable, which a 7-value dow is by construction.
    *
    * Crosstab's column set is the OBSERVED value set — a fixture
    * with no Tuesday events would drop a column and fail any
    * fixed-schema consumer (the oracle hard-codes all seven). The
    * dow domain is known a priori, so the sheet is completed to the
    * full 1..7 schema: absent days appear as zero-count columns, in
    * fixed order, independent of the data. */
  def q415Crosstab(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    dowCrosstabOf(Tables.events(s, dir)
      .select($"event_type", dayofweek($"ts").as("dow")))
  }

  /** The completed contingency sheet on any (event_type, dow) frame —
    * separated so the spec can drive a weekday-FREE fixture and pin
    * the schema's data-independence. */
  private[graft] def dowCrosstabOf(pairs: DataFrame): DataFrame = {
    val ct = pairs.stat.crosstab("event_type", "dow")
    val complete = (1 to 7).map(_.toString).foldLeft(ct) { (df, d) =>
      if (df.columns.contains(d)) df else df.withColumn(d, lit(0L))
    }
    complete
      .select(col("event_type_dow") +: (1 to 7).map(d => col(d.toString)): _*)
      .orderBy(col("event_type_dow"))
  }

  private val q415Oracle = {
    val cols = (1 to 7).map(d =>
      s"""CAST(sum(CASE WHEN dayofweek(ts) + 1 = $d THEN 1 ELSE 0 END)
         |    AS BIGINT) AS "$d"""".stripMargin).mkString(",\n  ")
    s"""SELECT event_type AS event_type_dow,
       |  $cols
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q415_crosstab" -> (q415Crosstab _),
    "q412_transpose" -> (q412Transpose _),
    "q409_not_in_trap" -> (q409NotInTrap _),
    "q405_execute_immediate" -> (q405ExecuteImmediate _),
    "q401_sql_udf" -> (q401SqlUdf _),
    "q399_runtime_filter" -> (q399RuntimeFilter _),
    "q361_boosted_stumps" -> (q361BoostedStumps _),
    "q362_boosting_holdout" -> (q362BoostingHoldout _),
    "q364_sql_pipe_syntax" -> (q364SqlPipeSyntax _),
    "q365_lateral_join" -> (q365LateralJoin _),
    "q366_variant_json" -> (q366VariantJson _),
    "q367_recursive_cte" -> (q367RecursiveCte _),
    "q368_unpivot_melt" -> (q368UnpivotMelt _),
    "q369_group_by_all" -> (q369GroupByAll _),
    "q370_collated_group" -> (q370CollatedGroup _),
    "q381_parameterized_sql" -> (q381ParameterizedSql _),
    "q387_sql_scripting" -> (q387SqlScripting _),
    "q300_accumulating_snapshot" -> (q300AccumulatingSnapshot _),
    "q288_reconciliation" -> (q288Reconciliation _),
    "q289_largest_remainder" -> (q289LargestRemainder _),
    "q253_benford_screen" -> (q253BenfordScreen _),
    "q01_pricing_summary" -> (q01PricingSummary _),
    "q02_filter_project"  -> (q02FilterProject _),
    "q03_revenue_by_nation" -> (q03RevenueByNation _),
    "q04_left_join_agg"   -> (q04LeftJoinAgg _),
    "q05_semi_join"       -> (q05SemiJoin _),
    "q06_anti_join"       -> (q06AntiJoin _),
    "q07_full_outer_join" -> (q07FullOuterJoin _),
    "q08_band_join"       -> (q08BandJoin _),
    "q09_agg_distinct"    -> (q09AggDistinct _),
    "q10_rollup"          -> (q10Rollup _),
    "q11_cube"            -> (q11Cube _),
    "q12_topk_per_group"  -> (q12TopKPerGroup _),
    "q13_running_window"  -> (q13RunningWindow _),
    "q14_set_ops"         -> (q14SetOps _),
    "q15_intersect"       -> (q15Intersect _),
    "q16_topk_global"     -> (q16TopKGlobal _),
    "q38_intersect_all"   -> (q38IntersectAll _),
    "q39_except_all"      -> (q39ExceptAll _),
    "q40_approx_distinct" -> (q40ApproxDistinct _),
    "q41_grouping_sets"   -> (q41GroupingSets _),
    "q42_cross_matrix"    -> (q42CrossMatrix _),
    "q43_approx_percentiles" -> (q43ApproxPercentiles _),
    "q45_right_join"      -> (q45RightJoin _),
    "q46_salted_join"     -> (q46SaltedJoin _),
    "q48_union_by_name"   -> (q48UnionByName _),
    "q51_sql_frontend"    -> (q51SqlFrontend _),
    "q17_exists_having"   -> (q17ExistsHaving _),
    "q18_asof_join"       -> (q18AsofJoin _),
    "q19_percentiles"     -> (q19Percentiles _),
    "q28_pivot"           -> (q28Pivot _),
    "q29_null_semantics"  -> (q29NullSemantics _),
    "q36_salted_agg"      -> (q36SaltedAgg _),
    "q37_window_suite"    -> (q37WindowSuite _),
    "q90_merge_upsert"    -> (q90MergeUpsert _),
    "q106_snapshot_diff"  -> (q106SnapshotDiff _),
    "q115_drift_report"   -> (q115DriftReport _),
    "q210_share_of_parent" -> (q210ShareOfParent _),
    "q212_lead_time" -> (q212LeadTime _),
    "q211_period_over_period" -> (q211PeriodOverPeriod _),
    "q218_decile_lift" -> (q218DecileLift _),
    "q219_rfm_segments" -> (q219RfmSegments _),
    "q220_semi_additive" -> (q220SemiAdditive _),
    "q228_qq_drift" -> (q228QqDrift _),
    "q235_fill_rate" -> (q235FillRate _),
    "q245_rank_migration" -> (q245RankMigration _),
    "q247_corr_matrix" -> (q247CorrMatrix _),
    "q93_skew_report"     -> (q93SkewReport _),
    "q94_latest_per_key"  -> (q94LatestPerKey _),
    "q180_cdc_apply"      -> (q180CdcApply _),
    "q99_gap_fill"        -> (q99GapFill _),
    "q100_histogram"      -> (q100Histogram _),
  )

  val oracles: Map[String, String] = Map(
    "q415_crosstab" -> q415Oracle,
    "q412_transpose" -> q412Oracle,
    "q409_not_in_trap" -> q409Oracle,
    "q405_execute_immediate" -> q405Oracle,
    "q401_sql_udf" -> q401Oracle,
    "q399_runtime_filter" -> q399Oracle,
    "q361_boosted_stumps" -> q361Oracle,
    "q362_boosting_holdout" -> q362Oracle,
    "q364_sql_pipe_syntax" -> q364Oracle,
    "q365_lateral_join" -> q365Oracle,
    "q366_variant_json" -> q366Oracle,
    "q367_recursive_cte" -> q367Oracle,
    "q368_unpivot_melt" -> q368Oracle,
    "q369_group_by_all" -> q369Oracle,
    "q370_collated_group" -> q370Oracle,
    "q381_parameterized_sql" -> q381Oracle,
    "q387_sql_scripting" -> q387Oracle,
    "q300_accumulating_snapshot" -> q300Oracle,
    "q288_reconciliation" -> q288Oracle,
    "q289_largest_remainder" -> q289Oracle,
    "q253_benford_screen" -> q253Oracle,
    "q01_pricing_summary" -> q01Oracle,
    "q02_filter_project"  -> q02Oracle,
    "q03_revenue_by_nation" -> q03Oracle,
    "q04_left_join_agg"   -> q04Oracle,
    "q05_semi_join"       -> q05Oracle,
    "q06_anti_join"       -> q06Oracle,
    "q07_full_outer_join" -> q07Oracle,
    "q08_band_join"       -> q08Oracle,
    "q09_agg_distinct"    -> q09Oracle,
    "q10_rollup"          -> q10Oracle,
    "q11_cube"            -> q11Oracle,
    "q12_topk_per_group"  -> q12Oracle,
    "q13_running_window"  -> q13Oracle,
    "q14_set_ops"         -> q14Oracle,
    "q15_intersect"       -> q15Oracle,
    "q16_topk_global"     -> q16Oracle,
    "q38_intersect_all"   -> q38Oracle,
    "q39_except_all"      -> q39Oracle,
    "q40_approx_distinct" -> q40Oracle,
    "q41_grouping_sets"   -> q41Oracle,
    "q42_cross_matrix"    -> q42Oracle,
    "q43_approx_percentiles" -> q43Oracle,
    "q45_right_join"      -> q45Oracle,
    "q46_salted_join"     -> q46Oracle,
    "q48_union_by_name"   -> q48Oracle,
    "q51_sql_frontend"    -> q51Sql(""),
    "q17_exists_having"   -> q17Oracle,
    "q18_asof_join"       -> q18Oracle,
    "q19_percentiles"     -> q19Oracle,
    "q28_pivot"           -> q28Oracle,
    "q29_null_semantics"  -> q29Oracle,
    "q36_salted_agg"      -> q36Oracle,
    "q37_window_suite"    -> q37Oracle,
    "q90_merge_upsert"    -> q90Oracle,
    "q106_snapshot_diff"  -> q106Oracle,
    "q210_share_of_parent" -> q210Oracle,
    "q212_lead_time" -> q212Oracle,
    "q211_period_over_period" -> q211Oracle,
    "q218_decile_lift" -> q218Oracle,
    "q219_rfm_segments" -> q219Oracle,
    "q220_semi_additive" -> q220Oracle,
    "q228_qq_drift" -> q228Oracle,
    "q235_fill_rate" -> q235Oracle,
    "q245_rank_migration" -> q245Oracle,
    "q247_corr_matrix" -> q247Oracle,
    "q115_drift_report"   -> q115Oracle,
    "q93_skew_report"     -> q93Oracle,
    "q94_latest_per_key"  -> q94Oracle,
    "q180_cdc_apply"      -> q180Oracle,
    "q99_gap_fill"        -> q99Oracle,
    "q100_histogram"      -> q100Oracle,
  )
}
