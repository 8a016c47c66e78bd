package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.expr.TextExprs

/** Bounded-memory sketch operators: Count-Min frequency estimation
  * and Bloom-filter join pre-filtering. Both exist for the same
  * 100 TB reason — the EXACT structure (a distinct-key set, a full
  * vocabulary count) grows with the data, while the sketch is a
  * FIXED-size summary the driver/executors can always hold, bought
  * with a quantified, one-sided error. The reference delegates both
  * shapes to BigQuery (reference `src/load/main.py:23-38` ships rows
  * to a warehouse); here they are explicit relational plans whose
  * hash functions are md5-derived and therefore engine-reproducible:
  * the DuckDB oracles replay sketch construction bit-for-bit, so
  * "approximate" never means "unverifiable".
  */
object SketchOps {

  // ---------------------------------------------------------------- q153
  /** Count-Min sketch frequency estimation over the document token
    * stream, probed for one document's vocabulary.
    *
    * The sketch is [[cmsDepth]] × [[cmsWidth]] counters — 3 KiB of
    * state no matter whether the corpus has 10⁵ or 10¹² token
    * occurrences. Construction is one corpus scan: each token fans
    * out to [[cmsDepth]] (row, bucket) cells and a single hash
    * aggregate counts cells with map-side combine, so the shuffle
    * carries at most depth × width × partitions partial rows —
    * NEVER the vocabulary. That is the whole point at scale: exact
    * per-token counting shuffles a row per distinct token (unbounded
    * for URL/id-like streams), the sketch shuffles a constant.
    *
    * Estimates: for each probe token, est = min over rows of its
    * cell — the classic CM guarantee est ≥ exact (counts only ever
    * collide upward), with overshoot bounded by e·N/width at
    * probability 1−e^−depth. The probe set here is doc 0's distinct
    * tokens; the query also computes the exact counts (a second,
    * probe-filtered corpus pass — diagnostic only, a production
    * probe skips it) so the one-sided error is visible per row and
    * the spec can pin `est ≥ exact` corpus-wide. Hashes are 16-bit
    * md5 truncations mod width, seeded by the row index — the q49/
    * q65 engine-portable idiom, replayed verbatim in the oracle. */
  val cmsDepth = 3
  val cmsWidth = 1024

  private def tokCol(c: Column): Column = split(TextExprs.lower(c), " ")

  /** CM bucket of `tok` for sketch row `j` (column int). */
  private def cmsBucket(j: Column, tok: Column): Column =
    conv(substring(md5(concat(j.cast("string"), lit(":"), tok)), 1, 4), 16, 10)
      .cast("long") % cmsWidth

  def q153CmsHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = array((0 until cmsDepth).map(lit): _*)
    val tokens = Tables.documentsSpread(s, dir)
      .select(explode(tokCol($"text")).as("tok"))
    val cells = tokens
      .select($"tok", explode(rows).as("j"))
      .select($"j", cmsBucket($"j", $"tok").as("bucket"))
      .groupBy($"j", $"bucket").agg(count(lit(1)).as("cnt"))
    val probes = Tables.documents(s, dir).where($"doc_id" === 0)
      .select(explode(tokCol($"text")).as("tok")).distinct()
    val est = probes
      .select($"tok", explode(rows).as("j"))
      .select($"tok", $"j", cmsBucket($"j", $"tok").as("bucket"))
      .join(broadcast(cells), Seq("j", "bucket"))
      .groupBy($"tok").agg(min($"cnt").as("cms_estimate"))
    val exact = tokens.join(broadcast(probes), Seq("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("exact_n"))
    est.join(exact, Seq("tok"))
      .select($"tok".as("token"), $"exact_n", $"cms_estimate",
        ($"cms_estimate" - $"exact_n").as("overcount"))
      .orderBy($"token")
  }

  private val q153Oracle = {
    val js = (0 until cmsDepth).map(j => s"($j)").mkString(", ")
    s"""WITH tk AS (
       |  SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents),
       |hr AS (SELECT j FROM (VALUES $js) AS t(j)),
       |cells AS (
       |  SELECT j,
       |    ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || tok), 1, 4))::BIGINT
       |      % $cmsWidth AS bucket,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM tk, hr GROUP BY 1, 2),
       |probes AS (
       |  SELECT DISTINCT unnest(string_split(lower(text), ' ')) AS tok
       |  FROM documents WHERE doc_id = 0),
       |est AS (
       |  SELECT p.tok, min(c.cnt) AS cms_estimate
       |  FROM probes p CROSS JOIN hr
       |  JOIN cells c ON c.j = hr.j AND c.bucket =
       |    ('0x' || substr(md5(CAST(hr.j AS VARCHAR) || ':' || p.tok), 1, 4))::BIGINT
       |      % $cmsWidth
       |  GROUP BY 1),
       |ex AS (
       |  SELECT tok, CAST(count(*) AS BIGINT) AS exact_n FROM tk
       |  WHERE tok IN (SELECT tok FROM probes) GROUP BY 1)
       |SELECT p.tok AS token, ex.exact_n, est.cms_estimate,
       |  est.cms_estimate - ex.exact_n AS overcount
       |FROM probes p JOIN ex ON p.tok = ex.tok JOIN est ON p.tok = est.tok
       |ORDER BY token""".stripMargin
  }

  // ---------------------------------------------------------------- q156
  /** Bloom-filter join pre-filtering: the manual form of the runtime
    * row-group/shuffle filter every warehouse applies to selective
    * joins. The build side (customers in one market segment) is
    * summarized into a [[bloomBits]]-bit Bloom filter held as a
    * RELATION of ≤ [[bloomBits]]/64 (word, bits) rows — never a
    * driver-side bitmap, never a collect. The probe side (orders)
    * tests its own key's [[bloomHashes]] bit positions via that many
    * broadcast joins + bitmask checks BEFORE the exact semi join, so
    * at scale the expensive key shuffle sees only rows that pass the
    * filter. Bloom filters have one-sided error: no false negatives
    * (every true match passes), tunable false positives (~n·k/m per
    * hash here) — which is why the exact semi join stays and the
    * result is EXACTLY the unfiltered join's (the oracle runs the
    * plain semi join; the hash match proves transparency; the spec
    * pins the pass-rate bound). Bit positions are md5-derived, so
    * filter contents are deterministic cross-engine. */
  val bloomBits = 1 << 16
  val bloomHashes = 2
  val bloomSegment = "BUILDING"

  private def bloomPos(h: Int, key: Column): Column =
    conv(substring(md5(concat(lit(s"$h:"), key.cast("string"))), 1, 5), 16, 10)
      .cast("long") % bloomBits

  def q156BloomPrejoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val keys = Tables.customer(s, dir)
      .where($"c_mktsegment" === bloomSegment).select($"c_custkey")
    val words = keys
      .select(explode(array((0 until bloomHashes).map(lit): _*)).as("h"),
        $"c_custkey")
      .select((conv(substring(md5(concat($"h".cast("string"), lit(":"),
          $"c_custkey".cast("string"))), 1, 5), 16, 10)
        .cast("long") % bloomBits).as("pos"))
      .select(expr("pos div 64").as("word"),
        expr("shiftleft(1L, cast(pos % 64 AS INT))").as("mask"))
      .groupBy($"word").agg(expr("bit_or(mask)").as("bits"))
    val probed = (0 until bloomHashes).foldLeft(Tables.orders(s, dir)) {
      (df, h) =>
        val b = words.select($"word".as("bword"), $"bits".as("bbits"))
        df.withColumn("bpos", bloomPos(h, col("o_custkey")))
          .join(broadcast(b), expr("bpos div 64") === col("bword"))
          .where(expr("(bbits & shiftleft(1L, cast(bpos % 64 AS INT))) != 0"))
          .drop("bpos", "bword", "bbits")
    }
    probed
      .join(keys, probed("o_custkey") === keys("c_custkey"), "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum($"o_totalprice".cast("decimal(12,2)")).cast("double")
          .as("sum_total"))
      .orderBy($"o_orderpriority")
  }

  private val q156Oracle =
    s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
       |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_total
       |FROM orders
       |WHERE o_custkey IN
       |  (SELECT c_custkey FROM customer WHERE c_mktsegment = '$bloomSegment')
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q170
  /** HyperLogLog register count (2^8) — 256 longs per group, fixed
    * regardless of cardinality. */
  val hllRegisters = 256

  /** Bits of md5-derived hash beyond the register index: 15 hex
    * digits = 60 bits − 8 register bits = 52 payload bits; an
    * all-zero payload yields the max rank 53. */
  val hllMaxRho = 53

  /** floor(α₂₅₆ · 10⁶) with α₂₅₆ = 0.7213 / (1 + 1.079/256) — the
    * standard HLL bias constant, held in ppm so the estimator's
    * integer numerator is a shared literal in both engines. */
  val hllAlphaPpm = 718272L

  /** From-scratch HyperLogLog distinct-count sketch: per event type,
    * estimate distinct users from a 256-register relation — the
    * third sketch family member (q153 counts frequencies, q156 sets
    * membership, this one cardinality). q40 uses Spark's built-in
    * `approx_count_distinct` (itself HLL++); this one is built from
    * relational primitives with md5-derived hashes so construction
    * is engine-reproducible and the DuckDB oracle replays the whole
    * sketch bit-for-bit — the family's "approximate never means
    * unverifiable" discipline.
    *
    * Construction: hash each (type, user) to 60 bits; low 8 bits
    * pick a register, the rank ρ = (trailing zeros of the payload)
    * + 1 max-aggregates per (type, register). No pre-distinct pass:
    * max() is insert-idempotent, so duplicates cost nothing — the
    * property that makes HLL registers mergeable across partitions,
    * batches, and days (a daily register relation unions into a
    * monthly one with the same max). The shuffle carries at most
    * groups × 256 partial rows per task — never the key set, which
    * is the entire point at 100 TB. ρ uses the lowest set bit
    * (2^k = x & −x, recovered exactly via log2 of a power of two);
    * direction is irrelevant since payload bits are i.i.d.
    *
    * Estimation: the raw estimator αm²/Σ2^−ρ with the scaled-integer
    * harmonic sum Σ2^(53−ρ) (exact BIGINT via bit shifts), switching
    * to linear counting m·ln(m/V) in the standard small-range regime
    * (raw ≤ 2.5m and V = empty registers > 0 — the fixture's ~150
    * users per type sit squarely there; the spec drives the raw
    * branch with a planted high-cardinality stream). Exact distincts
    * and the signed error ride along so the sketch's accuracy is
    * visible per group, and every float step (one multiply chain,
    * one ln) is a fixed-order expression shared with the oracle. */
  def q170HllDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    hllOf(Tables.events(s, dir)
      .select($"event_type".as("grp"), $"user_id".cast("string").as("key")))
      .withColumnRenamed("grp", "event_type")
  }

  /** md5-derived 60-bit hash of a string key column. */
  private def hllHash(key: Column): Column =
    conv(substring(md5(concat(lit("hll:"), key)), 1, 15), 16, 10).cast("long")

  /** Sparse (grpCols*, reg, rho) register relation for any frame
    * carrying `key` — max-rho per register, insert-idempotent, hence
    * mergeable: registers from disjoint slices max-combine into the
    * registers of their union (q173 exploits exactly this). */
  private def hllRegistersOf(rows: DataFrame, grpCols: Seq[String]): DataFrame = {
    val s = rows.sparkSession
    import s.implicits._
    val m = hllRegisters
    rows.select(grpCols.map(col) :+ hllHash($"key").as("hv"): _*)
      .select(grpCols.map(col) :+ ($"hv" % m).as("reg") :+
        expr(s"hv div $m").as("w"): _*)
      .groupBy(grpCols.map(col) :+ $"reg": _*)
      .agg(max(when($"w" === 0L, hllMaxRho.toLong)
        .otherwise(expr("CAST(round(log2(w & -w)) AS BIGINT) + 1"))).as("rho"))
  }

  /** Estimate per group from a DENSE register frame (grpCols*, rho —
    * exactly [[hllRegisters]] rows per group, absent registers as
    * rho = 0): exact-BIGINT harmonic sum via bit shifts, raw
    * estimator with the standard linear-counting small-range switch. */
  private def hllEstimateOf(dense: DataFrame, grpCols: Seq[String]): DataFrame = {
    val s = dense.sparkSession
    import s.implicits._
    val m = hllRegisters
    dense
      .groupBy(grpCols.map(col): _*)
      .agg(
        expr(s"CAST(sum(shiftleft(CAST(1 AS BIGINT), CAST($hllMaxRho - rho AS INT))) AS BIGINT)")
          .as("zsum"),
        sum(when($"rho" === 0L, 1L).otherwise(0L)).as("v"))
      .select(grpCols.map(col) :+
        expr(s"""CAST(floor(CAST(${hllAlphaPpm * m * m} AS DOUBLE)
          |  * 9007199254740992.0 / CAST(zsum AS DOUBLE) / 1000000.0)
          |  AS BIGINT)""".stripMargin).as("raw_est") :+ $"v": _*)
      .select(grpCols.map(col) :+
        when($"raw_est" <= lit((5L * m) / 2) && $"v" > 0L,
          expr(s"CAST(floor(${m}.0D * ln(${m}.0D / CAST(v AS DOUBLE))) AS BIGINT)"))
          .otherwise($"raw_est").as("hll_est"): _*)
  }

  /** The sketch on any (grp, key) frame — separated so the spec can
    * plant a 20k-key stream (raw-estimator branch) next to a tiny
    * one (linear-counting branch). */
  private[ops] def hllOf(rows: DataFrame): DataFrame = {
    val s = rows.sparkSession
    import s.implicits._
    val m = hllRegisters
    val regs = hllRegistersOf(rows, Seq("grp"))
    // dense 256-register spine per group: absent registers count as
    // rho = 0 in the harmonic sum AND as "empty" for linear counting
    val spine = regs.select($"grp").distinct()
      .crossJoin(s.range(m).select($"id".as("reg")))
    val est = hllEstimateOf(
      spine.join(regs, Seq("grp", "reg"), "left")
        .withColumn("rho", coalesce($"rho", lit(0L))),
      Seq("grp"))
    val exact = rows.groupBy($"grp")
      .agg(countDistinct($"key").as("exact_distinct"))
    // signed diff stays division-free; the error ratio divides the
    // ABSOLUTE diff so the quotient is positive and engine-identical
    // regardless of division convention
    exact.join(est, "grp")
      .select($"grp", $"exact_distinct", $"hll_est",
        ($"hll_est" - $"exact_distinct").as("diff"),
        expr("(1000000 * abs(hll_est - exact_distinct)) div exact_distinct")
          .as("abs_err_ppm"))
      .orderBy($"grp")
  }

  /** Oracle-side twin of [[hllEstimateOf]]: emits the
    * `<p>agg AS (…), <p>est AS (…), <p>fin AS (…)` CTE chain that
    * turns a dense register CTE into per-key `hll_est` — ONE source
    * for the estimator SQL, shared by the q170/q173/q174 oracles so
    * the math can never fork between them. */
  private def hllEstimatorCtes(p: String, denseCte: String,
      keys: Seq[String]): String = {
    val m = hllRegisters
    val ks = keys.mkString(", ")
    s"""${p}agg AS (
       |  SELECT $ks,
       |    CAST(sum(CAST(1 AS BIGINT) << CAST($hllMaxRho - rho AS INT)) AS BIGINT)
       |      AS zsum,
       |    CAST(sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v
       |  FROM $denseCte GROUP BY $ks),
       |${p}est AS (
       |  SELECT $ks,
       |    CAST(floor(CAST(${hllAlphaPpm * m * m} AS DOUBLE)
       |      * 9007199254740992.0 / CAST(zsum AS DOUBLE) / 1000000.0) AS BIGINT)
       |      AS raw_est, v
       |  FROM ${p}agg),
       |${p}fin AS (
       |  SELECT $ks,
       |    CASE WHEN raw_est <= ${(5L * m) / 2} AND v > 0
       |      THEN CAST(floor($m.0 * ln($m.0 / CAST(v AS DOUBLE))) AS BIGINT)
       |      ELSE raw_est END AS hll_est
       |  FROM ${p}est)""".stripMargin
  }

  private val q170Oracle = {
    val m = hllRegisters
    s"""WITH h AS (
       |  SELECT event_type AS grp, CAST(user_id AS VARCHAR) AS key,
       |    ('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
       |      AS hv
       |  FROM events),
       |regs AS (
       |  SELECT grp, hv % $m AS reg,
       |    max(CASE WHEN hv // $m = 0 THEN $hllMaxRho
       |      ELSE CAST(round(log2((hv // $m) & -(hv // $m))) AS BIGINT) + 1 END)
       |      AS rho
       |  FROM h GROUP BY 1, 2),
       |spine AS (
       |  SELECT grp, r.range AS reg
       |  FROM (SELECT DISTINCT grp FROM regs), range($m) r),
       |dense AS (
       |  SELECT s.grp, s.reg, COALESCE(regs.rho, 0) AS rho
       |  FROM spine s LEFT JOIN regs ON s.grp = regs.grp AND s.reg = regs.reg),
       |${hllEstimatorCtes("", "dense", Seq("grp"))},
       |ex AS (
       |  SELECT event_type AS grp, CAST(count(DISTINCT user_id) AS BIGINT)
       |    AS exact_distinct
       |  FROM events GROUP BY 1)
       |SELECT ex.grp AS event_type, exact_distinct, hll_est,
       |  hll_est - exact_distinct AS diff,
       |  CAST((1000000 * abs(hll_est - exact_distinct)) // exact_distinct
       |    AS BIGINT) AS abs_err_ppm
       |FROM ex JOIN fin ON ex.grp = fin.grp
       |ORDER BY event_type""".stripMargin
  }

  // ---------------------------------------------------------------- q173
  /** Cumulative distinct-users-to-date per week from MERGED weekly
    * HLL register snapshots — the operation that justifies keeping
    * sketches as TABLES: exact `COUNT(DISTINCT)` cannot be rolled
    * forward (last week's count plus this week's count double-counts
    * returners; the raw key sets must be re-unioned every week), but
    * HLL registers max-merge, so "distinct to date" is a running max
    * over 256-row weekly snapshots followed by the estimator — no
    * week ever re-reads another week's raw events.
    *
    * Shape: one scan → sparse per-(type, week) registers (the weekly
    * snapshot a pipeline would persist), dense spine + running-max
    * window = the merged to-date registers, estimator per (type,
    * week). Window input is types × weeks × 256 rows — bounded by
    * CALENDAR × register count, independent of event volume. Exact
    * cumulative distincts ride along (first-seen week per key + one
    * running sum) so the estimate's error is visible per week; a
    * production rollup would drop that diagnostic branch and with it
    * every touch of the raw key set. */
  def q173HllCumulative(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    hllCumulativeOf(Tables.events(s, dir).select(
      $"event_type".as("grp"),
      to_date(date_trunc("week", $"ts")).as("week"),
      $"user_id".cast("string").as("key")))
      .withColumnRenamed("grp", "event_type")
  }

  /** The rollup on any (grp, week, key) frame — separated so the
    * spec can plant overlapping weekly populations whose returner
    * double-count a naive per-week sum would show. */
  private[ops] def hllCumulativeOf(rows: DataFrame): DataFrame = {
    val s = rows.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val m = hllRegisters
    val regs = hllRegistersOf(rows, Seq("grp", "week"))
    val spine = rows.select($"grp", $"week").distinct()
      .crossJoin(s.range(m).select($"id".as("reg")))
    val wReg = Window.partitionBy($"grp", $"reg").orderBy($"week")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dense = spine.join(regs, Seq("grp", "week", "reg"), "left")
      .withColumn("rho", max(coalesce($"rho", lit(0L))).over(wReg))
    val est = hllEstimateOf(dense, Seq("grp", "week"))
    val firsts = rows.groupBy($"grp", $"key").agg(min($"week").as("week"))
      .groupBy($"grp", $"week").agg(count(lit(1)).as("n_new"))
    val wGrp = Window.partitionBy($"grp").orderBy($"week")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val exact = rows.select($"grp", $"week").distinct()
      .join(firsts, Seq("grp", "week"), "left")
      .withColumn("exact_cum", sum(coalesce($"n_new", lit(0L))).over(wGrp))
      .select($"grp", $"week", $"exact_cum")
    exact.join(est, Seq("grp", "week"))
      .select($"grp", $"week", $"exact_cum", $"hll_est".as("est_cum"),
        ($"hll_est" - $"exact_cum").as("diff"),
        expr("(1000000 * abs(hll_est - exact_cum)) div exact_cum")
          .as("abs_err_ppm"))
      .orderBy($"grp", $"week")
  }

  private val q173Oracle = {
    val m = hllRegisters
    s"""WITH r0 AS (
       |  SELECT event_type AS grp, CAST(date_trunc('week', ts) AS DATE) AS week,
       |    CAST(user_id AS VARCHAR) AS key
       |  FROM events),
       |h AS (
       |  SELECT grp, week,
       |    ('0x' || substr(md5('hll:' || key), 1, 15))::BIGINT AS hv
       |  FROM r0),
       |regs AS (
       |  SELECT grp, week, hv % $m AS reg,
       |    max(CASE WHEN hv // $m = 0 THEN $hllMaxRho
       |      ELSE CAST(round(log2((hv // $m) & -(hv // $m))) AS BIGINT) + 1 END)
       |      AS rho
       |  FROM h GROUP BY 1, 2, 3),
       |spine AS (
       |  SELECT grp, week, r.range AS reg
       |  FROM (SELECT DISTINCT grp, week FROM r0), range($m) r),
       |dense AS (
       |  SELECT s.grp, s.week, s.reg,
       |    max(COALESCE(regs.rho, 0)) OVER (PARTITION BY s.grp, s.reg
       |      ORDER BY s.week ROWS UNBOUNDED PRECEDING) AS rho
       |  FROM spine s LEFT JOIN regs
       |    ON s.grp = regs.grp AND s.week = regs.week AND s.reg = regs.reg),
       |${hllEstimatorCtes("", "dense", Seq("grp", "week"))},
       |firsts AS (SELECT grp, key, min(week) AS week FROM r0 GROUP BY 1, 2),
       |nnew AS (
       |  SELECT grp, week, CAST(count(*) AS BIGINT) AS n_new
       |  FROM firsts GROUP BY 1, 2),
       |ex AS (
       |  SELECT w.grp, w.week,
       |    CAST(sum(COALESCE(n_new, 0)) OVER (PARTITION BY w.grp
       |      ORDER BY w.week ROWS UNBOUNDED PRECEDING) AS BIGINT) AS exact_cum
       |  FROM (SELECT DISTINCT grp, week FROM r0) w
       |  LEFT JOIN nnew ON w.grp = nnew.grp AND w.week = nnew.week)
       |SELECT ex.grp AS event_type, ex.week AS week, exact_cum, hll_est AS est_cum,
       |  hll_est - exact_cum AS diff,
       |  CAST((1000000 * abs(hll_est - exact_cum)) // exact_cum AS BIGINT)
       |    AS abs_err_ppm
       |FROM ex JOIN fin ON ex.grp = fin.grp AND ex.week = fin.week
       |ORDER BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------- q174
  /** Audience-overlap matrix via HLL set algebra: for every pair of
    * event types, the estimated number of users doing BOTH, from
    * inclusion–exclusion over register tables — |A∩B| ≈ est(A) +
    * est(B) − est(A∪B), where A∪B's registers are just
    * max(regA, regB). This is the sketch-algebra operation that
    * makes overlap matrices tractable at scale: exact pairwise
    * overlaps need a distinct-pair self-join per pair (quadratic in
    * groups, another full pass over raw keys each time), while the
    * sketch path touches raw data ONCE and then works entirely on
    * groups × 256-row register tables. Inclusion–exclusion
    * subtracts two same-sign errors, so the overlap estimate is
    * noisier than any single estimate (can even go negative on tiny
    * overlaps) — the diagnostic exact column makes that error
    * visible, and the spec pins disjoint-vs-identical behavior.
    *
    * One scan → checkpointed register relation; singles and pair
    * unions are both register-table-only plans (pair spine =
    * pairs × 256 rows). Exact overlaps ride along from one distinct
    * self-join — the cost the sketch path exists to delete; a
    * production matrix drops that branch. */
  def q174HllOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    hllOverlapOf(Tables.events(s, dir)
      .select($"event_type".as("grp"), $"user_id".cast("string").as("key")))
      .withColumnRenamed("ga", "type_a").withColumnRenamed("gb", "type_b")
  }

  /** The matrix on any (grp, key) frame — separated so the spec can
    * plant disjoint and identical populations. */
  private[ops] def hllOverlapOf(rows: DataFrame): DataFrame = {
    val s = rows.sparkSession
    import s.implicits._
    val m = hllRegisters
    val regs = hllRegistersOf(rows, Seq("grp")).localCheckpoint(true)
    val spine = regs.select($"grp").distinct()
      .crossJoin(s.range(m).select($"id".as("reg")))
    val dense = spine.join(regs, Seq("grp", "reg"), "left")
      .withColumn("rho", coalesce($"rho", lit(0L)))
    val single = hllEstimateOf(dense, Seq("grp"))
    val pairs = single.select($"grp".as("ga"), $"hll_est".as("est_a"))
      .crossJoin(single.select($"grp".as("gb"), $"hll_est".as("est_b")))
      .where($"ga" < $"gb")
    val denseU = pairs.select($"ga", $"gb")
      .join(dense.select($"grp".as("ga"), $"reg", $"rho".as("ra")), Seq("ga"))
      .join(dense.select($"grp".as("gb"), $"reg", $"rho".as("rb")),
        Seq("gb", "reg"))
      .select($"ga", $"gb", $"reg", greatest($"ra", $"rb").as("rho"))
    val union = hllEstimateOf(denseU, Seq("ga", "gb"))
      .withColumnRenamed("hll_est", "est_union")
    val exact = rows.distinct()
    val exactOv = exact.select($"grp".as("ga"), $"key")
      .join(exact.select($"grp".as("gb"), $"key"), Seq("key"))
      .where($"ga" < $"gb")
      .groupBy($"ga", $"gb").agg(count(lit(1)).as("exact_overlap"))
    pairs.join(union, Seq("ga", "gb"))
      .join(exactOv, Seq("ga", "gb"), "left")
      .select($"ga", $"gb",
        coalesce($"exact_overlap", lit(0L)).as("exact_overlap"),
        ($"est_a" + $"est_b" - $"est_union").as("est_overlap"))
      .withColumn("diff", $"est_overlap" - $"exact_overlap")
      .orderBy($"ga", $"gb")
  }

  private val q174Oracle = {
    val m = hllRegisters
    s"""WITH r0 AS (
       |  SELECT event_type AS grp, CAST(user_id AS VARCHAR) AS key FROM events),
       |h AS (
       |  SELECT grp, ('0x' || substr(md5('hll:' || key), 1, 15))::BIGINT AS hv
       |  FROM r0),
       |regs AS (
       |  SELECT grp, hv % $m AS reg,
       |    max(CASE WHEN hv // $m = 0 THEN $hllMaxRho
       |      ELSE CAST(round(log2((hv // $m) & -(hv // $m))) AS BIGINT) + 1 END)
       |      AS rho
       |  FROM h GROUP BY 1, 2),
       |spine AS (
       |  SELECT grp, r.range AS reg
       |  FROM (SELECT DISTINCT grp FROM regs), range($m) r),
       |dense AS (
       |  SELECT s.grp, s.reg, COALESCE(regs.rho, 0) AS rho
       |  FROM spine s LEFT JOIN regs ON s.grp = regs.grp AND s.reg = regs.reg),
       |${hllEstimatorCtes("s_", "dense", Seq("grp"))},
       |pr AS (
       |  SELECT a.grp AS ga, a.hll_est AS est_a, b.grp AS gb, b.hll_est AS est_b
       |  FROM s_fin a, s_fin b WHERE a.grp < b.grp),
       |denseu AS (
       |  SELECT p.ga, p.gb, da.reg, greatest(da.rho, db.rho) AS rho
       |  FROM pr p
       |  JOIN dense da ON da.grp = p.ga
       |  JOIN dense db ON db.grp = p.gb AND db.reg = da.reg),
       |${hllEstimatorCtes("u_", "denseu", Seq("ga", "gb"))},
       |du AS (SELECT DISTINCT grp, key FROM r0),
       |ex AS (
       |  SELECT a.grp AS ga, b.grp AS gb, CAST(count(*) AS BIGINT)
       |    AS exact_overlap
       |  FROM du a JOIN du b ON a.key = b.key AND a.grp < b.grp
       |  GROUP BY 1, 2)
       |SELECT p.ga AS type_a, p.gb AS type_b,
       |  COALESCE(exact_overlap, 0) AS exact_overlap,
       |  p.est_a + p.est_b - u.hll_est AS est_overlap,
       |  p.est_a + p.est_b - u.hll_est - COALESCE(exact_overlap, 0) AS diff
       |FROM pr p JOIN u_fin u ON p.ga = u.ga AND p.gb = u.gb
       |LEFT JOIN ex ON p.ga = ex.ga AND p.gb = ex.gb
       |ORDER BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------- q186
  /** Trailing window (days) for the q186 rolling-actives metric. */
  val rollingDays = 7

  /** Rolling 7-day active users per (event type, day) from daily HLL
    * register snapshots — THE dashboard metric (7DA/WAU), and the
    * one a sliding exact COUNT DISTINCT makes ruinously expensive:
    * every day re-unions seven days of raw keys (the oracle's
    * diagnostic branch does exactly that, fanning events ×7). The
    * sketch path touches raw events once for daily registers, then
    * every day's window is a max-merge over 7 × 256-row register
    * sets — q173's cumulative merge with a sliding frame, on a
    * gap-free day spine (q99's global-span device: a ROWS frame over
    * observed days would silently widen across missing days).
    * Exact counts + signed diff + ppm error ride along, guarded for
    * empty windows identically in both engines. */
  def q186RollingActives(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val m = hllRegisters
    val ev = Tables.events(s, dir).select(
      $"event_type".as("grp"), to_date($"ts").as("day"),
      $"user_id".cast("string").as("key"))
    val regs = hllRegistersOf(ev, Seq("grp", "day"))
    // gap-free (grp × calendar day) spine from the global span
    val span = ev.agg(min($"day").as("d0"), max($"day").as("d1"))
    val grid = ev.select($"grp").distinct()
      .crossJoin(broadcast(span))
      .select($"grp", explode(expr("sequence(d0, d1)")).as("day"))
    val spine = grid.crossJoin(s.range(m).select($"id".as("reg")))
    val wReg = Window.partitionBy($"grp", $"reg").orderBy($"day")
      .rowsBetween(-(rollingDays - 1), 0)
    val dense = spine.join(regs, Seq("grp", "day", "reg"), "left")
      .withColumn("rho", max(coalesce($"rho", lit(0L))).over(wReg))
    val est = hllEstimateOf(dense, Seq("grp", "day"))
    val exact = grid.join(ev.withColumnRenamed("day", "eday"), Seq("grp"))
      .where($"eday".between(date_sub($"day", rollingDays - 1), $"day"))
      .groupBy($"grp", $"day")
      .agg(countDistinct($"key").as("exact_active"))
    grid.join(exact, Seq("grp", "day"), "left")
      .withColumn("exact_active", coalesce($"exact_active", lit(0L)))
      .join(est, Seq("grp", "day"))
      .select($"grp".as("event_type"), $"day",
        $"exact_active", $"hll_est".as("est_active"),
        ($"hll_est" - $"exact_active").as("diff"),
        when($"exact_active" > 0,
          expr("(1000000 * abs(hll_est - exact_active)) div exact_active"))
          .otherwise(0L).as("abs_err_ppm"))
      .orderBy($"event_type", $"day")
  }

  private val q186Oracle = {
    val m = hllRegisters
    s"""WITH r0 AS (
       |  SELECT event_type AS grp, CAST(date_trunc('day', ts) AS DATE) AS day,
       |    CAST(user_id AS VARCHAR) AS key
       |  FROM events),
       |h AS (
       |  SELECT grp, day,
       |    ('0x' || substr(md5('hll:' || key), 1, 15))::BIGINT AS hv
       |  FROM r0),
       |regs AS (
       |  SELECT grp, day, hv % $m AS reg,
       |    max(CASE WHEN hv // $m = 0 THEN $hllMaxRho
       |      ELSE CAST(round(log2((hv // $m) & -(hv // $m))) AS BIGINT) + 1 END)
       |      AS rho
       |  FROM h GROUP BY 1, 2, 3),
       |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM r0),
       |grid AS (
       |  SELECT grp, CAST(u.d AS DATE) AS day
       |  FROM (SELECT DISTINCT grp FROM r0), span,
       |    unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS u(d)),
       |spine AS (SELECT grp, day, r.range AS reg FROM grid, range($m) r),
       |dense AS (
       |  SELECT s.grp, s.day, s.reg,
       |    max(COALESCE(regs.rho, 0)) OVER (PARTITION BY s.grp, s.reg
       |      ORDER BY s.day ROWS BETWEEN ${rollingDays - 1} PRECEDING
       |      AND CURRENT ROW) AS rho
       |  FROM spine s LEFT JOIN regs
       |    ON s.grp = regs.grp AND s.day = regs.day AND s.reg = regs.reg),
       |${hllEstimatorCtes("", "dense", Seq("grp", "day"))},
       |ex AS (
       |  SELECT g.grp, g.day,
       |    CAST(count(DISTINCT e.key) AS BIGINT) AS exact_active
       |  FROM grid g LEFT JOIN r0 e
       |    ON g.grp = e.grp
       |    AND e.day BETWEEN g.day - ${rollingDays - 1} AND g.day
       |  GROUP BY 1, 2)
       |SELECT ex.grp AS event_type, ex.day AS day, exact_active,
       |  hll_est AS est_active, hll_est - exact_active AS diff,
       |  CASE WHEN exact_active > 0
       |    THEN CAST((1000000 * abs(hll_est - exact_active)) // exact_active
       |      AS BIGINT)
       |    ELSE 0 END AS abs_err_ppm
       |FROM ex JOIN fin ON ex.grp = fin.grp AND ex.day = fin.day
       |ORDER BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------- q278
  /** KMV (bottom-k) sketch resemblance between source document
    * sets — the set-OVERLAP sketch the HLL family can't give:
    * q174 estimates |A∩B| by inclusion–exclusion over three HLL
    * estimates (errors compound, small intersections drown); a KMV
    * sketch supports DIRECT Jaccard estimation — keep the k
    * smallest deterministic 60-bit content hashes per source, and
    * for a pair the k smallest of the sketch UNION form a uniform
    * sample of A∪B, so the fraction present in both sketches
    * estimates J (Beyer et al. 2007; MinHash's bottom-k sibling).
    * Mergeable by construction: union the sketch rows, keep the k
    * smallest — a count-free, order-free combine.
    *
    * Scale shape: one corpus pass to (source, h) + a per-source
    * bottom-k (value-grain window over source partitions); all
    * pair work runs on source_pairs × k sketch rows (dozens × 64),
    * broadcast joins only. */
  def q278KmvJaccard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    kmvJaccardOf(Tables.documents(s, dir)
      .select($"source",
        conv(substring(md5(regexp_replace(TextExprs.lower($"text"), " +", " ")),
          1, 15), 16, 10).cast("bigint").as("h")))
  }

  /** Sketch size: 64 hashes ⇒ ~1/√64 ≈ 12% relative error. */
  val kmvK = 64L

  /** The sketch + pairwise estimate on any (source, h) frame —
    * separated so the spec can plant sets with a known true
    * Jaccard. */
  private[ops] def kmvJaccardOf(rows: DataFrame): DataFrame = {
    val s = rows.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val wSrc = Window.partitionBy($"source").orderBy($"h")
    val sk = rows.distinct()
      .withColumn("rn", row_number().over(wSrc).cast("long"))
      .where($"rn" <= kmvK).select($"source", $"h")
    val srcs = sk.select($"source").distinct()
    val pairs = srcs.select($"source".as("sa"))
      .crossJoin(broadcast(srcs.select($"source".as("sb"))))
      .where($"sa" < $"sb")
    val aRows = pairs
      .join(broadcast(sk.withColumnRenamed("source", "sa")), "sa")
      .select($"sa", $"sb", $"h", lit(1L).as("ina"), lit(0L).as("inb"))
    val bRows = pairs
      .join(broadcast(sk.withColumnRenamed("source", "sb")), "sb")
      .select($"sa", $"sb", $"h", lit(0L).as("ina"), lit(1L).as("inb"))
    val union = aRows.unionByName(bRows)
      .groupBy($"sa", $"sb", $"h")
      .agg(max($"ina").as("ina"), max($"inb").as("inb"))
    val wPair = Window.partitionBy($"sa", $"sb").orderBy($"h")
    union.withColumn("rn", row_number().over(wPair).cast("long"))
      .where($"rn" <= kmvK)
      .groupBy($"sa", $"sb")
      .agg(count(lit(1)).as("k_used"), sum($"ina" * $"inb").as("matches"))
      .select($"sa".as("source_a"), $"sb".as("source_b"), $"k_used",
        $"matches",
        expr("(1000000 * matches) div k_used").as("est_jaccard_ppm"))
      .orderBy($"source_a", $"source_b")
  }

  private lazy val q278Oracle =
    s"""WITH fp AS (
       |  SELECT DISTINCT source,
       |    ('0x' || substr(md5(regexp_replace(lower(text), ' +', ' ', 'g')),
       |      1, 15))::BIGINT AS h
       |  FROM documents),
       |sk AS (
       |  SELECT source, h FROM (
       |    SELECT source, h,
       |      CAST(row_number() OVER (PARTITION BY source ORDER BY h)
       |        AS BIGINT) AS rn
       |    FROM fp) WHERE rn <= $kmvK),
       |srcs AS (SELECT DISTINCT source FROM sk),
       |pairs AS (
       |  SELECT a.source AS sa, b.source AS sb
       |  FROM srcs a, srcs b WHERE a.source < b.source),
       |u AS (
       |  SELECT sa, sb, h, CAST(max(ina) AS BIGINT) AS ina,
       |    CAST(max(inb) AS BIGINT) AS inb
       |  FROM (
       |    SELECT p.sa, p.sb, s.h, 1 AS ina, 0 AS inb
       |    FROM pairs p JOIN sk s ON s.source = p.sa
       |    UNION ALL
       |    SELECT p.sa, p.sb, s.h, 0, 1
       |    FROM pairs p JOIN sk s ON s.source = p.sb)
       |  GROUP BY 1, 2, 3),
       |rk AS (
       |  SELECT sa, sb, ina, inb,
       |    CAST(row_number() OVER (PARTITION BY sa, sb ORDER BY h)
       |      AS BIGINT) AS rn
       |  FROM u)
       |SELECT sa AS source_a, sb AS source_b,
       |  CAST(count(*) AS BIGINT) AS k_used,
       |  CAST(sum(ina * inb) AS BIGINT) AS matches,
       |  CAST((1000000 * sum(ina * inb)) // count(*) AS BIGINT)
       |    AS est_jaccard_ppm
       |FROM rk WHERE rn <= $kmvK GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q309
  /** Number of independent ±1 sketches q309 averages. */
  val amsSketches = 16

  /** AMS/Tug-of-War F2 sketch (Alon, Matias & Szegedy 1996)
    * estimating the SELF-JOIN SIZE of lineitem on l_partkey — the
    * optimizer statistic behind shuffle-skew and join-output
    * prediction: F2 = Σ_v f_v² is exactly the row count a self
    * equi-join would emit, and its ratio to n² says how skewed the
    * key is. q183 computes the exact number with a full key-grain
    * agg; this estimates it from [[amsSketches]] counters — the
    * sketch a planner consults without touching key grain. Each
    * sketch i folds σᵢ(key) = ±1 (q49's md5 device, salt `ams<i>:`)
    * into a plain SUM; E[Xᵢ²] = F2 exactly, and the estimate is the
    * mean of the 16 squares (relative s.d. ≈ √(2/16) ≈ 35% — the
    * honest budget-accuracy trade, DISCLOSED next to the exact
    * number and the observed error, q40's posture). All integer:
    * deterministic hash, exact sums, mirrored floor on the mean.
    * Xᵢ ∈ [−n, n] caps n at ~3·10⁹ rows before Xᵢ² risks BIGINT —
    * beyond that, sketch per partition-range and sum (F2 of
    * disjoint ranges adds on the cross-term-free expectation), the
    * same re-grid convention as q202.
    *
    * Scale shape: the sketch is ONE map-side-combining aggregate of
    * 16 codegen'd sums — no explode, no widening, no key-grain
    * state; the exact side is q183's single hash agg. The pipeline
    * answer at 100 TB is: keep the sketch, drop the exact column
    * (it exists here to score the sketch). */
  def q309AmsF2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    amsF2Of(Tables.lineitem(s, dir).select($"l_partkey".as("k")))
  }

  /** The sketch-vs-exact report on any (k BIGINT) frame — separated
    * so the spec can plant a single-key corpus (sketch is EXACT:
    * every σᵢ agrees, Xᵢ² = m²) and replay the md5 folds. */
  private[ops] def amsF2Of(keys: DataFrame): DataFrame = {
    val s = keys.sparkSession
    import s.implicits._
    val sigmaSums = (0 until amsSketches).map { i =>
      sum(expr(s"1L - 2L * (CAST(conv(substring(md5(concat('ams$i:', " +
        s"CAST(k AS STRING))), 1, 4), 16, 10) AS BIGINT) % 2)")).as(s"x$i")
    }
    val estExpr = (0 until amsSketches).map(i => s"x$i * x$i")
      .mkString("(", " + ", s") div $amsSketches")
    val sk = keys.agg(sigmaSums.head, sigmaSums.tail: _*)
      .select(expr(estExpr).as("f2_est"))
    val exact = keys.groupBy($"k").agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_keys"), sum($"c").as("n_rows"),
        sum($"c" * $"c").as("f2_exact"))
    exact.crossJoin(broadcast(sk))
      .select($"n_rows", $"n_keys", $"f2_exact", $"f2_est",
        expr("(1000000 * abs(f2_est - f2_exact)) div f2_exact")
          .as("err_ppm"))
  }

  private val q309Oracle = {
    val sums = (0 until amsSketches).map { i =>
      s"CAST(sum(1 - 2 * (('0x' || substr(md5('ams$i:' || " +
        s"CAST(k AS VARCHAR)), 1, 4))::BIGINT % 2)) AS BIGINT) AS x$i"
    }.mkString(",\n       |    ")
    val est = (0 until amsSketches).map(i => s"x$i * x$i")
      .mkString("(", " + ", s") // $amsSketches")
    s"""WITH keys AS (SELECT l_partkey AS k FROM lineitem),
       |sk0 AS (
       |  SELECT $sums
       |  FROM keys),
       |sk AS (SELECT $est AS f2_est FROM sk0),
       |ex AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_keys,
       |    CAST(sum(c) AS BIGINT) AS n_rows,
       |    CAST(sum(c * c) AS BIGINT) AS f2_exact
       |  FROM (SELECT k, CAST(count(*) AS BIGINT) AS c
       |        FROM keys GROUP BY k))
       |SELECT n_rows, n_keys, f2_exact, CAST(f2_est AS BIGINT) AS f2_est,
       |  CAST((1000000 * abs(f2_est - f2_exact)) // f2_exact AS BIGINT)
       |    AS err_ppm
       |FROM ex, sk""".stripMargin
  }

  // ---------------------------------------------------------------- q383
  /** Keys per bitmap word — 62, not 64: DuckDB's `<<` overflow-checks
    * a shift into the BIGINT sign bit, so the portable word keeps
    * every mask positive on both engines. */
  val bmpWordBits = 62L

  /** EXACT bitmap-index set algebra — the dense-integer-key
    * counterpart of the family's estimators (q174 HLL and q278 KMV
    * approximate set overlap when keys are arbitrary; when the key
    * space is a dense integer domain — order keys, row ids, doc
    * serials — a plain bitmap gives EXACT intersections at 62 keys
    * per row, the bitmap-index trick every columnar warehouse ships):
    * per order status, (word, bits) rows built in ONE map-side-
    * combining `bit_or` agg; every pairwise |A|, |B|, |A∩B|, |A∪B|,
    * exact Jaccard then computes on the WORD-GRAIN frames — popcounts
    * of AND/OR under a full-outer word join — without ever touching
    * the key set again (an exact pairwise distinct-intersect needs a
    * self-join per pair; the bitmap needs ⌈|universe|/62⌉ rows total).
    * Shuffle carries universe/62 rows per set — the compression is
    * the scale story; run-length containers (RoaringBitmap) compound
    * it for sparse ranges, disclosed not implemented. The status
    * partition is a DISJOINT partition of orders, so ∩ = 0 and
    * Jaccard = 0 across statuses would be trivial — the sets instead
    * come from two OVERLAPPING predicates each (status vs
    * high-priority vs recent), planted so all three regions of the
    * Venn diagram are live. */
  def q383BitmapAlgebra(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = bmpWordBits
    // three overlapping order sets over the same key universe
    val tagged = Tables.orders(s, dir).select(
      $"o_orderkey".as("k"),
      expr("o_orderstatus = 'F'").as("s_finished"),
      expr("o_orderpriority IN ('1-URGENT', '2-HIGH')").as("s_urgent"),
      expr("o_totalprice >= 150000.0D").as("s_big"))
    val sets = Seq("s_finished", "s_urgent", "s_big")
    val bitmaps = sets.map { nm =>
      tagged.where(col(nm))
        .select(expr(s"k div $w").as("word"),
          expr(s"shiftleft(1L, CAST(k % $w AS INT))").as("m"))
        .groupBy($"word").agg(expr("bit_or(m)").as("bits"))
        .select(lit(nm).as("s"), $"word", $"bits")
    }.reduce(_ unionByName _).localCheckpoint()
    val pairs = for {
      i <- sets.indices; j <- sets.indices if i < j
    } yield (sets(i), sets(j))
    pairs.map { case (a, b) =>
      bitmaps.where($"s" === a).select($"word", $"bits".as("ba"))
        .join(bitmaps.where($"s" === b).select($"word", $"bits".as("bb")),
          Seq("word"), "full_outer")
        .select(coalesce($"ba", lit(0L)).as("ba"),
          coalesce($"bb", lit(0L)).as("bb"))
        .agg(
          expr("CAST(sum(bit_count(ba)) AS BIGINT)").as("n_a"),
          expr("CAST(sum(bit_count(bb)) AS BIGINT)").as("n_b"),
          expr("CAST(sum(bit_count(ba & bb)) AS BIGINT)").as("n_and"),
          expr("CAST(sum(bit_count(ba | bb)) AS BIGINT)").as("n_or"))
        .select(lit(a).as("set_a"), lit(b).as("set_b"),
          $"n_a", $"n_b", $"n_and", $"n_or",
          expr("(1000000 * n_and) div n_or").as("jaccard_ppm"))
    }.reduce(_ unionByName _).orderBy($"set_a", $"set_b")
  }

  private val q383Oracle = {
    val w = bmpWordBits
    val defs = Seq(
      "s_finished" -> "o_orderstatus = 'F'",
      "s_urgent"   -> "o_orderpriority IN ('1-URGENT', '2-HIGH')",
      "s_big"      -> "o_totalprice >= 150000.0")
    val bm = defs.map { case (nm, pred) =>
      s"""SELECT '$nm' AS s, o_orderkey // $w AS word,
         |  bit_or(1::BIGINT << CAST(o_orderkey % $w AS INT)) AS bits
         |FROM orders WHERE $pred GROUP BY 2""".stripMargin
    }.mkString("\n  UNION ALL ")
    val pairs = for {
      i <- defs.indices; j <- defs.indices if i < j
    } yield (defs(i)._1, defs(j)._1)
    val pairSel = pairs.map { case (a, b) =>
      s"""SELECT '$a' AS set_a, '$b' AS set_b,
         |  CAST(sum(bit_count(ba)) AS BIGINT) AS n_a,
         |  CAST(sum(bit_count(bb)) AS BIGINT) AS n_b,
         |  CAST(sum(bit_count(ba & bb)) AS BIGINT) AS n_and,
         |  CAST(sum(bit_count(ba | bb)) AS BIGINT) AS n_or
         |FROM (
         |  SELECT COALESCE(x.bits, 0) AS ba, COALESCE(y.bits, 0) AS bb
         |  FROM (SELECT word, bits FROM bitmaps WHERE s = '$a') x
         |  FULL OUTER JOIN (SELECT word, bits FROM bitmaps WHERE s = '$b') y
         |    USING (word))""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH bitmaps AS (
       |  $bm)
       |SELECT set_a, set_b, n_a, n_b, n_and, n_or,
       |  (1000000 * n_and) // n_or AS jaccard_ppm
       |FROM ($pairSel)
       |ORDER BY set_a, set_b""".stripMargin
  }

  // ---------------------------------------------------------------- q390
  /** Misra–Gries counters per partition. 64 > the fixture's 31-token
    * vocabulary, so at sf the summary holds every token exactly and
    * the decrement branch never fires — disclosed; the spec plants a
    * vocabulary ≫ k stream where it does (and pins the ≤ k bound and
    * the superset guarantee there). */
  val mgCounters = 64

  /** Report share: tokens with exact count > N div [[mgShare]]. The
    * MG completeness guarantee covers frequency > N/(k+1) = N/65, so
    * the N/30 report threshold sits safely inside it. */
  val mgShare = 30

  /** Misra–Gries TWO-PASS exact heavy hitters over the document token
    * stream — the deterministic-output counterpart of q153's CMS
    * estimates: pass 1 runs the k-counter Misra–Gries summary
    * per partition (mapPartitions; the one sequential loop the
    * algorithm IS) and unions the survivors; pass 2 recounts ONLY the
    * candidates exactly and keeps count > N div [[mgShare]]. The
    * union-of-partitions summary keeps the classic guarantee: if an
    * item's global frequency exceeds N/(k+1), some partition has it
    * above its local Np/(k+1) (averaging), so it survives that
    * partition's summary — candidates are a SUPERSET of everything
    * the threshold can select, and the final output is therefore
    * byte-identical to the plain exact HAVING query (which is the
    * oracle). What the two passes buy at 100 TB: the exact query
    * shuffles a row per DISTINCT token (unbounded for URL/id-like
    * streams); here pass 1 shuffles ≤ k rows per partition and pass 2
    * groups on a (candidates+1)-cardinality key (non-candidates fold
    * into one NULL bucket that also supplies N) — both passes
    * constant-width, text never shuffles. Mergeability of MG
    * summaries: Agarwal et al., PODS 2012. */
  def q390MgHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documentsSpread(s, dir)
      .select(explode(tokCol($"text")).as("tok")).as[String]
    mgExactHeavy(toks, mgCounters, mgShare)
  }

  /** Pass 1: the per-partition k-counter summary. Emits each
    * partition's surviving (tok, residual) pairs — ≤ k rows per
    * partition by construction. Residuals are lower bounds (count −
    * at most Np/(k+1) decrements), diagnostic only; the exact pass
    * never reads them. */
  private[ops] def mgSummary(tokens: Dataset[String], k: Int): DataFrame = {
    val s = tokens.sparkSession
    import s.implicits._
    tokens.mapPartitions { it =>
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { t =>
        m.get(t) match {
          case Some(c) => m.update(t, c + 1L)
          case None if m.size < k => m.update(t, 1L)
          case None =>
            // classic decrement-all step: every counter pays 1, dead
            // counters free their slot (amortized O(1) per element)
            val dead = List.newBuilder[String]
            m.foreach { case (kk, c) =>
              if (c == 1L) dead += kk else m.update(kk, c - 1L)
            }
            dead.result().foreach(m.remove)
        }
      }
      m.iterator
    }.toDF("tok", "mg_lb")
  }

  /** Pass 2 on any token Dataset: tag rows against the broadcast
    * candidate set, count on the folded (candidate-or-NULL) key, and
    * apply the exact threshold. Separated so the spec can plant a
    * vocabulary ≫ k stream and verify output ≡ the direct exact
    * HAVING query. */
  private[ops] def mgExactHeavy(tokens: Dataset[String], k: Int,
      share: Int): DataFrame = {
    val s = tokens.sparkSession
    import s.implicits._
    val cand = mgSummary(tokens, k).select($"tok").distinct()
      .withColumn("is_cand", lit(true))
    // materialize the (candidates+1)-row count frame once: it feeds
    // both the output rows and the N total, and without the pin the
    // crossJoin's two branches would each rescan the token stream
    val counts = tokens.toDF("tok")
      .join(broadcast(cand), Seq("tok"), "left")
      .groupBy(when($"is_cand", $"tok").as("ctok"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    counts.crossJoin(broadcast(counts.agg(sum($"cnt").as("n"))))
      .where($"ctok".isNotNull && $"cnt" > expr(s"n div $share"))
      .select($"ctok".as("token"), $"cnt".as("exact_n"),
        expr("(1000000 * cnt) div n").as("share_ppm"))
      .orderBy($"exact_n".desc, $"token")
  }

  private val q390Oracle =
    s"""WITH tk AS (
       |  SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents),
       |c AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM tk GROUP BY 1),
       |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c)
       |SELECT tok AS token, cnt AS exact_n,
       |  (1000000 * cnt) // n AS share_ppm
       |FROM c, t WHERE cnt > n // $mgShare
       |ORDER BY exact_n DESC, token""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q390_mg_heavy_hitters" -> (q390MgHeavyHitters _),
    "q383_bitmap_algebra" -> (q383BitmapAlgebra _),
    "q309_ams_f2"      -> (q309AmsF2 _),
    "q278_kmv_jaccard" -> (q278KmvJaccard _),
    "q170_hll_distinct" -> (q170HllDistinct _),
    "q173_hll_cumulative" -> (q173HllCumulative _),
    "q174_hll_overlap"  -> (q174HllOverlap _),
    "q186_rolling_actives" -> (q186RollingActives _),
    "q153_cms_heavy_hitters" -> (q153CmsHeavyHitters _),
    "q156_bloom_prejoin"     -> (q156BloomPrejoin _),
  )

  val oracles: Map[String, String] = Map(
    "q390_mg_heavy_hitters" -> q390Oracle,
    "q383_bitmap_algebra" -> q383Oracle,
    "q309_ams_f2"      -> q309Oracle,
    "q278_kmv_jaccard" -> q278Oracle,
    "q170_hll_distinct" -> q170Oracle,
    "q173_hll_cumulative" -> q173Oracle,
    "q174_hll_overlap"  -> q174Oracle,
    "q186_rolling_actives" -> q186Oracle,
    "q153_cms_heavy_hitters" -> q153Oracle,
    "q156_bloom_prejoin"     -> q156Oracle,
  )
}
