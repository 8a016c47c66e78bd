package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Record linkage and graph-structure operators: blocked fuzzy entity
  * matching and degree-oriented triangle counting — the two classic
  * "all-pairs is the naive plan, don't run the naive plan" problems.
  * A 100 TB corpus cannot compare every row to every row; both
  * operators here exist to show the bounded-work alternative:
  * q132 pairs a distinct-value VOCABULARY instead of rows, q136
  * orients edges by degree so wedge fan-out is O(sqrt(m)) instead of
  * O(max-degree). The reference delegates both shapes to BigQuery
  * (reference `src/load/main.py:23-38` ships rows to a warehouse);
  * here they are explicit Spark plans.
  */
object LinkOps {

  // ---------------------------------------------------------------- q132
  /** Blocked fuzzy entity matching (record linkage) over part names.
    *
    * The naive formulation — self-join all rows, levenshtein every
    * pair — is O(n²) in CORPUS rows and dies at scale. This plan
    * never pairs rows at all:
    *
    *  1. reduce to the distinct-name vocabulary with per-name row
    *     counts (one hash-agg shuffle; vocabulary cardinality is
    *     bounded by the domain, not the corpus — 100 TB of parts
    *     still has thousands of distinct names, not billions);
    *  2. block by the name's last token (the head noun), so the
    *     quadratic step runs only WITHIN blocks — the standard
    *     linkage trick: candidate pairs scale with Σ block², not n²;
    *  3. levenshtein ≤ [[matchDistance]] within a block emits a
    *     match; row counts ride along so downstream merge steps know
    *     each entity's mass without touching the corpus again.
    *
    * Both join sides are vocabulary-sized, so the pair join
    * broadcasts — zero shuffle after the initial agg. The documented
    * tradeoff of blocking: a near-identical name whose HEAD NOUN
    * differs ("red bolt" / "red bol") lands in different blocks and
    * is never compared. That miss is inherent to blocking (the spec
    * pins it); recall-critical pipelines run a second pass with a
    * different blocking key, which is this same plan with a
    * different `blk` expression. */
  val matchDistance = 3

  def q132EntityMatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val names = Tables.part(s, dir)
      .groupBy($"p_name".as("name"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("blk", regexp_extract($"name", "(\\S+)$", 1))
    val a = names.select($"blk", $"name".as("name_a"), $"n_rows".as("n_a"))
    val b = names.select($"blk", $"name".as("name_b"), $"n_rows".as("n_b"))
    a.join(broadcast(b), "blk")
      .where($"name_a" < $"name_b")
      // r15: the threshold form runs the BANDED O(len·(2k+1))
      // dynamic program instead of the full O(len²) table and
      // returns −1 past the threshold — the emitted dist of every
      // surviving pair is the true distance, unchanged
      .withColumn("dist", levenshtein($"name_a", $"name_b", matchDistance))
      .where($"dist" >= 0)
      .select($"name_a", $"name_b", $"dist", $"n_a", $"n_b")
      .orderBy($"name_a", $"name_b")
  }

  private val q132Oracle =
    s"""WITH names AS (
       |  SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n_rows,
       |    regexp_extract(p_name, '(\\S+)$$', 1) AS blk
       |  FROM part GROUP BY 1)
       |SELECT a.name AS name_a, b.name AS name_b,
       |  levenshtein(a.name, b.name) AS dist,
       |  a.n_rows AS n_a, b.n_rows AS n_b
       |FROM names a JOIN names b ON a.blk = b.blk AND a.name < b.name
       |WHERE levenshtein(a.name, b.name) <= $matchDistance
       |ORDER BY name_a, name_b""".stripMargin

  // ---------------------------------------------------------------- q136
  /** Triangle counts per node over the part co-purchase graph
    * (parts sharing an order are adjacent) — the local-clustering
    * primitive behind community detection and spam/bot-ring mining.
    *
    * Edge construction never self-joins the fact table: lineitem
    * reduces to distinct (order, part), one `collect_set` per order,
    * and pairs are generated INSIDE the array (fan-out bounded by
    * order size squared — bounded by the basket-size cap every real
    * schema has), then deduped. One shuffle on orderkey, one on the
    * edge key.
    *
    * Triangle enumeration uses degree orientation: each undirected
    * edge points from the (degree, id)-smaller endpoint to the
    * larger. The orientation is acyclic, so every triangle has
    * exactly one node with out-edges to the other two — each
    * triangle is found EXACTLY once, and out-degree is O(sqrt(m)),
    * so the wedge join's fan-out is bounded regardless of how hot
    * the hottest node is (the naive a<b<c triple join explodes on
    * high-degree nodes: a celebrity part in every basket generates
    * degree² wedges; after orientation its out-degree is √m). Wedges
    * (s→t1, s→t2) probe the undirected edge set on the canonical
    * (u=min, v=max) key — an equi-join, so it hashes; the degree
    * table is node-sized and broadcasts. The oracle counts the same
    * triangles via the naive triple join — different algorithm,
    * identical result, which is the point of the hash check. */
  def q136TriangleCounts(s: SparkSession, dir: String): DataFrame =
    triangleCountsOf(
      Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")))
      .withColumnRenamed("node", "p_partkey")
      .orderBy(col("p_partkey"))

  /** The full pipeline on any (ok, pk) membership frame — separated
    * so the spec can drive it with a planted K4-plus-path graph
    * (every sf basket yields triangles, which would leave the
    * zero-triangle branch untested). */
  /** Distinct undirected co-membership edges (u < v) from an
    * (ok, pk) frame — in-array pair generation, fan-out bounded by
    * group size; shared by q136 and q143. */
  /** One (u, v) row per GROUP containing the pair (u < v) — the
    * support-counting form; [[coEdges]] is this deduped. */
  private[ops] def pairOccurrences(items: DataFrame): DataFrame = {
    val s = items.sparkSession
    import s.implicits._
    // r15 probe: a distinct() here is a plan NO-OP — Catalyst's
    // RemoveRedundantAggregates elides it under the duplicate-agnostic
    // collect_set (verified by explain diff, OPTIMIZATION_r15.md).
    // r16 drops it EXPLICITLY, because the fixed-width repartition
    // below would otherwise sit between the two aggregates and block
    // that rewrite, resurrecting the (ok, pk) exchange (caught in
    // q146's after-plan: 24 → 28 Exchange before this form).
    // The repartition itself is the q66/q292 fan-out rule: the
    // (ok, pk) rows are a few MB, so AQE coalesces the
    // ENSURE_REQUIREMENTS exchange to ~3 tasks — but this stage fans
    // out to Σ|basket|²/2 pairs of CPU-bound work (measured r16:
    // 0.7+1.1 s on 3-4 tasks in q136's event-log attribution). The
    // groupBy reuses the pinned partitioning: ONE exchange, full
    // width, exactly the before-count.
    items
      .repartition(s.sparkContext.defaultParallelism, $"ok")
      .groupBy($"ok").agg(sort_array(collect_set($"pk")).as("ps"))
      .select(explode(expr(
        """flatten(transform(ps, (x, i) ->
          |  transform(slice(ps, i + 2, size(ps)),
          |            y -> struct(x AS u, y AS v))))""".stripMargin)).as("e"))
      .select($"e.u", $"e.v")
  }

  private[ops] def coEdges(items: DataFrame): DataFrame =
    pairOccurrences(items).distinct()

  private[ops] def triangleCountsOf(items: DataFrame): DataFrame = {
    // referenced by the degree pass, the orientation, and the closure
    // probe — without a cut each re-runs coEdges' order-grain
    // self-join + distinct (q307's fix, same reasoning)
    triangleCountsOnEdges(coEdges(items).localCheckpoint())
  }

  /** Runtime threshold gate for node-cardinality build sides.
    *
    * Catalyst's static size estimate for a post-aggregation frame is
    * derived from the CHILD (the pre-agg edge explode), so the
    * planner's own autoBroadcastJoinThreshold gate never fires for a
    * degree table even when it is tiny, and AQE only converts after
    * the first shuffle has already run — per round, in a peel loop.
    * This helper measures the truth instead: localCheckpoint the
    * frame (eager — blocks are in memory), count those blocks (a
    * near-free RDD job, no recompute), and attach a `broadcast` hint
    * ONLY when actual rows × a conservative bytes/row clear the
    * session's threshold. Small graphs get the broadcast plan;
    * 10⁹-node graphs — or a disabled threshold, the PlanSpec
    * stand-in for 100-TB cardinality — fall back to a co-partitioned
    * shuffle join. Unlike a hard hint, the driver never materializes
    * a frame the gate hasn't measured as small. */
  private[graft] def sizeGated(df: DataFrame,
                               bytesPerRow: Long = 48L): DataFrame = {
    val ckpt = df.localCheckpoint(true)
    countGated(ckpt, ckpt.count(), bytesPerRow)
  }

  /** [[sizeGated]]'s decision applied to an ALREADY-KNOWN row count —
    * for loop bodies whose frame keeps a loop-invariant key set (one
    * row per node / per order), where the cardinality can be measured
    * once before the loop instead of checkpoint-and-count every
    * round. Same posture: broadcast only under the session threshold,
    * shuffle fallback otherwise (and always when the threshold is
    * disabled, the PlanSpec 100-TB stand-in). */
  private[graft] def countGated(df: DataFrame, rows: Long,
                                bytesPerRow: Long = 48L): DataFrame =
    if (underBroadcastGate(df.sparkSession, rows, bytesPerRow)) broadcast(df)
    else df

  /** The size test behind [[countGated]] (and `DedupOps.ccFixpoint`'s
    * driver path): `rows × bytesPerRow` fits the session's
    * autoBroadcastJoinThreshold. A threshold ≤ 0 — disabled, the
    * PlanSpec 100-TB stand-in — never fits. */
  private[graft] def underBroadcastGate(s: SparkSession, rows: Long,
                                        bytesPerRow: Long = 48L): Boolean = {
    val raw = s.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    val threshold =
      if (raw.trim.startsWith("-")) -1L
      else org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw)
    threshold > 0 && rows * bytesPerRow <= threshold
  }

  /** The oriented-wedge closure on an already-materialized canonical
    * (u < v) edge frame — split out so q321 can compute triangles
    * and degrees against the SAME checkpointed edge set.
    *
    * The degree joins are [[sizeGated]], never hard-hinted: deg is
    * node-cardinality, so the gate measures the checkpointed frame
    * and broadcasts only when genuinely under the session threshold —
    * small graphs broadcast, 10⁹-node graphs fall back to a shuffle
    * join keyed on the endpoint, degrees co-partitioned with edges.
    * A forced broadcast() here would driver-materialize a multi-GB
    * (node, degree) frame at 100-TB cardinality. PlanSpec pins the
    * fallback by planning with the threshold forced to −1. */
  private[graft] def triangleCountsOnEdges(edges: DataFrame): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val deg = sizeGated(edges.select(explode(array($"u", $"v")).as("node"))
      .groupBy($"node").agg(count(lit(1)).as("d")))
    val or = edges
      .join(deg.select($"node".as("u"), $"d".as("du")), "u")
      .join(deg.select($"node".as("v"), $"d".as("dv")), "v")
      .select(
        when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"),
          struct($"u".as("s"), $"v".as("t")))
          .otherwise(struct($"v".as("s"), $"u".as("t"))).as("e"))
      .select($"e.s", $"e.t")
    val x = or.select($"s", $"t".as("t1"))
    val y = or.select($"s", $"t".as("t2"))
    // t1 < t2 picks one of the two orderings of each out-neighbor pair,
    // and edges is already (min, max)-canonical, so the closure probe
    // below is a plain equi-join — no distinct, no extra shuffle
    val wedges = x.join(y, Seq("s")).where($"t1" < $"t2")
      .select($"s", $"t1".as("u"), $"t2".as("v"))
    wedges.join(edges, Seq("u", "v"))
      .select(explode(array($"s", $"u", $"v")).as("node"))
      .groupBy($"node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Shared oracle CTE fragment: the same co-purchase edge set q136
    * and q143 both consume. */
  private val edgesCte =
    """items AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |edges AS (
      |  SELECT DISTINCT a.pk AS u, b.pk AS v
      |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk)""".stripMargin

  private val q136Oracle =
    s"""WITH $edgesCte,
      |tris AS (
      |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |  FROM edges e1 JOIN edges e2 ON e1.v = e2.u
      |  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v),
      |credit AS (SELECT unnest([a, b, c]) AS node FROM tris)
      |SELECT node AS p_partkey, CAST(count(*) AS BIGINT) AS n_triangles
      |FROM credit GROUP BY 1 ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------- q143
  /** Community detection by synchronous label propagation (LPA) over
    * the co-purchase graph — [[lpaRounds]] rounds of "adopt the most
    * frequent label among your neighbors, ties to the smallest" from
    * a label(v)=v start. The deterministic-tie-break synchronous
    * variant makes an otherwise run-order-dependent heuristic
    * hash-checkable; the asynchronous textbook version is not
    * reproducible even against itself.
    *
    * Per round: one join of the direction-doubled edge list against
    * the node-sized label table, one (node, label) count, one
    * per-node argmax window — partitioned by node, so no global
    * sort. The label join is [[sizeGated]], never hard-hinted:
    * labels are node-cardinality, so the gate measures each round's
    * checkpointed label frame against the session threshold — below
    * it (small graphs, and every local test) the label map
    * broadcasts; above it (100-TB node cardinality, where a forced
    * broadcast would blow the driver) the join falls back to a
    * shuffle keyed on v, labels co-partitioned with edges — q159's
    * BFS-frontier posture. PlanSpec pins the fallback by planning
    * with the threshold forced to −1. The edge
    * list is localCheckpoint'd once and reused every round. At
    * 100 TB the edge join shuffles on dst each round — the same
    * per-round cost profile as q122's PageRank, rounds fixed by
    * parameter, not data. The oracle unrolls the identical rounds as
    * generated CTE stages (q122's device). */
  val lpaRounds = 3

  def q143LpaCommunities(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    lpaOf(coEdges(Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))))
      .withColumnRenamed("node", "p_partkey")
      .orderBy($"p_partkey")
  }

  /** LPA on any (u, v) undirected edge frame — separated so the spec
    * can drive planted two-clique graphs where the converged
    * communities are known. */
  private[ops] def lpaOf(edgesIn: DataFrame): DataFrame = {
    val s = edgesIn.sparkSession
    import s.implicits._
    val edges = edgesIn.select($"u", $"v")
      .unionAll(edgesIn.select($"v".as("u"), $"u".as("v")))
      .localCheckpoint(true)
    // label frames are [[sizeGated]]: measured broadcast below the
    // session threshold (the doubled edge list never shuffles on a
    // small graph), co-partitioned shuffle fallback above it
    var labels = sizeGated(edges.select($"u".as("node")).distinct()
      .select($"node", $"node".as("label")))
    (1 to lpaRounds).foreach { _ =>
      val prev = labels
      labels = sizeGated(lpaRound(edges, labels))
      prev.unpersist(blocking = false)
    }
    val out = labels.withColumnRenamed("label", "community")
    labels.unpersist(blocking = false)
    out
  }

  /** One synchronous LPA round on (u, v) edges × (node, label) —
    * separated from [[lpaOf]]'s checkpoint loop so PlanSpec can pin
    * the round's physical join strategy (threshold-gated broadcast,
    * shuffle fallback) directly. */
  private[graft] def lpaRound(edges: DataFrame, labels: DataFrame): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    // CONTRACT (ADVICE r15): node ids / labels must be NON-NEGATIVE —
    // the argmax tie-break below negates the label, so a negative or
    // Long.MinValue id would overflow or invert the smallest-label
    // rule. Every current caller feeds part/doc ids (≥ 0); a reuse on
    // signed ids must re-derive the tie-break.
    // r15: the majority vote is an ARGMAX per node — max_by(label,
    // (cnt, −label)) picks the most frequent label with smallest-
    // label tie-break, exactly the old row_number() OVER (PARTITION
    // BY u ORDER BY cnt DESC, label ASC) = 1 filter, WITHOUT the
    // window's exchange-by-u + full sort of the (u, label, cnt)
    // stream every round: the agg does map-side partial argmax and
    // never sorts (labels are non-negative ids, so −label cannot
    // overflow). Exchange count is unchanged (the argmax still
    // re-keys by u); what goes away is the per-round full sort of
    // the (u, label, cnt) stream plus the window's row_number pass.
    // Wall time at sf0.1 is within noise (q143 3.7-4.3 both ways,
    // q320 ~9.1 vs ~9.3-10.8 isolated) — node-grain streams are tiny
    // here; the sort is the term that grows at corpus scale.
    edges
      .join(labels.withColumnRenamed("node", "v"), "v")
      .groupBy($"u", $"label").agg(count(lit(1)).as("cnt"))
      .groupBy($"u")
      .agg(max_by($"label", struct($"cnt", -$"label")).as("label"))
      .select($"u".as("node"), $"label")
  }

  /** The unrolled synchronous-LPA CTE stages (q122's device), shared
    * by the q143 oracle and q320's modularity readout of the same
    * partition. */
  private val lpaCteBody = {
    val rounds = (1 to lpaRounds).map { i =>
      s"""l$i AS (
         |  SELECT u AS node, label FROM (
         |    SELECT e2.u, l.label, count(*) AS cnt,
         |      row_number() OVER (PARTITION BY e2.u
         |        ORDER BY count(*) DESC, l.label ASC) AS rn
         |    FROM e2 JOIN l${i - 1} l ON e2.v = l.node
         |    GROUP BY e2.u, l.label)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""e2 AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
       |l0 AS (SELECT DISTINCT u AS node, u AS label FROM e2),
       |$rounds""".stripMargin
  }

  private val q143Oracle =
    s"""WITH $edgesCte,
       |$lpaCteBody
       |SELECT node AS p_partkey, label AS community FROM l$lpaRounds
       |ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------- q146
  /** Market-basket association rules: for every co-purchased pair
    * with support ≥ [[minPairSupport]], both directed rules a→b with
    * exact support, confidence, and lift — the affinity model behind
    * recommendations and assortment planning.
    *
    * All three statistics are FIXED-POINT parts-per-million from
    * exact integer counts (`conf = 1e6·n(ab) div n(a)`,
    * `lift = 1e6·n(ab)·N div (n(a)·n(b))`) — no double ratios, so
    * the rule table is bit-stable under any partitioning. Pair
    * occurrences come from the in-array generator (fan-out bounded
    * by basket size, no fact self-join); item supports are an
    * item-cardinality table, so both enrichment joins broadcast.
    * The support threshold prunes BEFORE the rule expansion — the
    * standard Apriori observation that infrequent pairs can't make
    * frequent rules. */
  val minPairSupport = 3

  def q146AssociationRules(s: SparkSession, dir: String): DataFrame =
    associationRulesOf(Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")))

  /** The rule mining on any (ok, pk) membership frame — separated so
    * the spec can plant baskets with hand-computable confidence and
    * lift. */
  private[ops] def associationRulesOf(itemsIn: DataFrame): DataFrame = {
    val s = itemsIn.sparkSession
    import s.implicits._
    // three consumers (basket count, item support, pair counts) each
    // re-run the de-dup shuffle otherwise; id pairs only, one cut
    val items = itemsIn.distinct().localCheckpoint()
    val nOrders = items.select(countDistinct($"ok").as("n_orders"))
    val sup = items.groupBy($"pk").agg(count(lit(1)).as("s"))
    val pairN = pairOccurrences(items)
      .groupBy($"u", $"v").agg(count(lit(1)).as("pair_n"))
      .where($"pair_n" >= minPairSupport)
    val rules = pairN.select($"u".as("ante"), $"v".as("cons"), $"pair_n")
      .unionAll(pairN.select($"v".as("ante"), $"u".as("cons"), $"pair_n"))
    rules
      .join(broadcast(sup.select($"pk".as("ante"), $"s".as("sup_ante"))), "ante")
      .join(broadcast(sup.select($"pk".as("cons"), $"s".as("sup_cons"))), "cons")
      .crossJoin(broadcast(nOrders))
      .select($"ante", $"cons", $"pair_n", $"sup_ante", $"sup_cons",
        expr("(1000000 * pair_n) div sup_ante").as("conf_ppm"),
        expr("(1000000 * pair_n * n_orders) div (sup_ante * sup_cons)")
          .as("lift_ppm"))
      .orderBy($"ante", $"cons")
  }

  private val q146Oracle =
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |po AS (
       |  SELECT a.pk AS u, b.pk AS v, CAST(count(*) AS BIGINT) AS pair_n
       |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2 HAVING count(*) >= $minPairSupport),
       |sup AS (SELECT pk, CAST(count(*) AS BIGINT) AS s FROM items GROUP BY 1),
       |no AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM items),
       |r AS (
       |  SELECT u AS ante, v AS cons, pair_n FROM po
       |  UNION ALL SELECT v, u, pair_n FROM po)
       |SELECT ante, cons, pair_n, sa.s AS sup_ante, sb.s AS sup_cons,
       |  (1000000 * pair_n) // sa.s AS conf_ppm,
       |  (1000000 * pair_n * n_orders) // (sa.s * sb.s) AS lift_ppm
       |FROM r JOIN sup sa ON r.ante = sa.pk JOIN sup sb ON r.cons = sb.pk, no
       |ORDER BY ante, cons""".stripMargin

  // ---------------------------------------------------------------- q159
  /** Rounds of frontier expansion for q159 — hop distances beyond
    * this are "unreached" (absent from the output), the standard
    * bounded-radius formulation: contamination/influence audits care
    * about the k-hop neighborhood, not full transitive closure. */
  val bfsMaxHops = 3

  /** Seed selector: every [[bfsSeedModulus]]-th part id is "flagged".
    * A real pipeline feeds an explicit seed table (a blocklist, a
    * contaminated-doc set); the modulus stands in for it
    * deterministically. */
  val bfsSeedModulus = 97

  /** Multi-source BFS hop distance over the co-purchase graph — the
    * propagation primitive behind contamination spread ("these docs
    * are known-bad; what is within k links of them?"), crawl-depth
    * audits, and influence radii.
    *
    * Working-set iteration, the same discipline as q79's components
    * and q143's LPA: per round, ONLY the current frontier joins the
    * edge list — visited nodes never re-enter the join, so total
    * work across all rounds is O(edges touched), not
    * O(rounds × edges). The visited set (`dist`) is (node, hops)
    * longs — no payload ever enters the loop — and new nodes are
    * found by one anti-join against it. Each round's frontier is
    * localCheckpoint'd (the lineage would otherwise double per
    * round); rounds are bounded by [[bfsMaxHops]], a semantic radius
    * rather than a convergence guess, so the 100 TB cost model is
    * exactly `bfsMaxHops` × (one edge join + one anti-join), each
    * shuffling node-id pairs only. The oracle unrolls the identical
    * rounds as generated CTE stages (q143's device). */
  def q159BfsHops(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val items = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val seeds = items.select($"pk".as("node"))
      .where($"node" % bfsSeedModulus === 0).distinct()
    bfsHopsOf(coEdges(items), seeds)
      .withColumnRenamed("node", "p_partkey")
      .orderBy($"p_partkey")
  }

  /** BFS on any (u, v) undirected edge frame from a (node) seed frame
    * — separated so the spec can drive a planted path whose hop
    * distances are known, including the radius cutoff. */
  private[ops] def bfsHopsOf(edgesIn: DataFrame, seeds: DataFrame): DataFrame = {
    val s = edgesIn.sparkSession
    import s.implicits._
    val edges = edgesIn.select($"u", $"v")
      .unionAll(edgesIn.select($"v".as("u"), $"u".as("v")))
      .localCheckpoint(true)
    // Only each round's FRONTIER is checkpointed; the visited set is
    // the lazy union of those per-round frames, so no round pays to
    // re-materialize the whole cumulative distance table (each
    // checkpointed frontier is scanned once per later anti-join —
    // bfsMaxHops small scans instead of bfsMaxHops re-writes).
    val frontiers = scala.collection.mutable.ArrayBuffer(
      seeds.select($"node", lit(0L).as("hops")).localCheckpoint(true))
    (1 to bfsMaxHops).foreach { h =>
      val visited = frontiers.map(_.select($"node")).reduce(_ unionAll _)
      val next = edges
        .join(frontiers.last.select($"node").withColumnRenamed("node", "u"), "u")
        .select($"v".as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .select($"node", lit(h.toLong).as("hops"))
        .localCheckpoint(true)
      frontiers += next
    }
    val out = frontiers.reduce(_ unionAll _)
    edges.unpersist(blocking = false)
    out
  }

  private val q159Oracle = {
    val rounds = (1 to bfsMaxHops).map { i =>
      s"""f$i AS (
         |  SELECT DISTINCT e2.v AS node
         |  FROM e2 JOIN f${i - 1} ON e2.u = f${i - 1}.node
         |  WHERE e2.v NOT IN (SELECT node FROM d${i - 1})),
         |d$i AS (SELECT * FROM d${i - 1}
         |  UNION ALL SELECT node, CAST($i AS BIGINT) FROM f$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesCte,
       |e2 AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
       |d0 AS (SELECT DISTINCT pk AS node, CAST(0 AS BIGINT) AS hops
       |  FROM items WHERE pk % $bfsSeedModulus = 0),
       |f0 AS (SELECT node FROM d0),
       |$rounds
       |SELECT node AS p_partkey, hops FROM d$bfsMaxHops ORDER BY p_partkey""".stripMargin
  }

  // ---------------------------------------------------------------- q187
  /** Support floor for q187's frequent triples (and the pair-level
    * Apriori prune feeding it). */
  val minTripleSupport = 2

  /** Frequent triple itemsets — the level-3 Apriori step on top of
    * q146's pairs: baskets containing all three of {a, b, c} at
    * least [[minTripleSupport]] times. The scale discipline is the
    * Apriori PRUNE: candidate triples pass three semi joins against
    * the frequent-PAIR set before the counting shuffle, because
    * support(triple) ≤ support(any sub-pair) — at 100 TB the prune
    * is what keeps the candidate stream from being every basket's
    * |basket|³/6 fan-out. The prune provably cannot
    * change the answer (monotonicity), so the oracle counts triples
    * with a plain HAVING and the hash match proves the pruned plan
    * transparent — q156's Bloom-prejoin device at the itemset level.
    * Triple generation itself is in-array (no fact self-join),
    * bounded by basket size cubed. The pair set is checkpointed and
    * counted once, and every prune join is [[countGated]]: it
    * broadcasts under the session threshold and shuffles above it. */
  def q187FrequentTriples(s: SparkSession, dir: String): DataFrame =
    frequentTriplesOf(Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")))

  /** The mining on any (ok, pk) membership frame — separated so the
    * spec can plant a basket set with hand-countable triples and a
    * prune-eliminated candidate. */
  private[ops] def frequentTriplesOf(itemsIn: DataFrame): DataFrame = {
    val s = itemsIn.sparkSession
    import s.implicits._
    val items = itemsIn.distinct()
    val freqPairs = pairOccurrences(items)
      .groupBy($"u", $"v").agg(count(lit(1)).as("n"))
      .where($"n" >= minTripleSupport)
      .select($"u", $"v")
      .localCheckpoint()
    // one count gates all four prune joins: the pair set is measured,
    // and its members number at most twice its pairs
    val nPairs = freqPairs.count()
    // r16: drop basket members that appear in NO frequent pair BEFORE
    // the cubic expansion. Monotonicity-sound: a triple that survives
    // the sub-pair semi joins below has all three items inside
    // frequent pairs, so removing non-members changes no surviving
    // triple — it only shrinks the candidate stream the semi joins
    // would have discarded anyway (measured at sf0.1: 20 000 items →
    // 5 922 frequent-pair members, in-basket triple fan-out
    // 1 599 112 → 58 191, 27×). Item-level support pruning, by
    // contrast, is a measured NO-OP on this data shape (min item
    // support 11 ≫ minTripleSupport) — don't re-try it.
    val freqItems = freqPairs
      .select(explode(array($"u", $"v")).as("pk")).distinct()
    val triples = items
      .join(countGated(freqItems, 2 * nPairs), Seq("pk"), "left_semi")
      .groupBy($"ok").agg(sort_array(collect_set($"pk")).as("ps"))
      .where(size($"ps") >= 3)
      .select(explode(expr(
        """flatten(flatten(transform(ps, (x, i) ->
          |  transform(slice(ps, i + 2, size(ps)), (y, j) ->
          |    transform(slice(ps, i + j + 3, size(ps)),
          |              z -> struct(x AS u, y AS v, z AS w))))))""".stripMargin))
        .as("t"))
      .select($"t.u", $"t.v", $"t.w")
    triples
      .join(countGated(freqPairs, nPairs), Seq("u", "v"), "left_semi")
      .join(countGated(freqPairs.select($"u", $"v".as("w")), nPairs),
        Seq("u", "w"), "left_semi")
      .join(countGated(freqPairs.select($"u".as("v"), $"v".as("w")), nPairs),
        Seq("v", "w"), "left_semi")
      .groupBy($"u", $"v", $"w").agg(count(lit(1)).as("support"))
      .where($"support" >= minTripleSupport)
      .orderBy($"u", $"v", $"w")
  }

  private val q187Oracle =
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem)
       |SELECT a.pk AS u, b.pk AS v, c.pk AS w,
       |  CAST(count(*) AS BIGINT) AS support
       |FROM items a
       |JOIN items b ON a.ok = b.ok AND a.pk < b.pk
       |JOIN items c ON a.ok = c.ok AND b.pk < c.pk
       |GROUP BY 1, 2, 3 HAVING count(*) >= $minTripleSupport
       |ORDER BY u, v, w""".stripMargin

  // ---------------------------------------------------------------- q195
  /** Pair-support floor and per-item cut for q195. */
  val recMinSupport = 2
  val recTopK = 3

  /** Item-item collaborative-filtering candidates: for every part,
    * the top-[[recTopK]] most-associated parts by co-occurrence
    * cosine — the "customers also bought" candidate generator, the
    * first stage of every co-occurrence recommender. q146 emits
    * thresholded RULES; a recommender needs a per-item RANKING, and
    * ranking by raw pair count just returns global bestsellers —
    * cosine (pn ∕ √(sup_a·sup_b)) normalizes both popularity biases
    * away. Scored as cos² in ppm: (10⁶·pn²) div (sup_a·sup_b) —
    * exact integers, same ORDER as cosine since cosine ≥ 0, no
    * square root to disagree cross-engine. In-array pair generation
    * (no fact self-join), item-cardinality broadcast enrichments,
    * per-item ranking windows partitioned by item — bounded fan-in.
    * Support floor [[recMinSupport]] keeps one-off co-purchases
    * (cos² of two singletons is a perfect 10⁶) out of the recs. */
  def q195ItemRecs(s: SparkSession, dir: String): DataFrame =
    itemRecsOf(Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")))

  /** The ranking on any (ok, pk) membership frame — separated so the
    * spec can plant a bestseller whose raw-count rank and
    * cosine rank disagree. */
  private[ops] def itemRecsOf(itemsIn: DataFrame): DataFrame = {
    val s = itemsIn.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val items = itemsIn.distinct()
    val sup = items.groupBy($"pk").agg(count(lit(1)).as("s"))
    val pairN = pairOccurrences(items)
      .groupBy($"u", $"v").agg(count(lit(1)).as("pn"))
      .where($"pn" >= recMinSupport)
    val directed = pairN.select($"u".as("item"), $"v".as("rec"), $"pn")
      .unionAll(pairN.select($"v".as("item"), $"u".as("rec"), $"pn"))
    // r16: bounded top-k as an AGGREGATE instead of a row_number
    // window (the r15 lpaRound argmax device at k = recTopK): the
    // window sorted every item partition of the full directed-pair
    // stream; the aggregate sorts each item's ~candidate-count vector
    // in place and slices the head. Identical ranking: array_sort on
    // the struct orders by (−cos2_ppm, rec) ascending = (cos2_ppm
    // DESC, rec ASC), exactly the window's ORDER BY, and rec is
    // unique within an item so ties cannot reach the later fields.
    // cos2_ppm ∈ [0, 10⁶] (cos² ≤ 1), so the negation cannot
    // overflow.
    // Skew assumption: collect_list holds ALL of an item's candidates
    // in one non-spillable aggregation buffer before the slice. A
    // candidate is a distinct partner that clears recMinSupport, so
    // the buffer is bounded by the item's frequent co-purchase
    // partners — small for this part catalogue, unbounded in general.
    // A bestseller co-bought with most of a large catalogue needs a
    // per-partition partial top-k before this aggregate (or the
    // spillable window it replaced).
    directed
      .join(broadcast(sup.select($"pk".as("item"), $"s".as("sa"))), "item")
      .join(broadcast(sup.select($"pk".as("rec"), $"s".as("sb"))), "rec")
      .select($"item", $"rec", $"pn",
        expr("(1000000 * pn * pn) div (sa * sb)").as("cos2_ppm"))
      .groupBy($"item")
      .agg(slice(array_sort(collect_list(
        struct((-$"cos2_ppm").as("nc"), $"rec", $"pn", $"cos2_ppm"))),
        1, recTopK).as("top"))
      .select($"item", posexplode($"top").as(Seq("p0", "t")))
      .select($"item", $"t.rec".as("rec"), $"t.pn".as("pn"),
        $"t.cos2_ppm".as("cos2_ppm"), ($"p0" + 1).cast("long").as("rnk"))
      .orderBy($"item", $"rnk")
  }

  private val q195Oracle =
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |sup AS (SELECT pk, CAST(count(*) AS BIGINT) AS s FROM items GROUP BY 1),
       |po AS (
       |  SELECT a.pk AS u, b.pk AS v, CAST(count(*) AS BIGINT) AS pn
       |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2 HAVING count(*) >= $recMinSupport),
       |d AS (
       |  SELECT u AS item, v AS rec, pn FROM po
       |  UNION ALL SELECT v, u, pn FROM po),
       |sc AS (
       |  SELECT item, rec, pn,
       |    CAST((1000000 * pn * pn) // (sa.s * sb.s) AS BIGINT) AS cos2_ppm
       |  FROM d JOIN sup sa ON d.item = sa.pk JOIN sup sb ON d.rec = sb.pk),
       |rk AS (
       |  SELECT *, row_number() OVER (PARTITION BY item
       |    ORDER BY cos2_ppm DESC, rec) AS rn
       |  FROM sc)
       |SELECT item, rec, pn, cos2_ppm, CAST(rn AS BIGINT) AS rnk
       |FROM rk WHERE rn <= $recTopK ORDER BY item, rnk""".stripMargin

  // ---------------------------------------------------------------- q200
  /** Core order for q200: the sf0.01 co-purchase graph peels 143
    * nodes over 5 rounds at k = 80 and keeps an 1857-node core —
    * both branches live. */
  val kCoreK = 80

  /** Peeling rounds. The fixture reaches fixpoint in 5; the margin
    * rounds are no-ops (peeling is idempotent at fixpoint, so extra
    * rounds cannot change the result — which is what lets BOTH the
    * Spark loop and the unrolled oracle run a FIXED count and stay
    * hash-identical). A production run at unknown depth uses q79's
    * per-round convergence count instead of a fixed budget. */
  val kCoreRounds = 8

  /** k-core decomposition by iterative peeling: repeatedly delete
    * every node with fewer than k neighbors INSIDE the surviving
    * set; what remains is the maximal subgraph of minimum degree k —
    * the standard densest-region filter (spam/bot-ring isolation,
    * community scaffolding) that a plain degree threshold gets
    * wrong: deleting one weak node weakens its neighbors, so the
    * filter must cascade (the spec plants a chain that a one-shot
    * threshold keeps but peeling correctly removes).
    *
    * Working-set discipline: edges are built once and checkpointed;
    * each round restricts them to the alive set with two semi joins
    * (id-only), recounts degrees, and keeps nodes with deg ≥ k. All
    * loop state is node-id cardinality. Output: the core's members
    * with their in-core degrees. */
  def q200Kcore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    kcoreOf(coEdges(Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))), kCoreK)
      .withColumnRenamed("node", "p_partkey")
      .orderBy(col("p_partkey"))
  }

  /** Peeling on any (u, v) undirected edge frame — separated so the
    * spec can plant a clique-plus-chain where one-shot thresholding
    * and peeling disagree. */
  private[ops] def kcoreOf(edgesIn: DataFrame, k: Int): DataFrame = {
    val s = edgesIn.sparkSession
    import s.implicits._
    val edges = edgesIn.select($"u", $"v")
      .unionAll(edgesIn.select($"v".as("u"), $"u".as("v")))
      .localCheckpoint(true)
    // the alive set is [[sizeGated]]: a measured broadcast makes both
    // per-round semi joins map-side on small graphs (the edge frame
    // never shuffles), with the co-partitioned fallback at 10⁹ nodes
    var alive = sizeGated(edges.select($"u".as("node")).distinct())
    var aliveCount = alive.count()
    var deg: DataFrame = null
    // r15: fixpoint early-exit, the q393 device — the alive set only
    // ever SHRINKS, so an unchanged count means an unchanged set and
    // every later round recomputes the identical deg frame (the
    // margin rounds the unrolled oracle relies on are idempotent
    // no-ops). Each skipped round saves two semi joins + one degree
    // aggregation over the FULL edge set. The count rides the frame
    // sizeGated just checkpointed, so the check reads in-memory
    // blocks.
    var round = 0
    var stable = false
    while (round < kCoreRounds && !stable) {
      val prev = alive
      val live = edges
        .join(alive.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
        .join(alive.withColumnRenamed("node", "v"), Seq("v"), "left_semi")
      deg = live.groupBy($"u".as("node")).agg(count(lit(1)).as("core_degree"))
      alive = sizeGated(deg.where($"core_degree" >= k).select($"node"))
      val n = alive.count()
      stable = n == aliveCount
      aliveCount = n
      prev.unpersist(blocking = false)
      round += 1
    }
    val out = deg.where($"core_degree" >= k)
    edges.unpersist(blocking = false)
    out
  }

  private val q200Oracle = {
    val rounds = (1 to kCoreRounds).map { i =>
      s"""d$i AS (
         |  SELECT u AS node, CAST(count(*) AS BIGINT) AS core_degree
         |  FROM e2
         |  WHERE u IN (SELECT node FROM a${i - 1})
         |    AND v IN (SELECT node FROM a${i - 1})
         |  GROUP BY 1),
         |a$i AS (SELECT node FROM d$i WHERE core_degree >= $kCoreK)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesCte,
       |e2 AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
       |a0 AS (SELECT DISTINCT u AS node FROM e2),
       |$rounds
       |SELECT node AS p_partkey, core_degree FROM d$kCoreRounds
       |WHERE core_degree >= $kCoreK ORDER BY p_partkey""".stripMargin
  }

  // ---------------------------------------------------------------- q201
  /** Alternating HITS rounds for q201 (each = one hub pass + one
    * authority pass). */
  val hitsRounds = 3

  /** HITS hubs-and-authorities on the order—part BIPARTITE graph:
    * an order is a good hub if it contains authoritative parts, a
    * part authoritative if good hubs contain it — the mutual
    * reinforcement that separates "appears in big diverse baskets"
    * from raw purchase count (q122's PageRank ranks a projected
    * unipartite graph; HITS ranks the two sides of the bipartite
    * structure directly, with no edge-projection blowup). Scores
    * live on a 2¹⁰ integer grid, re-normalized by the side's max
    * after every half-step (q188's discipline) — every pass is one
    * score join + map-side-combining agg over the edge list, and the
    * whole model is integer-exact so the oracle unrolls the identical
    * half-steps. The auth/hub score joins are [[sizeGated]], never
    * hard-hinted: the score tables are node-cardinality, so the gate
    * measures each checkpointed score frame and broadcasts only
    * under the session threshold (small graphs: the edge list never
    * shuffles; 10⁹-node cardinality: shuffle join co-partitioned
    * with edges — lpaRound's posture; a forced broadcast() per
    * half-step would driver-materialize the full score table 6× per
    * run regardless of size). The per-half-step checkpoint also
    * truncates the otherwise 6-deep nested plan. Only the 1-row max
    * frames keep an explicit broadcast — bounded at any scale.
    * PlanSpec pins the shuffle fallback with the threshold forced
    * to −1. */
  def q201HitsAuthority(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct().localCheckpoint(true)
    // r16: the gate cardinalities are LOOP-INVARIANT — every round's
    // hub table has exactly one row per distinct ok and the authority
    // table one per distinct pk (hitsHalfStep groups the edge list by
    // the out key, and the renorm is a projection). Measure them ONCE
    // here instead of checkpoint-and-count per half-step (sizeGated
    // 6×/run), and checkpoint once per ROUND instead of per
    // half-step: the event-log attribution showed q201 spending its
    // 10-14 s on ~26 sub-second barrier jobs, not on data. The join
    // posture is unchanged — countGated applies the identical
    // threshold test, so small graphs broadcast and the PlanSpec
    // threshold-off fallback still shuffle-joins.
    val pks = edges.select($"pk").distinct().localCheckpoint(true)
    val nPk = pks.count()
    val nOk = edges.select($"ok").distinct().count()
    var auth = pks.select($"pk", lit(1024L).as("av"))
    (1 to hitsRounds).foreach { i =>
      val h = hitsHalfStep(edges, countGated(auth, nPk), "pk", "ok", "av", "hv")
      val hn = renormToGrid(h, "ok", "hv")
      val a = hitsHalfStep(edges, countGated(hn, nOk), "ok", "pk", "hv", "av")
      auth = renormToGrid(a, "pk", "av")
      // one lineage cut per round (the last round's frame flows
      // straight into the final sort job)
      if (i < hitsRounds) auth = auth.localCheckpoint(true)
    }
    val out = auth.select($"pk".as("p_partkey"), $"av".as("authority_grid"))
      .orderBy($"p_partkey")
    edges.unpersist(blocking = false)
    out
  }

  /** One HITS half-step: join the edge list to the (keyCol, score)
    * table on keyCol, sum scores per outCol. Unhinted — see
    * [[q201HitsAuthority]]; split out so PlanSpec can pin the
    * threshold-gated join shape directly. */
  private[graft] def hitsHalfStep(edges: DataFrame, scores: DataFrame,
                                  keyCol: String, outCol: String,
                                  inScore: String, outScore: String): DataFrame =
    edges.join(scores, keyCol)
      .groupBy(col(outCol)).agg(sum(col(inScore)).as(outScore))

  /** Re-normalize a (key, score) frame onto the 2¹⁰ grid by its max —
    * the max is ONE row, so its broadcast cross join is bounded at
    * any scale and keeps the explicit hint. */
  private def renormToGrid(scores: DataFrame, keyCol: String,
                           scoreCol: String): DataFrame = {
    val m = scores.agg(max(col(scoreCol)).as("m"))
    scores.crossJoin(broadcast(m))
      .select(col(keyCol), expr(s"($scoreCol * 1024) div m").as(scoreCol))
  }

  private val q201Oracle = {
    val rounds = (1 to hitsRounds).map { i =>
      s"""h$i AS (
         |  SELECT ok, CAST(sum(av) AS BIGINT) AS hv
         |  FROM ed JOIN a${i - 1} USING (pk) GROUP BY 1),
         |hm$i AS (SELECT max(hv) AS m FROM h$i),
         |hn$i AS (SELECT ok, (hv * 1024) // m AS hv FROM h$i, hm$i),
         |ar$i AS (
         |  SELECT pk, CAST(sum(hv) AS BIGINT) AS av
         |  FROM ed JOIN hn$i USING (ok) GROUP BY 1),
         |am$i AS (SELECT max(av) AS m FROM ar$i),
         |a$i AS (SELECT pk, (av * 1024) // m AS av FROM ar$i, am$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH ed AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |a0 AS (SELECT DISTINCT pk, CAST(1024 AS BIGINT) AS av FROM ed),
       |$rounds
       |SELECT pk AS p_partkey, CAST(av AS BIGINT) AS authority_grid
       |FROM a$hitsRounds ORDER BY p_partkey""".stripMargin
  }

  // ---------------------------------------------------------------- q307
  /** Wedge centers with degree above this cap are skipped in q307's
    * candidate generation: a hub's 1/deg RA contribution is ≤ 1/65 ≈
    * noise while its wedge fan-out is deg² — the classic hub cut
    * that bounds per-node work, DISCLOSED rather than silent. */
  val raMaxCenterDegree = 64L

  /** Link prediction over the co-purchase graph: for non-adjacent
    * part pairs, common-neighbor count and the Resource Allocation
    * index RA(u,v) = Σ_z 1/deg(z) over shared neighbors z (Zhou,
    * Lü & Zhang 2009) — RA beats raw CN because a shared RARE
    * neighbor is evidence, a shared hub is not; chosen over
    * Adamic–Adar's 1/ln(deg) precisely because 1/deg stays EXACT in
    * integer micro (1/ln would re-open the float door the engine
    * keeps shut). The q195 recommender scores co-occurrence that
    * DID happen; this ranks pairs that haven't co-occurred YET —
    * "customers who buy u will likely buy v" for substitution/
    * assortment questions. Wedges come only from centers with
    * deg ≤ [[raMaxCenterDegree]] (fan-out deg², value 1/deg — the
    * cap trades ~0 score mass for a hard per-node work bound,
    * q65's maxGroupSize posture); candidates anti-join the edge set
    * (canonical u<v both sides) and the top-20 by (RA, CN, u, v)
    * bounds the report under a total order.
    *
    * Scale shape: adjacency + degree are one shuffle each; wedge
    * fan-out is cap²-bounded per center; candidate agg shuffles
    * (u,v) id pairs only — no payloads; top-20 is a
    * TakeOrderedAndProject, never a global sort. */
  def q307LinkPrediction(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    linkPredictionOf(coEdges(
      Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))))
  }

  /** The scorer on any canonical (u < v) edge frame — separated so
    * the spec can plant paths, squares, and an over-cap hub. */
  private[ops] def linkPredictionOf(edgesIn: DataFrame): DataFrame = {
    val s = edgesIn.sparkSession
    import s.implicits._
    // the scorer reads the edge frame seven times (adj×2 twice for
    // the wedge self-join, the degree pass, the anti-join) — behind
    // it sits coEdges' order-grain self-join + global distinct, far
    // too expensive to re-execute per reference. One cut, id pairs
    // only (q79's localCheckpoint idiom)
    val edges = edgesIn.localCheckpoint()
    val adj = edges.select($"u".as("z"), $"v".as("nbr"))
      .union(edges.select($"v".as("z"), $"u".as("nbr")))
    val deg = adj.groupBy($"z").agg(count(lit(1)).as("d"))
    val ctr = deg.where($"d" <= raMaxCenterDegree)
    // the cap joins BELOW the wedge self-join: a hub must be dropped
    // before it fans out deg² rows, not after — this is where the
    // "hard per-node work bound" the cap promises actually binds
    val adjC = adj.join(ctr, "z")
    val wedges = adjC
      .join(adjC.select($"z", $"nbr".as("nbr2")), "z")
      .where($"nbr" < $"nbr2")
      .select($"nbr".as("u"), $"nbr2".as("v"), $"d")
    wedges
      .join(edges, Seq("u", "v"), "left_anti")
      .groupBy($"u", $"v")
      .agg(count(lit(1)).as("cn"),
        sum(expr("1000000L div d")).as("ra_micro"))
      .orderBy($"ra_micro".desc, $"cn".desc, $"u", $"v")
      .limit(20)
  }

  private val q307Oracle =
    s"""WITH $edgesCte,
       |adj AS (SELECT u AS z, v AS nbr FROM edges
       |        UNION ALL SELECT v, u FROM edges),
       |deg AS (SELECT z, CAST(count(*) AS BIGINT) AS d
       |        FROM adj GROUP BY 1),
       |wedge AS (
       |  SELECT a.nbr AS u, b.nbr AS v, c.d
       |  FROM adj a JOIN adj b ON a.z = b.z AND a.nbr < b.nbr
       |  JOIN deg c ON a.z = c.z WHERE c.d <= $raMaxCenterDegree),
       |cand AS (
       |  SELECT w.u, w.v, CAST(count(*) AS BIGINT) AS cn,
       |    CAST(sum(1000000 // d) AS BIGINT) AS ra_micro
       |  FROM wedge w
       |  WHERE NOT EXISTS (SELECT 1 FROM edges e
       |                    WHERE e.u = w.u AND e.v = w.v)
       |  GROUP BY 1, 2)
       |SELECT u, v, cn, ra_micro FROM cand
       |ORDER BY ra_micro DESC, cn DESC, u, v LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q308
  /** Degree assortativity of the co-purchase graph — the one-number
    * "do hubs link to hubs?" structure readout (Newman 2002):
    * Pearson correlation of endpoint degrees over DIRECTED edge
    * instances (each undirected edge counted both ways, the standard
    * symmetrization). Negative = hub-and-spoke (popular parts
    * co-occur with niche ones — basket anchors), positive = tiered
    * mixing; it tells a partitioner whether degree-based placement
    * will balance. Exact q247 discipline end-to-end: integer-floored
    * mean centering, BIGINT centered sums in one map-side-combining
    * agg, the fixed-form floored sqrt, and a direct 10⁶ numerator
    * (cross-sums here cap at ~9·10¹² — beyond that re-grid via
    * q247's two-step 10³×10³ split); zero-variance frames (all
    * degrees equal) report the ±2·10⁶ out-of-band sentinel, never a
    * divide-by-zero. Floored-sqrt quotients can exceed |10⁶| on
    * TINY planted graphs (disclosed; vanishing at any real scale).
    *
    * Scale shape: degree agg, one broadcast of a 1-row means frame,
    * one centered-sums agg — two passes over edge ids, no sort, no
    * payloads. */
  def q308Assortativity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r15 probe: pinning the edge frame here measured NEUTRAL
    // (7.3 vs 7.4 s isolated at sf0.1) despite the 24-scan static
    // plan — AQE exchange reuse shares the pair-dedup shuffle across
    // all of adj's consumers at runtime. Left unpinned; see
    // OPTIMIZATION_r15.md.
    assortativityOf(coEdges(
      Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))))
  }

  /** The statistic on any canonical (u < v) edge frame — separated
    * so the spec can plant a disassortative star, an assortative
    * two-clique graph, and the equal-degree sentinel. */
  private[ops] def assortativityOf(edges: DataFrame): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val adj = edges.select($"u".as("z"), $"v".as("nbr"))
      .union(edges.select($"v".as("z"), $"u".as("nbr")))
    val deg = adj.groupBy($"z").agg(count(lit(1)).as("d"))
    val dir2 = adj
      .join(deg.select($"z", $"d".as("dx")), "z")
      .join(deg.select($"z".as("nbr"), $"d".as("dy")), "nbr")
      .select($"dx", $"dy")
    val means = dir2.agg(count(lit(1)).as("n"), sum($"dx").as("sx"))
    dir2.crossJoin(broadcast(means))
      .select(($"dx" - expr("sx div n")).as("x"),
        ($"dy" - expr("sx div n")).as("y"),
        $"n")
      .agg(max($"n").as("n_directed"),
        sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"),
        sum($"x" * $"y").as("sxy"))
      .select($"n_directed",
        expr("""CASE WHEN sxx = 0 OR syy = 0 THEN 2000000
          |  ELSE (1000000 * sxy) div
          |    (CAST(floor(sqrt(CAST(sxx AS DOUBLE))) AS BIGINT)
          |     * CAST(floor(sqrt(CAST(syy AS DOUBLE))) AS BIGINT))
          |END""".stripMargin).as("assortativity_ppm"))
  }

  private val q308Oracle =
    s"""WITH $edgesCte,
       |adj AS (SELECT u AS z, v AS nbr FROM edges
       |        UNION ALL SELECT v, u FROM edges),
       |deg AS (SELECT z, CAST(count(*) AS BIGINT) AS d
       |        FROM adj GROUP BY 1),
       |dir2 AS (
       |  SELECT dx.d AS dx, dy.d AS dy
       |  FROM adj a JOIN deg dx ON a.z = dx.z
       |             JOIN deg dy ON a.nbr = dy.z),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |             CAST(sum(dx) AS BIGINT) AS sx FROM dir2),
       |c AS (
       |  SELECT dx - (m.sx // m.n) AS x, dy - (m.sx // m.n) AS y, m.n
       |  FROM dir2, m),
       |agg AS (
       |  SELECT max(n) AS n_directed,
       |    CAST(sum(x * x) AS BIGINT) AS sxx,
       |    CAST(sum(y * y) AS BIGINT) AS syy,
       |    CAST(sum(x * y) AS BIGINT) AS sxy
       |  FROM c)
       |SELECT n_directed,
       |  CAST(CASE WHEN sxx = 0 OR syy = 0 THEN 2000000
       |    ELSE (1000000 * sxy) //
       |      (CAST(floor(sqrt(CAST(sxx AS DOUBLE))) AS BIGINT)
       |       * CAST(floor(sqrt(CAST(syy AS DOUBLE))) AS BIGINT))
       |  END AS BIGINT) AS assortativity_ppm
       |FROM agg""".stripMargin

  // ---------------------------------------------------------------- q320
  /** Modularity (Newman & Girvan 2004) of q143's LPA partition —
    * the "was that clustering any good?" number the community
    * queries have so far asserted only by spec: Q = Σ_c (e_c/m −
    * (d_c/2m)²), the intra-community edge share minus what a
    * degree-preserving random rewiring would put there. Q ≈ 0 means
    * the labels explain nothing (q143's output would be noise to a
    * partitioner); Q ≳ 0.3 is the conventional "real structure" bar.
    * Reported per community (its additive contribution in ppm, via
    * the exact-integer form (10⁶·(4m·e_c − d_c²)) div (4m²)) so the
    * reader sees WHICH communities carry the structure — the sum of
    * the column is Q. Per-community floors are mirrored by the
    * oracle; 10⁶·d_c² stays inside BIGINT to m ≈ 1.5×10⁶ edges —
    * a bigger graph drops the numerator to 10³ (q247's split,
    * disclosed not silent).
    *
    * Scale shape: re-runs q143's LPA (independent harness entries by
    * design, q301's precedent) on the checkpointed edge frame; then
    * degrees (one explode + agg), intra-edge counts (two label
    * joins), and a community-grain report — nothing after LPA
    * touches more than edge ids. The label joins are UNHINTED like
    * lpaOf's: node-cardinality sides broadcast only below
    * autoBroadcastJoinThreshold and shuffle co-partitioned above it
    * (the 100-TB posture, pinned by PlanSpec with the threshold
    * forced to −1). */
  def q320Modularity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    modularityOf(coEdges(
      Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))))
  }

  /** The readout on any canonical (u < v) edge frame — separated so
    * the spec can plant two cliques joined by a bridge (strong Q,
    * hand-computable) and a single clique (Q exactly ≤ 0: one
    * community holds every edge AND every degree). */
  private[ops] def modularityOf(edgesIn: DataFrame): DataFrame = {
    val s = edgesIn.sparkSession
    import s.implicits._
    val edges = edgesIn.localCheckpoint()
    // node-sized, read three times (degree roll-up + both endpoint
    // joins) — pin it so the LPA fixpoint beneath runs exactly once
    val labels = lpaOf(edges).withColumnRenamed("community", "c")
      .localCheckpoint()
    val m = edges.agg(count(lit(1)).as("m"))
    val deg = edges.select(explode(array($"u", $"v")).as("node"))
      .groupBy($"node").agg(count(lit(1)).as("d"))
    val dsum = deg
      .join(labels, "node")
      .groupBy($"c").agg(count(lit(1)).as("n_nodes"),
        sum($"d").as("d_sum"))
    val intra = edges
      .join(labels.select($"node".as("u"), $"c".as("cu")), "u")
      .join(labels.select($"node".as("v"), $"c".as("cv")), "v")
      .where($"cu" === $"cv")
      .groupBy($"cu".as("c")).agg(count(lit(1)).as("e_intra"))
    dsum.join(intra, Seq("c"), "left")
      .na.fill(0L, Seq("e_intra"))
      .crossJoin(broadcast(m))
      .select($"c".as("community"), $"n_nodes", $"d_sum", $"e_intra",
        expr("""(1000000 * (4 * m * e_intra - d_sum * d_sum))
               |  div (4 * m * m)""".stripMargin).as("q_contrib_ppm"))
      .orderBy($"community")
  }

  private val q320Oracle =
    s"""WITH $edgesCte,
       |$lpaCteBody,
       |lab AS (SELECT node, label AS c FROM l$lpaRounds),
       |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM edges),
       |deg AS (
       |  SELECT node, CAST(count(*) AS BIGINT) AS d
       |  FROM (SELECT unnest([u, v]) AS node FROM edges) GROUP BY 1),
       |ds AS (
       |  SELECT c, CAST(count(*) AS BIGINT) AS n_nodes,
       |    CAST(sum(d) AS BIGINT) AS d_sum
       |  FROM deg JOIN lab USING (node) GROUP BY 1),
       |ii AS (
       |  SELECT cu.c, CAST(count(*) AS BIGINT) AS e_intra
       |  FROM edges e JOIN lab cu ON e.u = cu.node
       |               JOIN lab cv ON e.v = cv.node
       |  WHERE cu.c = cv.c GROUP BY 1)
       |SELECT ds.c AS community, n_nodes, d_sum,
       |  COALESCE(e_intra, 0) AS e_intra,
       |  CAST((1000000 * (4 * mm.m * COALESCE(e_intra, 0)
       |                   - d_sum * d_sum))
       |    // (4 * mm.m * mm.m) AS BIGINT) AS q_contrib_ppm
       |FROM ds LEFT JOIN ii USING (c) CROSS JOIN mm
       |ORDER BY community""".stripMargin

  // ---------------------------------------------------------------- q321
  /** Local clustering coefficient (Watts & Strogatz 1998) summarized
    * by degree bucket — cc(v) = 2·tri(v)/(d(v)(d(v)−1)), the "are my
    * neighbors neighbors?" readout, reported as the mean over
    * log₂-degree buckets because the cc-vs-degree CURVE is the
    * actual diagnostic (flat = random-graph-like; falling ≈ 1/d =
    * hierarchical/modular — Ravasz & Barabási 2003). q136 gives raw
    * triangle counts; this normalizes each node by its wedge count
    * so hubs and leaves are comparable, and q320's one number gets
    * its structural explanation. Degree-1 nodes have no wedges and
    * no defined cc — excluded by grain (disclosed), not zero-filled.
    * The bucket is length(bin(d))−1 = ⌊log₂ d⌋, EXACT integer in
    * both engines (the ln-discipline: no float log anywhere);
    * per-node cc_ppm = (2·10⁶·tri) div (d(d−1)) with mirrored
    * floors, bucket mean = Σcc_ppm div n.
    *
    * Scale shape: one checkpointed edge frame feeds BOTH the degree
    * agg and q136's oriented wedge closure (√m-bounded fan-out) —
    * the expensive candidate machinery is shared, not re-derived;
    * the per-node frame is node-sized and the output is
    * ⌊log₂ d_max⌋ rows. */
  def q321ClusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    clusteringCoeffOf(coEdges(
      Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))))
  }

  /** The curve on any canonical (u < v) edge frame — separated so
    * the spec can plant a K4 (cc = 1 exactly), an open path
    * (cc = 0), and a degree-1 leaf (excluded, not zeroed). */
  private[ops] def clusteringCoeffOf(edgesIn: DataFrame): DataFrame = {
    val s = edgesIn.sparkSession
    import s.implicits._
    val edges = edgesIn.localCheckpoint()
    val deg = edges.select(explode(array($"u", $"v")).as("node"))
      .groupBy($"node").agg(count(lit(1)).as("d"))
    val tri = triangleCountsOnEdges(edges)
    deg.where($"d" >= 2L)
      .join(tri, Seq("node"), "left")
      .na.fill(0L, Seq("n_triangles"))
      .select((length(bin($"d")) - 1).cast("long").as("deg_bucket"),
        $"n_triangles",
        expr("(2000000 * n_triangles) div (d * (d - 1))").as("cc_ppm"))
      .groupBy($"deg_bucket")
      .agg(count(lit(1)).as("n_nodes"),
        sum($"n_triangles").as("n_triangles"),
        expr("sum(cc_ppm) div count(1)").as("mean_cc_ppm"))
      .orderBy($"deg_bucket")
  }

  private val q321Oracle =
    s"""WITH $edgesCte,
       |tris AS (
       |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |  FROM edges e1 JOIN edges e2 ON e1.v = e2.u
       |  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v),
       |credit AS (SELECT unnest([a, b, c]) AS node FROM tris),
       |tn AS (SELECT node, CAST(count(*) AS BIGINT) AS t
       |       FROM credit GROUP BY 1),
       |deg AS (
       |  SELECT node, CAST(count(*) AS BIGINT) AS d
       |  FROM (SELECT unnest([u, v]) AS node FROM edges) GROUP BY 1),
       |per AS (
       |  SELECT CAST(length(bin(d)) - 1 AS BIGINT) AS deg_bucket,
       |    COALESCE(t, 0) AS t,
       |    (2000000 * COALESCE(t, 0)) // (d * (d - 1)) AS cc_ppm
       |  FROM deg LEFT JOIN tn USING (node) WHERE d >= 2)
       |SELECT deg_bucket, CAST(count(*) AS BIGINT) AS n_nodes,
       |  CAST(sum(t) AS BIGINT) AS n_triangles,
       |  CAST(sum(cc_ppm) // count(*) AS BIGINT) AS mean_cc_ppm
       |FROM per GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q348
  /** Fellegi–Sunter field weights in micro-nats, precomputed as
    * LITERALS so neither engine evaluates a logarithm at query time
    * (the q125 float-op-at-build-time discipline taken to zero
    * query-time float ops). Name field: m=0.9, u=0.1 →
    * agree ln(9), disagree ln(1/9); balance-band field: m=0.7,
    * u=0.2 → agree ln(3.5), disagree ln(0.3/0.8). */
  val fsNameAgree   = 2197224L
  val fsNameDis     = -2197224L
  val fsBalAgree    = 1252763L
  val fsBalDis      = -980829L
  /** Decision thresholds (micro-nats): ≥ upper ⇒ match, ≥ lower ⇒
    * possible (clerical review), else reject. */
  val fsUpper = 2000000L
  val fsLower = 0L

  /** Fellegi–Sunter probabilistic record linkage (JASA 1969) over
    * the customer vocabulary — the SCORING layer q132's
    * edit-distance matcher lacks: each candidate pair gets a
    * log-likelihood-ratio score summed from per-field
    * agree/disagree weights (how much more likely this agreement
    * pattern is under "same entity" than under "random pair"), and
    * the score maps to match / possible / reject bands — the
    * three-way decision rule the original paper proves optimal.
    * Fields: name agreement = Levenshtein ≤ 1, balance agreement =
    * same [[PrivacyOps.balBand]]-width band. Blocking on
    * (nation, segment) bounds candidates exactly like q132 — the
    * blocked fields agree by construction and carry no weight
    * (disclosed; a production linker scores them from held-out
    * m/u estimates instead of excluding them).
    *
    * Scale shape: pairs form INSIDE (nation × segment) blocks via a
    * broadcast self-join of the block-keyed name vocabulary —
    * candidate volume is Σ|block|²/2, never n²/2; weights are a pure
    * projection; the band is a literal threshold compare. All
    * integer micro-nats end-to-end. */
  def q348FellegiSunter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    fsPairsOf(Tables.customer(s, dir)
      .select($"c_custkey", $"c_name", $"c_nationkey".cast("long").as("nat"),
        $"c_mktsegment".as("seg"),
        floor($"c_acctbal" / PrivacyOps.balBand).cast("long").as("bb")))
  }

  /** The scoring on any (c_custkey, c_name, nat, seg, bb) frame —
    * separated so the spec can plant pairs whose agreement pattern
    * puts them in each band by hand-summed weights. */
  private[ops] def fsPairsOf(cust: DataFrame): DataFrame = {
    val s = cust.sparkSession
    import s.implicits._
    val a = cust.select($"nat", $"seg", $"c_custkey".as("id_a"),
      $"c_name".as("name_a"), $"bb".as("bb_a"))
    val b = cust.select($"nat", $"seg", $"c_custkey".as("id_b"),
      $"c_name".as("name_b"), $"bb".as("bb_b"))
    a.join(broadcast(b), Seq("nat", "seg"))
      .where($"id_a" < $"id_b")
      .select($"id_a", $"id_b",
        // r15: threshold form = banded edit distance (O(3·len) at
        // k = 1 instead of the full len² table); ≥ 0 ⟺ dist ≤ 1.
        // Measured 6.1/6.1 → 4.1/3.5 s isolated at sf0.1 (the query
        // is levenshtein-bound: every blocked pair pays the compare
        // whether it agrees or not).
        (when(levenshtein($"name_a", $"name_b", 1) >= 0, fsNameAgree)
          .otherwise(fsNameDis) +
         when($"bb_a" === $"bb_b", fsBalAgree).otherwise(fsBalDis))
          .as("score_micro"))
      .withColumn("band",
        when($"score_micro" >= fsUpper, "match")
          .when($"score_micro" >= fsLower, "possible")
          .otherwise("reject"))
      .where($"band" =!= "reject") // reject pairs are the ocean; never emit
      .orderBy($"id_a", $"id_b")
  }

  private val q348Oracle =
    s"""WITH c AS (
       |  SELECT c_custkey, c_name, CAST(c_nationkey AS BIGINT) AS nat,
       |    c_mktsegment AS seg,
       |    CAST(floor(c_acctbal / ${PrivacyOps.balBand}) AS BIGINT) AS bb
       |  FROM customer),
       |p AS (
       |  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       |    CAST(CASE WHEN levenshtein(a.c_name, b.c_name) <= 1
       |      THEN $fsNameAgree ELSE $fsNameDis END
       |    + CASE WHEN a.bb = b.bb THEN $fsBalAgree ELSE $fsBalDis END
       |      AS BIGINT) AS score_micro
       |  FROM c a JOIN c b ON a.nat = b.nat AND a.seg = b.seg
       |    AND a.c_custkey < b.c_custkey)
       |SELECT id_a, id_b, score_micro,
       |  CASE WHEN score_micro >= $fsUpper THEN 'match'
       |       WHEN score_micro >= $fsLower THEN 'possible'
       |       ELSE 'reject' END AS band
       |FROM p
       |WHERE score_micro >= $fsLower
       |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- q376
  /** HyperBall / ANF — the approximate neighborhood function (Palmer
    * et al. 2002; Boldi & Vigna 2013): per hop radius h, how many
    * (node, reachable-node) pairs exist within h hops, estimated with
    * ONE 16-register HLL ball per node instead of materializing
    * reachability sets (exact N(h) needs per-node visited sets —
    * O(|V|²) state in the worst case; at 100-TB graph scale the
    * sketch is the only game). The growth curve N(0)..N(3) and its
    * per-hop ratio IS the effective-diameter readout: the h where
    * growth flattens is where the graph ends.
    *
    * Mechanics: ball(n, 0) = {n} as an HLL register vector; each
    * round max-merges every neighbor's ball into the node's own —
    * register max is insert-idempotent and commutes, so rounds
    * shuffle-join state co-partitioned with edges keyed on the node
    * (q143's shuffle-not-broadcast posture; state lives in the
    * frame, never a driver structure). The LAYOUT is the measured
    * point: registers as 16 COLUMNS of one row per node, not 16
    * rows — the relational (node, reg, rho) layout multiplied every
    * propagated edge by the register count (|E|·16 rows/round,
    * measured 18 s/round at sf0.1); the packed row moves |E| rows
    * and merges with 16 column-maxes in one map-side-combining agg
    * (~2 s/round, 8×). Rounds also propagate only nodes whose state
    * CHANGED last round (Boldi & Vigna's systolic sieve at node
    * grain — an unchanged ball was already delivered): a node-sized
    * anti-join per round buys shrinking work as balls saturate. The
    * oracle replays the PLAIN full row-grain max-merge recurrence
    * (the semantics), so the hash proves both the packed layout and
    * the delta sieve transparent — q136's naive-oracle discipline.
    *
    * Estimator: q170's exact-BIGINT harmonic-sum form at m = 16
    * geometry (α₁₆ = 0.673, 56-bit payload ⇒ max rank 57), raw /
    * linear-counting switch per node, per-node floors summed to the
    * corpus N(h) — every float step a fixed-order expression shared
    * with the oracle. Isolated parts (never co-ordered) carry no
    * edge and are excluded, disclosed. */
  val hbRegisters = 16
  val hbMaxRho = 57
  val hbAlphaPpm = 673000L
  val hbRounds = 3

  def q376HyperballAnf(s: SparkSession, dir: String): DataFrame =
    hyperballOf(s, coEdges(Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))))

  private[ops] def hyperballOf(s: SparkSession, edgesIn: DataFrame): DataFrame = {
    import s.implicits._
    val m = hbRegisters
    // pre-partition on the propagation key: localCheckpoint preserves
    // the partitioning in the LogicalRDD, so each round's edge⋈delta
    // join re-exchanges only the (small, shrinking) delta side
    val dedges = edgesIn.select($"u".as("src"), $"v".as("dst"))
      .union(edgesIn.select($"v".as("src"), $"u".as("dst")))
      .repartition($"src")
      .localCheckpoint(true)
    val nodes = dedges.select($"src".as("node")).distinct()
      .localCheckpoint(true)
    val regCols = (0 until m).map(i => s"r$i")
    // ball(n, 0): the node's own 60-bit hash → the packed 16-column
    // register vector (r_i = rho if the hash lands in register i)
    val init = nodes.select($"node",
      conv(substring(md5(concat(lit("hb:"), $"node".cast("string"))), 1, 15),
        16, 10).cast("long").as("hv"))
      .select(
        ($"node" +: regCols.zipWithIndex.map { case (c, i) =>
          when(($"hv" % m) === i,
            when(expr(s"hv div $m") === 0L, lit(hbMaxRho.toLong))
              .otherwise(expr(
                s"CAST(round(log2((hv div $m) & -(hv div $m))) AS BIGINT) + 1")))
            .otherwise(0L).as(c)
        }): _*)
      .localCheckpoint(true)
    // nf(h) = Σ_node floor(est(ball_h(node))) — a pure projection
    // over the packed row (absent register ≡ rho 0, exactly the
    // oracle's dense-spine zero), then one global sum
    val zsumExpr = regCols.map(c =>
      s"shiftleft(CAST(1 AS BIGINT), CAST($hbMaxRho - $c AS INT))")
      .mkString(" + ")
    val vExpr = regCols.map(c => s"(CASE WHEN $c = 0 THEN 1 ELSE 0 END)")
      .mkString(" + ")
    // (nf, grew-count) in ONE aggregate job: est per node over the
    // state's register columns exactly as before, plus the sum of a
    // 0/1 "any register grew" flag — the delta-emptiness probe rides
    // the aggregate the round already pays for, so the early exit
    // below costs zero extra jobs
    def nfAndGrew(state: DataFrame, grewFlag: Column): (Long, Long) = {
      val row = state
        .select(expr(s"CAST($zsumExpr AS BIGINT)").as("zsum"),
          expr(s"CAST($vExpr AS BIGINT)").as("v"), grewFlag.as("_grew"))
        .select(
          expr(s"""CAST(floor(CAST(${hbAlphaPpm * m * m} AS DOUBLE)
            |  * 144115188075855872.0 / CAST(zsum AS DOUBLE) / 1000000.0)
            |  AS BIGINT)""".stripMargin).as("raw_est"), $"v", $"_grew")
        .select(
          when($"raw_est" <= lit((5L * m) / 2) && $"v" > 0L,
            expr(s"CAST(floor(${m}.0D * ln(${m}.0D / CAST(v AS DOUBLE))) AS BIGINT)"))
            .otherwise($"raw_est").as("est"), $"_grew")
        .agg(sum($"est"), sum($"_grew")).head()
      (row.getLong(0), row.getLong(1))
    }
    def nfOf(state: DataFrame): Long = nfAndGrew(state, lit(0L))._1
    var merged = init
    var delta = init
    val nf = scala.collection.mutable.ArrayBuffer(nfOf(init))
    // r15 round shape: the old body unioned the FULL state into the
    // pushed stream and re-aggregated (merged ∪ pushed groupBy node)
    // — re-shuffling every ball every round even though merged is
    // already hash(node)-partitioned from the previous round's agg —
    // and then found the delta with a 17-column anti-join plus a
    // second checkpoint. Now only the pushed delta aggregates (the
    // one shuffle a systolic round fundamentally needs); the merge is
    // a co-partitioned left-outer join + per-register greatest()
    // (register max is exactly max-merge; an unmatched node keeps its
    // ball via coalesce 0), and the delta falls out of the SAME
    // joined frame as "any register grew" — no anti-join, one
    // checkpoint per round instead of two. Wall time at sf0.1 is
    // NEUTRAL (12.2/15.8 vs 12.7/13.0 s isolated — node-grain state
    // is a few MB here) — the win is shuffle BYTES at scale: the
    // full register table no longer crosses the network every round
    // (plan-verified: the merged side stays an ExistingRDD scan with
    // no Exchange above it; the delta agg broadcasts below the
    // session threshold and shuffle-joins above it). Identical
    // estimator inputs; the oracle's plain row-grain recurrence is
    // unchanged.
    // r16: empty-delta early exit (the q200/q393 fixpoint device).
    // Once no register grew in a round, merged is a fixpoint of the
    // push+max-merge map — push(∅) = ∅ and greatest(c, 0) = c — so
    // every remaining round would recompute the identical state and
    // the identical nf. Append the constant instead of running the
    // join/checkpoint/agg. The emptiness signal is the grew-count the
    // per-round aggregate already computes (see nfAndGrew) — the
    // saturated case is detected for free, and an unsaturated run
    // does exactly the same jobs as before.
    var saturated = false
    for (_ <- 1 to hbRounds) {
      if (saturated) nf += nf.last
      else {
        val pushed = dedges.join(
          delta.withColumnRenamed("node", "src"), "src")
          .select(($"dst".as("node") +: regCols.map(col)): _*)
        val maxes = regCols.map(c => max(col(c)).as(s"p$c"))
        val pAgg = pushed.groupBy($"node").agg(maxes.head, maxes.tail: _*)
        val joined = merged.join(pAgg, Seq("node"), "left_outer")
          .localCheckpoint(true)
        // NULL p$c (no push reached the node) propagates to FALSE in
        // the grew predicate, exactly the delta sieve's null-drop
        // intent (see the r15 note on the filter below)
        val grew = regCols.map(c => col(s"p$c") > col(c)).reduce(_ || _)
        val mergedCols = regCols.map(c =>
          greatest(col(c), coalesce(col(s"p$c"), lit(0L))).as(c))
        val next = joined.select(($"node" +: mergedCols): _*)
        delta = joined.where(grew).select(($"node" +: mergedCols): _*)
        merged = next
        // the grew flag is projected HERE, while the old registers and
        // the p$c push columns are both still in scope — the merged
        // projection renames the registers, so evaluating grew after
        // it would compare the push against the already-merged value
        // (always false) instead of against the pre-merge state
        val (nfv, grewCnt) = nfAndGrew(
          joined.select((mergedCols :+
            when(grew, lit(1L)).otherwise(lit(0L)).as("_g")): _*),
          col("_g"))
        nf += nfv
        saturated = grewCnt == 0L
      }
    }
    val rows = nf.toSeq.zipWithIndex.map { case (v, h) =>
      (h.toLong, v,
        if (h == 0) -1L else 1000000L * v / nf(h - 1))
    }
    s.createDataFrame(rows).toDF("hops", "reach_est", "growth_ppm")
      .orderBy($"hops")
  }

  private lazy val q376Oracle = {
    val m = hbRegisters
    // full (non-delta) max-merge recurrence, one CTE pair per round
    val rounds = (1 to hbRounds).map { h =>
      s"""r$h AS (
         |  SELECT node, reg, max(rho) AS rho FROM (
         |    SELECT node, reg, rho FROM r${h - 1}
         |    UNION ALL
         |    SELECT d.dst AS node, r.reg, r.rho
         |    FROM dedges d JOIN r${h - 1} r ON r.node = d.src)
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    // per-round estimator chain: dense spine → per-node est → Σ
    val nfs = (0 to hbRounds).map { h =>
      s"""dense$h AS (
         |  SELECT s.node, s.reg, COALESCE(r.rho, 0) AS rho
         |  FROM spine s LEFT JOIN r$h r ON s.node = r.node AND s.reg = r.reg),
         |agg$h AS (
         |  SELECT node,
         |    CAST(sum(CAST(1 AS BIGINT) << CAST($hbMaxRho - rho AS INT)) AS BIGINT)
         |      AS zsum,
         |    CAST(sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v
         |  FROM dense$h GROUP BY 1),
         |est$h AS (
         |  SELECT node,
         |    CASE WHEN raw_est <= ${(5L * m) / 2} AND v > 0
         |      THEN CAST(floor($m.0 * ln($m.0 / CAST(v AS DOUBLE))) AS BIGINT)
         |      ELSE raw_est END AS est
         |  FROM (SELECT node,
         |    CAST(floor(CAST(${hbAlphaPpm * m * m} AS DOUBLE)
         |      * 144115188075855872.0 / CAST(zsum AS DOUBLE) / 1000000.0)
         |      AS BIGINT) AS raw_est, v
         |    FROM agg$h)),
         |nf$h AS (SELECT CAST(sum(est) AS BIGINT) AS nf FROM est$h)"""
        .stripMargin
    }.mkString(",\n")
    val finals = (0 to hbRounds).map { h =>
      val growth =
        if (h == 0) "CAST(-1 AS BIGINT)"
        else s"(1000000 * (SELECT nf FROM nf$h)) // (SELECT nf FROM nf${h - 1})"
      s"""SELECT CAST($h AS BIGINT) AS hops,
         |  (SELECT nf FROM nf$h) AS reach_est, $growth AS growth_ppm"""
        .stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH $edgesCte,
       |dedges AS (
       |  SELECT u AS src, v AS dst FROM edges
       |  UNION ALL SELECT v AS src, u AS dst FROM edges),
       |nodes AS (SELECT DISTINCT src AS node FROM dedges),
       |spine AS (SELECT node, r.range AS reg FROM nodes, range($m) r),
       |r0 AS (
       |  SELECT node, hv % $m AS reg,
       |    CASE WHEN hv // $m = 0 THEN $hbMaxRho
       |      ELSE CAST(round(log2((hv // $m) & -(hv // $m))) AS BIGINT) + 1 END
       |      AS rho
       |  FROM (
       |    SELECT node,
       |      ('0x' || substr(md5('hb:' || CAST(node AS VARCHAR)), 1, 15))::BIGINT
       |        AS hv
       |    FROM nodes)),
       |$rounds,
       |$nfs
       |$finals
       |ORDER BY hops""".stripMargin
  }

  // ---------------------------------------------------------------- q378
  /** Rank-1 ALS matrix factorization over the (user × event-type)
    * count matrix — the collaborative-filtering primitive (Koren et
    * al. 2009; Zhou et al. 2008's distributed-ALS shape) and the
    * fourth from-scratch distributed learner (q352 logistic GD, q353
    * NB, q361 boosted stumps): R ≈ u·vᵀ by alternating exact
    * least-squares closed forms. q195 scores item pairs that
    * co-occurred; a factor model generalizes to pairs that never did.
    *
    * Each half-step is ONE closed-form division per entity from one
    * join-agg pass over the OBSERVED cells: u_j = Σ R·v / Σ v² over
    * the items user j touched (alternating-ls on observed entries,
    * not implicit zeros), then symmetrically for v. All arithmetic
    * exact BIGINT in milli fixed point — u_milli = 10⁶·Σ(R·v_milli)
    * div Σ(v_milli²) — with per-round SSE in milli² units sized so
    * BIGINT holds at any corpus scale (headroom stated inline);
    * truncating division is the q172-verified shared convention, so
    * the whole trajectory is hash-oracle-able where float ALS isn't.
    *
    * Scale shape: the events stream reduces ONCE to (user, item)
    * cells (map-side combining agg) and localCheckpoints; each
    * half-step is a broadcast of the ITEM-cardinality factor table
    * into the cell frame plus one partial agg to entity grain — the
    * user-factor frame never broadcasts (it is corpus-sized; the
    * item update joins it BY KEY, q143's shuffle posture). Rounds
    * are a fixed hyperparameter, model state lives in frames.
    * Output: the item-factor trajectory with per-round SSE (monotone
    * nonincreasing under exact alternation up to the fixed-point
    * floor — spec-pinned on the sf corpus). */
  val alsRounds = 2

  def q378Rank1Als(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    rank1AlsOf(Tables.events(s, dir)
      .groupBy($"user_id".as("uid"), $"event_type".as("item"))
      .agg(count(lit(1)).as("r")))
  }

  private[ops] def rank1AlsOf(cellsIn: DataFrame): DataFrame = {
    val s = cellsIn.sparkSession
    import s.implicits._
    val cells = cellsIn.localCheckpoint(true)
    var items = cells.select($"item").distinct()
      .select($"item", lit(1000L).as("v"))
      .localCheckpoint(true)
    val out = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (r <- 1 to alsRounds) {
      // user half-step: u = 10⁶·Σ(R·v) div Σ(v²)  [milli units]
      val users = cells.join(broadcast(items), "item")
        .groupBy($"uid")
        .agg(sum($"r" * $"v").as("num"), sum($"v" * $"v").as("den"))
        .select($"uid", expr("(1000000 * num) div den").as("u"))
        .localCheckpoint(true)
      // item half-step: v = 10⁶·Σ(R·u) div Σ(u²) — cells join users
      // BY KEY (user-sized frame, never broadcast), agg to item grain
      val withU = cells.join(users, "uid").localCheckpoint(true)
      items = withU
        .groupBy($"item")
        .agg(sum($"r" * $"u").as("num"), sum($"u" * $"u").as("den"))
        .select($"item", expr("(1000000 * num) div den").as("v"))
        .localCheckpoint(true)
      // SSE in milli² units: (R·10³ − (u·v) div 10³)² summed — per
      // cell ≤ ~(10⁵)² = 10¹⁰, so BIGINT survives ~10⁸ cells
      val sse = withU.join(broadcast(items), "item")
        .select(expr(
          """CAST((r * 1000 - (u * v) div 1000)
            |  * (r * 1000 - (u * v) div 1000) AS BIGINT)""".stripMargin)
          .as("e2"))
        .agg(sum($"e2")).head().getLong(0)
      out += items.select(lit(r.toLong).as("round"), $"item",
        $"v".as("v_milli"), lit(sse).as("sse_milli2"))
    }
    out.reduce(_ unionByName _).orderBy($"round", $"item")
  }

  private lazy val q378Oracle = {
    val rounds = (1 to alsRounds).map { r =>
      val prevV = if (r == 1) "i0" else s"i${r - 1}"
      s"""u$r AS (
         |  SELECT uid, (1000000 * CAST(sum(c.r * v.v) AS BIGINT))
         |    // CAST(sum(v.v * v.v) AS BIGINT) AS u
         |  FROM cells c JOIN $prevV v USING (item) GROUP BY uid),
         |i$r AS (
         |  SELECT item, (1000000 * CAST(sum(c.r * u.u) AS BIGINT))
         |    // CAST(sum(u.u * u.u) AS BIGINT) AS v
         |  FROM cells c JOIN u$r u USING (uid) GROUP BY item),
         |sse$r AS (
         |  SELECT CAST(sum((c.r * 1000 - (u.u * v.v) // 1000)
         |    * (c.r * 1000 - (u.u * v.v) // 1000)) AS BIGINT) AS sse
         |  FROM cells c JOIN u$r u USING (uid) JOIN i$r v USING (item))"""
        .stripMargin
    }.mkString(",\n")
    val finals = (1 to alsRounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round, item, v AS v_milli,
         |  (SELECT sse FROM sse$r) AS sse_milli2 FROM i$r""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH cells AS (
       |  SELECT user_id AS uid, event_type AS item,
       |    CAST(count(*) AS BIGINT) AS r
       |  FROM events GROUP BY 1, 2),
       |i0 AS (SELECT DISTINCT item, CAST(1000 AS BIGINT) AS v FROM cells),
       |$rounds
       |$finals
       |ORDER BY round, item""".stripMargin
  }

  // ---------------------------------------------------------------- q393
  /** Truss order: every surviving edge must sit in ≥ k−2 triangles
    * among surviving edges. 12 peels the sf0.01 co-purchase graph
    * 115,729 → 1,127 edges with fixpoint at round 5 — both branches
    * live with margin. */
  val kTrussK = 12

  /** Peel rounds — fixture fixpoint is 5, the margin rounds are
    * no-ops (peeling is idempotent at fixpoint, the q200 device that
    * lets the Spark loop and the unrolled oracle run the SAME fixed
    * count and stay hash-identical). */
  val kTrussRounds = 8

  /** k-truss decomposition by iterative EDGE peeling — the
    * cohesion filter one tier stronger than q200's k-core: a core
    * survives on degree (any star qualifies), a truss requires every
    * edge to close ≥ k−2 triangles among SURVIVING edges, so
    * tree-like spokes can never ride along. Deletions cascade the
    * same way (removing a weak edge removes the triangles it closed
    * — the spec plants a triangle chain where the shared edge
    * survives round 1 and dies in round 2, the case a one-shot
    * support threshold gets wrong).
    *
    * Per round: triangles enumerate over the alive edge set via the
    * q136 degree-oriented wedge closure (each triangle found exactly
    * once, wedge fan-out O(√m) per node), explode to their three
    * canonical edges, one count per edge, keep support ≥ k−2 (an
    * edge in NO triangle never reaches the support frame — dropped
    * by construction). All loop state is the edge-grain alive set,
    * checkpointed per round; nothing node-quadratic ever
    * materializes. The oracle unrolls the same rounds with the
    * naive triple join — different enumeration, identical edges. */
  def q393Ktruss(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ktrussOf(coEdges(Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))), kTrussK)
      .orderBy($"u", $"v")
  }

  /** Edge supports within an alive canonical (u < v) edge frame:
    * oriented wedge closure → triangle triples → 3 canonical edges
    * each → count. Degree joins are [[sizeGated]] — measured
    * broadcast with shuffle fallback, same reasoning as
    * [[triangleCountsOnEdges]]. */
  private[graft] def trussSupportsOnEdges(edges: DataFrame): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val deg = sizeGated(edges.select(explode(array($"u", $"v")).as("node"))
      .groupBy($"node").agg(count(lit(1)).as("d")))
    val or = edges
      .join(deg.select($"node".as("u"), $"d".as("du")), "u")
      .join(deg.select($"node".as("v"), $"d".as("dv")), "v")
      .select(
        when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"),
          struct($"u".as("s"), $"v".as("t")))
          .otherwise(struct($"v".as("s"), $"u".as("t"))).as("e"))
      .select($"e.s", $"e.t")
    val wedges = or.select($"s", $"t".as("t1"))
      .join(or.select($"s", $"t".as("t2")), Seq("s")).where($"t1" < $"t2")
      .select($"s", $"t1".as("u"), $"t2".as("v"))
    wedges.join(edges, Seq("u", "v"))
      .select(explode(array(
        struct($"u", $"v"),
        struct(least($"s", $"u").as("u"), greatest($"s", $"u").as("v")),
        struct(least($"s", $"v").as("u"), greatest($"s", $"v").as("v"))))
        .as("e"))
      .groupBy($"e.u", $"e.v").agg(count(lit(1)).as("support"))
  }

  /** The peel on any canonical (u < v) edge frame — separated so the
    * spec can plant the K4-keeps / pendant-triangle-peels graph and
    * the two-round cascade. */
  private[ops] def ktrussOf(edgesIn: DataFrame, k: Int): DataFrame = {
    val s = edgesIn.sparkSession
    import s.implicits._
    var alive = edgesIn.select($"u", $"v").localCheckpoint(true)
    var aliveCount = alive.count()
    var sup: DataFrame = null
    // Fixpoint early-exit: the alive set only ever SHRINKS (round
    // i+1 keeps a subset of round i's edges), so an unchanged count
    // means an unchanged set — further rounds are idempotent no-ops
    // (the q200 device the unrolled oracle relies on), and the
    // support frame from the converged round IS the final answer.
    // The fixture converges at round 5 of 8; at 100-TB scale this
    // saves whole peel rounds, each of which is a full wedge
    // closure over the surviving edges.
    var round = 0
    var stable = false
    while (round < kTrussRounds && !stable) {
      sup = trussSupportsOnEdges(alive)
      alive = sup.where($"support" >= k - 2).select($"u", $"v")
        .localCheckpoint(true)
      val next = alive.count()
      stable = next == aliveCount
      aliveCount = next
      round += 1
    }
    // No per-round unpersist: Dataset.unpersist only drops
    // cache-manager entries and does NOT free localCheckpoint RDD
    // blocks, so calling it here would be a misleading no-op — and
    // `sup` (read below) still references the round-7 checkpoint.
    // The alive sets are edge-grain and bounded by the peel
    // (monotonically shrinking); the harness's session-level
    // getPersistentRDDs cleanup frees the blocks after the action.
    sup.where($"support" >= k - 2)
  }

  private val q393Oracle = {
    val k = kTrussK
    val rounds = (1 to kTrussRounds).map { i =>
      s"""t$i AS (
         |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |  FROM a${i - 1} e1 JOIN a${i - 1} e2 ON e1.v = e2.u
         |  JOIN a${i - 1} e3 ON e3.u = e1.u AND e3.v = e2.v),
         |s$i AS (
         |  SELECT u, v, CAST(count(*) AS BIGINT) AS support
         |  FROM (SELECT a AS u, b AS v FROM t$i
         |        UNION ALL SELECT b, c FROM t$i
         |        UNION ALL SELECT a, c FROM t$i)
         |  GROUP BY 1, 2),
         |a$i AS MATERIALIZED (
         |  SELECT u, v FROM s$i WHERE support >= $k - 2)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesCte,
       |a0 AS MATERIALIZED (SELECT u, v FROM edges),
       |$rounds
       |SELECT u, v, support FROM s$kTrussRounds WHERE support >= $k - 2
       |ORDER BY u, v""".stripMargin
  }

  // ---------------------------------------------------------------- q493
  /** [NS] PREFERENCE-DATA TRANSITIVITY AUDIT — the consistency gate
    * RLHF/DPO pair collection needs before training a reward model:
    * how many CYCLIC TRIADS (a≻b, b≻c, c≻a) does the labeled
    * tournament contain? Annotator noise shows up exactly here —
    * Bradley–Terry (q443) fits strengths ASSUMING near-transitivity;
    * this operator measures whether that assumption holds.
    *
    * The scale shape is the whole point: triads are O(n³) and are
    * NEVER materialized. For a complete antisymmetric tournament,
    * Kendall's identity prices the census at out-degrees alone —
    * cyclic = C(n,3) − Σᵢ C(winsᵢ, 2) — so the plan is ONE scan of
    * the pair set (the data RLHF collection already has), one
    * hash-agg to per-item win counts, and a two-term fold. At 100 TB
    * of preference pairs that is a groupBy and arithmetic; the n³
    * triad space is touched by algebra, not by the engine.
    *
    * Two planted arms pin the math end-to-end: `ordered` (lower id
    * always wins — perfectly transitive) must census to EXACTLY zero
    * cycles, while `hashed` (winner = md5 parity per pair, an
    * adversarially inconsistent annotator) sits near the random
    * tournament's expected 25% of triads. Both engines compute the
    * same md5 parity digit-for-digit, all arithmetic exact BIGINT. */
  def q493PreferenceCycles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val items = Tables.part(s, dir).where($"p_partkey" % 7 === 1)
      .select($"p_partkey".cast("long").as("id"))
    val pairs = items.as("a").crossJoin(items.as("b"))
      .where(col("a.id") < col("b.id"))
      .select(col("a.id").as("lo"), col("b.id").as("hi"))
      .withColumn("par", expr(
        "cast(conv(substring(md5(concat(cast(lo as string), '~', " +
          "cast(hi as string))), 1, 4), 16, 10) as bigint) % 2"))
    val nDf = items.agg(count(lit(1)).as("n"))
    // BOTH tournament arms' winner keys are projections of the same
    // pair row, so the pair set streams through ONE scan — explode to
    // (variant, winner) and hash-agg — instead of materializing the
    // O(n²) fixture pairs (the earlier eager checkpoint was ~10 GB of
    // executor storage at 100× items). In production the pair set IS
    // the input table and this is simply its single read.
    val sumC2 = pairs.select(explode(array(
        struct(lit("hashed").as("variant"),
          when($"par" === 0, $"lo").otherwise($"hi").as("w")),
        struct(lit("ordered").as("variant"), $"lo".as("w")))).as("e"))
      .select($"e.variant".as("variant"), $"e.w".as("w"))
      .groupBy($"variant", $"w").agg(count(lit(1)).as("wins"))
      .groupBy($"variant").agg(coalesce(
        sum(expr("wins * (wins - 1) div 2")), lit(0L)).as("sum_c2"))
    // both variant rows must exist even on an EMPTY pair set (< 2
    // items): the grouped agg yields zero rows there, while the
    // oracle's ungrouped aggregates always emit both
    val variants = Seq("hashed", "ordered").toDF("variant")
      .join(sumC2, Seq("variant"), "left")
      .select($"variant", coalesce($"sum_c2", lit(0L)).as("sum_c2"))
    nDf.crossJoin(variants).select(
      $"variant",
      $"n".as("n_items"),
      expr("n * (n - 1) * (n - 2) div 6 - sum_c2").as("cyclic_triads"),
      // overflow-safe ppm: cyclic x 1e6 exceeds BIGINT once C(n,3)
      // passes ~9e12 (n ~ 60k items), so large totals switch to the
      // divide-the-denominator form -- both engines compute the SAME
      // integer formula, so the metric stays hash-exact at any SF
      expr("CASE WHEN n * (n - 1) * (n - 2) div 6 < 1000000 THEN " +
        "(n * (n - 1) * (n - 2) div 6 - sum_c2) * 1000000 div " +
        "greatest(1L, n * (n - 1) * (n - 2) div 6) ELSE " +
        "(n * (n - 1) * (n - 2) div 6 - sum_c2) div " +
        "(n * (n - 1) * (n - 2) div 6 div 1000000) END")
        .as("cyclic_ppm"))
      .orderBy($"variant")
  }

  private val q493Oracle =
    """WITH items AS (
      |  SELECT CAST(p_partkey AS BIGINT) AS id FROM part
      |  WHERE p_partkey % 7 = 1),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM items),
      |pr AS (
      |  SELECT a.id AS lo, b.id AS hi,
      |    ('0x' || substr(md5(CAST(a.id AS VARCHAR) || '~' ||
      |      CAST(b.id AS VARCHAR)), 1, 4))::BIGINT % 2 AS par
      |  FROM items a JOIN items b ON a.id < b.id),
      |wh AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS wins FROM (
      |    SELECT CASE WHEN par = 0 THEN lo ELSE hi END AS w FROM pr)
      |  GROUP BY w),
      |wo AS (
      |  SELECT lo AS w, CAST(count(*) AS BIGINT) AS wins FROM pr
      |  GROUP BY lo),
      |ch AS (SELECT CAST(coalesce(sum(wins * (wins - 1) // 2), 0)
      |         AS BIGINT) AS sum_c2 FROM wh),
      |co AS (SELECT CAST(coalesce(sum(wins * (wins - 1) // 2), 0)
      |         AS BIGINT) AS sum_c2 FROM wo)
      |SELECT 'hashed' AS variant, n AS n_items,
      |  CAST(n * (n-1) * (n-2) // 6 - ch.sum_c2 AS BIGINT)
      |    AS cyclic_triads,
      |  CAST(CASE WHEN n * (n-1) * (n-2) // 6 < 1000000 THEN
      |    (n * (n-1) * (n-2) // 6 - ch.sum_c2) * 1000000 //
      |      greatest(1, n * (n-1) * (n-2) // 6)
      |  ELSE (n * (n-1) * (n-2) // 6 - ch.sum_c2) //
      |    (n * (n-1) * (n-2) // 6 // 1000000) END AS BIGINT)
      |    AS cyclic_ppm
      |FROM nn, ch
      |UNION ALL
      |SELECT 'ordered', n,
      |  CAST(n * (n-1) * (n-2) // 6 - co.sum_c2 AS BIGINT),
      |  CAST(CASE WHEN n * (n-1) * (n-2) // 6 < 1000000 THEN
      |    (n * (n-1) * (n-2) // 6 - co.sum_c2) * 1000000 //
      |      greatest(1, n * (n-1) * (n-2) // 6)
      |  ELSE (n * (n-1) * (n-2) // 6 - co.sum_c2) //
      |    (n * (n-1) * (n-2) // 6 // 1000000) END AS BIGINT)
      |FROM nn, co
      |ORDER BY variant""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q493_preference_cycles" -> (q493PreferenceCycles _),
    "q393_ktruss" -> (q393Ktruss _),
    "q378_rank1_als" -> (q378Rank1Als _),
    "q376_hyperball_anf" -> (q376HyperballAnf _),
    "q348_fellegi_sunter" -> (q348FellegiSunter _),
    "q320_modularity"      -> (q320Modularity _),
    "q321_clustering_coeff" -> (q321ClusteringCoeff _),
    "q307_link_prediction" -> (q307LinkPrediction _),
    "q308_assortativity"   -> (q308Assortativity _),
    "q132_entity_match"    -> (q132EntityMatch _),
    "q136_triangle_counts" -> (q136TriangleCounts _),
    "q143_lpa_communities" -> (q143LpaCommunities _),
    "q146_association_rules" -> (q146AssociationRules _),
    "q159_bfs_hops"        -> (q159BfsHops _),
    "q187_frequent_triples" -> (q187FrequentTriples _),
    "q195_item_recs"       -> (q195ItemRecs _),
    "q200_kcore"           -> (q200Kcore _),
    "q201_hits_authority"  -> (q201HitsAuthority _),
  )

  val oracles: Map[String, String] = Map(
    "q493_preference_cycles" -> q493Oracle,
    "q393_ktruss" -> q393Oracle,
    "q378_rank1_als" -> q378Oracle,
    "q376_hyperball_anf" -> q376Oracle,
    "q348_fellegi_sunter" -> q348Oracle,
    "q320_modularity"      -> q320Oracle,
    "q321_clustering_coeff" -> q321Oracle,
    "q307_link_prediction" -> q307Oracle,
    "q308_assortativity"   -> q308Oracle,
    "q132_entity_match"    -> q132Oracle,
    "q136_triangle_counts" -> q136Oracle,
    "q143_lpa_communities" -> q143Oracle,
    "q146_association_rules" -> q146Oracle,
    "q159_bfs_hops"        -> q159Oracle,
    "q187_frequent_triples" -> q187Oracle,
    "q195_item_recs"       -> q195Oracle,
    "q200_kcore"           -> q200Oracle,
    "q201_hits_authority"  -> q201Oracle,
  )
}
