package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.Tables
import graft.expr.{ArrayExprs, TextExprs}

/** Deduplication operators for training-data pipelines over the
  * `documents` table — the [NS] dedup family from SURVEY.md §2.2
  * ("Distinct / dedup"): exact fingerprint dedup, MinHash+LSH and
  * SimHash near-dedup, and exact n-gram Jaccard similarity join.
  *
  * Scale notes (the design constraint is 100 TB, ~1e9 docs):
  *  - Signature computation (fingerprint / minhash / simhash) is a
  *    pure projection built from codegen'd higher-order functions —
  *    zero shuffle, cost = one scan.
  *  - Candidate generation shuffles only (key, doc_id) pairs, never
  *    document text: LSH banding keys (q65), 16-bit simhash bands
  *    (q69). The O(n²) all-pairs comparison is confined to within-
  *    bucket groups, which stay tiny when bands are wide (64-bit
  *    bucket ids here).
  *  - The exact-Jaccard join (q66) shuffles one row per distinct
  *    shingle per doc; it is the verification/oracle path, while
  *    q65 is the approximate scale path over the same pairs.
  */
object DedupOps {

  /** Canonical text: lowercase, collapsed whitespace (same canon as
    * TextOps.q63Fingerprint). */
  private def canon(c: Column): Column = regexp_replace(lower(c), " +", " ")

  private def toks(c: Column): Column = split(lower(c), " ")

  /** All n-gram word spans in start-position order (NOT deduped — one
    * element per position, multiplicity preserved), joined with one
    * space; empty for null text and docs under n tokens. Tokens are
    * `split(lower(text), " ")`, so repeated spaces leave empty tokens
    * in the spans. The spans come from the native
    * [[graft.expr.WordSpans]] kernel. */
  def spansN(text: Column, n: Int): Column = TextExprs.wordSpans(toks(text), n)

  /** Distinct n-gram word shingles ([[spansN]] deduped). */
  def shinglesN(text: Column, n: Int): Column = array_distinct(spansN(text, n))

  /** Distinct 3-gram word shingles (the near-dup default). */
  def shingles3(text: Column): Column = shinglesN(text, 3)

  // ---------------------------------------------------------------- q64
  /** Exact dedup: hash-groupBy on the canonical-text fingerprint.
    * Output is one row per distinct content with the keeper id (min
    * doc_id) and the duplicate count — the "keep first, count the
    * rest" primitive. At scale this is a single hash aggregate on a
    * 128-bit key; text never shuffles. */
  def q64ExactDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", md5(canon($"text")).as("fingerprint"))
      .groupBy($"fingerprint")
      .agg(min($"doc_id").as("keeper_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy($"fingerprint")
  }

  private val q64Oracle =
    """SELECT md5(regexp_replace(lower(text), ' +', ' ', 'g')) AS fingerprint,
      |  min(doc_id) AS keeper_doc_id, count(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY fingerprint""".stripMargin

  // ---------------------------------------------------------------- q65
  /** MinHash + LSH near-dedup. k=32 minhashes, b=8 bands × r=4 rows;
    * candidate pairs share at least one band bucket; estimated
    * Jaccard = matching-signature fraction, thresholded at 0.5.
    *
    * The hash family is md5-seeded universal hashing — h₀ = 28-bit
    * truncated md5 of the shingle, permᵢ = (aᵢ·h₀ + bᵢ) mod M
    * (Mersenne 2³¹−1, products ≤ 2⁵⁹ so 64-bit exact in BOTH
    * engines) — chosen over xxhash64 precisely because DuckDB can
    * reproduce it: the whole LSH pipeline (signatures → band
    * buckets → capped candidate pairs → estimates) is therefore
    * hash-ORACLED, not just recall-spec'd. The aᵢ/bᵢ coefficients
    * are drawn once from a fixed-seed LCG and embedded as literals
    * in both the Column expressions and the generated oracle SQL. */
  val minhashK = 32
  val lshBands = 8 // × 4 rows per band
  val minhashMod = 2147483647L // Mersenne prime 2^31 - 1

  /** (aᵢ, bᵢ) per minhash function: aᵢ ∈ [1, M−1], bᵢ ∈ [0, M−1]. */
  private[graft] val minhashCoeffs: Seq[(Long, Long)] = {
    val r = new java.util.Random(20260812L)
    (0 until minhashK).map { _ =>
      (1L + r.nextInt((minhashMod - 1).toInt), r.nextInt(minhashMod.toInt).toLong)
    }
  }

  /** (doc_id, sig array<long>[k]): explode distinct shingles (the
    * native [[graft.expr.WordSpans]] kernel, deduped), reduce k
    * salted-hash minima with one codegen'd hash aggregate. Map-side
    * partial agg means the shuffle carries k longs per doc, not
    * shingles — the shape that holds at 100 TB. (A scalar fold over
    * the shingle array would be an interpreted higher-order lambda
    * per hash per shingle, and optimizer inlining re-evaluates such
    * non-trivial projections wherever they're referenced — measured
    * 10-30× slower on this pipeline.) */
  def minhashSignatures(s: SparkSession, dir: String): DataFrame =
    minhashSignaturesFrom(Tables.documentsSpread(s, dir))

  /** [[minhashSignatures]] over an arbitrary `(doc_id, text)` frame —
    * the incremental-index maintenance path (q527) signatures only a
    * CHANGED sliver, so the frame is a parameter, not the corpus
    * scan; geometry and coefficients are the shared constants above,
    * so batch and incremental signatures can never drift. */
  private[ops] def minhashSignaturesFrom(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    val sh = df
      .select($"doc_id", explode(shingles3($"text")).as("sh"))
      .withColumn("h0",
        expr("CAST(conv(substring(md5(sh), 1, 7), 16, 10) AS BIGINT)"))
    val aggs = minhashCoeffs.zipWithIndex.map { case ((a, b), i) =>
      min(($"h0" * a + b) % minhashMod).as(s"m$i")
    }
    sh.groupBy($"doc_id").agg(aggs.head, aggs.tail: _*)
      .select($"doc_id", array((0 until minhashK).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** All i<j pairs within a doc_id-sorted bucket member array, in
    * member order — `array<struct<doc_id,…>>` → `array<struct<a,b>>`,
    * `a`/`b` holding the original member structs; empty under two
    * members. The pairs come from the native [[graft.expr.PairUp]]
    * kernel. */
  private[ops] def pairUp(members: Column): Column = ArrayExprs.pairUp(members)

  /** (doc_id, sig, band, bucket): each doc exploded to its
    * [[lshBands]] band keys. bucket key = the band's minima joined
    * as a string — directly groupable and reproducible in the oracle
    * SQL (an engine-specific hash of it would re-break oracle-ability
    * for no shuffle saving worth having: keys are ~40 bytes). Shared
    * by q65's pair generation and q280's budget advisor so the band
    * geometry can never drift between them. */
  private[ops] def minhashBanded(s: SparkSession, dir: String): DataFrame =
    minhashBandedFrom(minhashSignatures(s, dir))

  /** [[minhashBanded]]'s band explosion over an arbitrary
    * `(doc_id, sig)` frame — same geometry, q527's sliver path. */
  private[ops] def minhashBandedFrom(sigs: DataFrame): DataFrame = {
    import sigs.sparkSession.implicits._
    val rows = minhashK / lshBands
    sigs.select($"doc_id", $"sig",
      explode(transform(sequence(lit(0), lit(lshBands - 1)), j =>
        struct(j.as("band"),
          array_join(transform(
            sequence(j * rows + 1, (j + 1) * rows),
            i => element_at($"sig", i.cast("int")).cast("string")), ",").as("bucket"))))
        .as("bk"))
      .select($"doc_id", $"sig", $"bk.band", $"bk.bucket")
  }

  def q65MinhashLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // One shuffle, no self-join: explode band keys, group docs per
    // (band, bucket), emit i<j pairs inside each bucket. Signatures
    // are computed exactly once per document — a self-join
    // formulation re-evaluated the signature scan per branch AND
    // leaked the expensive key expression into scan filters via the
    // join-key not-null predicate (25× slower at sf0.1). Skewed
    // buckets are the known hazard at 100 TB: 64-bit bucket ids keep
    // them rare, and the maxGroupSize cap drops pathological buckets
    // (identical boilerplate text hashing 1e6 docs into one bucket)
    // before they can explode into k²/2 pairs.
    minhashBanded(s, dir)
      .groupBy($"band", $"bucket")
      .agg(sort_array(collect_list(struct($"doc_id", $"sig"))).as("members"))
      .where(size($"members") >= 2 && size($"members") <= maxGroupSize)
      // see q66: keep the pair fan-out parallel despite tiny input bytes
      .repartition(s.sparkContext.defaultParallelism, $"band", $"bucket")
      .select(explode(pairUp($"members")).as("p"))
      .select($"p.a.doc_id".as("doc_a"), $"p.b.doc_id".as("doc_b"),
        (aggregate(zip_with($"p.a.sig", $"p.b.sig",
          (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / minhashK)
          .as("est_jaccard"))
      .distinct()
      .where($"est_jaccard" >= 0.5)
      .orderBy($"doc_a", $"doc_b")
  }

  /** Shared oracle CTE chain `t/shd/h/sig/bands` — the minhash
    * signature + band-key construction, interpolated from the
    * Spark-side coefficients and geometry. Consumed by the q65 and
    * q280 oracles so the band SQL can never drift between them. */
  /** The t/shd/h/sig signature sub-chain alone — shared with q475's
    * banding sweep, which re-bands the SAME signatures per config. */
  private lazy val minhashSigCte = minhashSigCteOver("documents")

  /** [[minhashSigCte]] parametrized on the source relation — q527's
    * oracle re-runs the chain over a DML-edited corpus CTE. */
  private[ops] def minhashSigCteOver(rel: String): String = {
    val minExprs = minhashCoeffs.zipWithIndex.map { case ((a, b), i) =>
      s"min((h0 * $a + $b) % $minhashMod) AS m$i"
    }.mkString(",\n       |    ")
    s"""t AS (
       |  SELECT doc_id, string_split(lower(text), ' ') toks FROM $rel),
       |shd AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, len(toks) - 1),
       |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS sh
       |  FROM t),
       |h AS (
       |  SELECT doc_id, ('0x' || substr(md5(sh), 1, 7))::BIGINT AS h0 FROM shd),
       |sig AS (
       |  SELECT doc_id,
       |    $minExprs
       |  FROM h GROUP BY doc_id)""".stripMargin
  }

  /** One banding geometry's `SELECT doc_id, band, bucket` arms over
    * `sig` — `bands × rowsPerBand` must cover the signature. */
  private[ops] def bandRowsSql(bands: Int, rowsPerBand: Int): String =
    (0 until bands).map { j =>
      val key = (j * rowsPerBand until (j + 1) * rowsPerBand)
        .map(i => s"CAST(m$i AS VARCHAR)").mkString(" || ',' || ")
      s"SELECT doc_id, $j AS band, $key AS bucket FROM sig"
    }.mkString("\n       |  UNION ALL\n       |  ")

  private lazy val minhashBandsCte = minhashBandsCteOver("documents")

  /** [[minhashBandsCte]] parametrized on the source relation. */
  private[ops] def minhashBandsCteOver(rel: String): String =
    s"""${minhashSigCteOver(rel)},
       |bands AS (
       |  ${bandRowsSql(lshBands, minhashK / lshBands)})""".stripMargin

  /** Generated oracle for the full LSH pipeline — same coefficients,
    * same band geometry, same bucket cap, interpolated from the
    * Spark-side constants so the two can never drift. */
  private lazy val q65Oracle = {
    val matches = (0 until minhashK)
      .map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH $minhashBandsCte,
       |ok AS (
       |  SELECT band, bucket FROM bands GROUP BY 1, 2
       |  HAVING count(*) BETWEEN 2 AND $maxGroupSize),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a
       |  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
       |    AND a.doc_id < b.doc_id
       |  JOIN ok ON a.band = ok.band AND a.bucket = ok.bucket)
       |SELECT doc_a, doc_b,
       |  CAST($matches AS DOUBLE) / $minhashK AS est_jaccard
       |FROM cand
       |JOIN sig sa ON doc_a = sa.doc_id
       |JOIN sig sb ON doc_b = sb.doc_id
       |WHERE CAST($matches AS DOUBLE) / $minhashK >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---------------------------------------------------------------- q66
  /** Hard ceiling on shingle document-frequency (q66) and LSH bucket
    * size (q65): a stop-shingle or hot bucket hit by k docs fans out
    * to k²/2 pairs, so one adversarial phrase in 1e6 docs is a
    * task-killer at 100 TB. Groups above the cap are dropped before
    * pairing — they carry no dedup signal (a shingle shared by
    * thousands of docs identifies nothing). 100 is ~4× the max df
    * observed in the synthetic corpus at sf0.1, so results at test
    * scales are byte-identical with or without the guard; the q66
    * oracle mirrors it so ANY scale stays green. DedupOpsSpec plants
    * identical boilerplate across 120 docs (df above the cap) and pins
    * that neither q65 nor q66 emits a pair from the hot group while a
    * genuine planted near-dup pair still surfaces. */
  val maxGroupSize = 100

  /** Exact n-gram Jaccard similarity join: explode distinct 3-gram
    * shingles, self-equi-join on the shingle, count intersections,
    * Jaccard = |∩| / (|A|+|B|-|∩|), threshold 0.5. The exact
    * counterpart (and oracle) of q65's estimate. */
  def q66NgramJaccard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    jaccardPairs(s, dir).orderBy($"doc_a", $"doc_b")
  }

  /** Shared candidate stage for q66's Jaccard and q160's containment:
    * (doc_a, doc_b, na, nb, inter) for every doc pair sharing at
    * least one non-stop shingle. Single shingle pass: each doc's
    * shingle count `n` is the size of its distinct shingle array,
    * taken before the explode (no window, so no sort of the exploded
    * rows), then docs group per shingle and in-group pairs explode
    * (same pattern as q65/q69 — a self-join would re-run the
    * explode+shingle projection once per branch). The maxGroupSize
    * guard drops stop-shingles before pairing. Members sort with
    * `sort_array`, a codegen'd sort: `array_sort` would compare
    * through an interpreted lambda. PlanSpec pins the plan free of
    * windows and higher-order functions. */
  private def shinglePairCounts(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val sh = docs
      .select($"doc_id", shingles3($"text").as("shs"))
      // explode_outer, not explode: the optimizer infers `size(shs) > 0`
      // for a plain explode of a column and pushes it to the scan,
      // which builds every shingle array twice. A shingle is never
      // null, so the outer row of a shingle-less doc is the only null.
      .select($"doc_id", size($"shs").as("n"), explode_outer($"shs").as("sh"))
      .where($"sh".isNotNull)
      // explicit exchange for the shingle aggregation: the implicit
      // ENSURE_REQUIREMENTS one is AQE-coalescible (the rows are few
      // MBs) and a one-task collect_list over 260k rows serializes
      // the pipeline
      .repartition(s.sparkContext.defaultParallelism, $"sh")
    sh.groupBy($"sh")
      .agg(sort_array(collect_list(struct($"doc_id", $"n"))).as("members"))
      .where(size($"members") >= 2 && size($"members") <= maxGroupSize)
      // explicit partition count: the bucket rows are tiny in BYTES, so
      // AQE coalesces this stage to ~1 partition — but each row fans
      // out to |members|²/2 pairs of CPU-bound work. Fan-out stages
      // must be sized by downstream work, not input bytes (measured
      // 8 s → 100 s when coalescing struck).
      .repartition(s.sparkContext.defaultParallelism, $"sh")
      .select(explode(pairUp($"members")).as("p"))
      .groupBy($"p.a.doc_id".as("doc_a"), $"p.b.doc_id".as("doc_b"),
        $"p.a.n".as("na"), $"p.b.n".as("nb"))
      .agg(count(lit(1)).as("inter"))
  }

  /** q66's pair set before ordering — also the edge set q79 clusters.
    * Jaccard comes straight off the pair counts: |∩| / (nA+nB-|∩|). */
  private def jaccardPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    shinglePairCounts(Tables.documentsSpread(s, dir))
      .select($"doc_a", $"doc_b",
        ($"inter".cast("double") / ($"na" + $"nb" - $"inter")).as("jaccard"))
      .where($"jaccard" >= 0.5)
  }

  /** Shared oracle CTE base yielding `p(doc_a, doc_b, inter)` pair
    * intersections and `sz(doc_id, n)` shingle counts — consumed by
    * the Jaccard (q66/q79) and containment (q160) oracles so the
    * candidate-generation SQL can never diverge between them.
    * `maxGroupSize` is interpolated so changing the Spark-side cap
    * keeps the oracles in lockstep (a hardcoded copy would silently
    * desynchronize). */
  private val shinglePairBaseCte =
    s"""t AS (
       |  SELECT doc_id, string_split(lower(text), ' ') toks FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, len(toks) - 1),
       |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS sh
       |  FROM t),
       |sz AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
       |ok AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) <= $maxGroupSize),
       |p AS (
       |  SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  WHERE a.sh IN (SELECT sh FROM ok)
       |  GROUP BY 1, 2)""".stripMargin

  /** The exact-Jaccard pair set `jp(doc_a, doc_b, jaccard)` — used by
    * both q66 and q79 so their oracles can never diverge. */
  private val jaccardPairsCte =
    s"""$shinglePairBaseCte,
       |jp AS (
       |  SELECT doc_a, doc_b,
       |    CAST(inter AS DOUBLE) / (x.n + y.n - inter) AS jaccard
       |  FROM p JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
       |  WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.5)""".stripMargin

  private val q66Oracle =
    s"""WITH $jaccardPairsCte
       |SELECT doc_a, doc_b, jaccard FROM jp ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- q160
  /** Emission threshold on the LARGER directional containment of a
    * pair — 0.8 of the smaller doc's shingles appearing in the other
    * marks subsumption even when symmetric Jaccard stays far below
    * q66's 0.5 bar. */
  val containmentThreshold = 0.8

  /** Asymmetric containment dedup: directional shingle containment
    * C(A→B) = |A∩B| / |A| for every candidate pair — the dup mode
    * Jaccard structurally misses. A short doc quoted whole inside a
    * much longer one (a license block, a syndicated article inside
    * an aggregator page) has tiny Jaccard (the union is dominated by
    * the long doc) but containment ≈ 1 in one direction; a dedup
    * pipeline drops or cross-links the contained doc. Same
    * single-pass candidate stage as q66 ([[shinglePairCounts]] —
    * text never shuffles, stop-shingle cap bounds fan-out), so the
    * asymmetric measure costs nothing extra at 100 TB: the pair
    * counts already carry both per-doc sizes, and the two divisions
    * are projections. */
  def q160ContainmentDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    containmentPairsOf(Tables.documentsSpread(s, dir))
      .orderBy($"doc_a", $"doc_b")
  }

  /** Containment on any (doc_id, text) frame — separated so the spec
    * can plant a short-doc-inside-long-doc pair whose Jaccard is
    * below q66's threshold but whose containment is ~1. */
  private[ops] def containmentPairsOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    shinglePairCounts(docs)
      .select($"doc_a", $"doc_b",
        ($"inter".cast("double") / $"na").as("cont_ab"),
        ($"inter".cast("double") / $"nb").as("cont_ba"))
      .where(greatest($"cont_ab", $"cont_ba") >= containmentThreshold)
  }

  private val q160Oracle =
    s"""WITH $shinglePairBaseCte,
       |cp AS (
       |  SELECT doc_a, doc_b,
       |    CAST(inter AS DOUBLE) / x.n AS cont_ab,
       |    CAST(inter AS DOUBLE) / y.n AS cont_ba
       |  FROM p JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id)
       |SELECT doc_a, doc_b, cont_ab, cont_ba FROM cp
       |WHERE greatest(cont_ab, cont_ba) >= $containmentThreshold
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- q213
  /** Near-duplication rate per SOURCE: which sources bring the
    * duplicates — the acquisition-side view of the dedup family
    * (q66 finds pairs, q79 clusters them, q113 cross-tabulates pair
    * ENDPOINTS; this charges each source with its share of
    * dup-involved docs so a crawl budget can be rebalanced). A doc
    * is dup-involved if it appears in any q66 exact-Jaccard pair;
    * rates are exact integer ppm. Reuses the shared pair CTE, so
    * source accounting can never drift from the pair definition. */
  def q213DupRateBySource(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = jaccardPairs(s, dir)
    val dupDocs = pairs.select($"doc_a".as("doc_id"))
      .unionAll(pairs.select($"doc_b".as("doc_id"))).distinct()
    Tables.documents(s, dir).select($"doc_id", $"source")
      .join(dupDocs.withColumn("dup", lit(1L)), Seq("doc_id"), "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce($"dup", lit(0L))).as("n_dup_docs"))
      .select($"source", $"n_docs", $"n_dup_docs",
        expr("(1000000 * n_dup_docs) div n_docs").as("dup_ppm"))
      .orderBy($"source")
  }

  private val q213Oracle =
    s"""WITH $jaccardPairsCte,
       |dd AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_a AS doc_id FROM jp
       |    UNION ALL SELECT doc_b FROM jp))
       |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN dd.doc_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_dup_docs,
       |  CAST((1000000 * sum(CASE WHEN dd.doc_id IS NOT NULL THEN 1 ELSE 0 END))
       |    // count(*) AS BIGINT) AS dup_ppm
       |FROM documents d LEFT JOIN dd ON d.doc_id = dd.doc_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q164
  /** Per-document novelty ratio: the share of a doc's distinct
    * 3-gram shingles whose FIRST corpus occurrence (by ingest order
    * = doc_id) is that doc — "how much genuinely new content did
    * this doc add when it arrived?". The curation report behind
    * source-ordering decisions: a source whose docs trend toward
    * zero novelty is re-serving content the corpus already has, and
    * can be down-weighted (q112's rebalance) or cut entirely —
    * cheaper than pairwise dedup because no pairs are ever formed.
    *
    * Two shuffles, both key+count-width: (shingle → min doc_id) via
    * a partition-by-shingle window riding the same exchange as the
    * per-doc re-group; text itself never shuffles
    * ([[Tables.documentsSpread]] moves it once for scan-side CPU
    * parallelism). Ratio is fixed-point ppm off exact counts. */
  def q164NoveltyRatio(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    noveltyOf(Tables.documentsSpread(s, dir))
  }

  /** Novelty on any (doc_id, text) frame — separated so the spec can
    * plant an exact re-serve (novelty 0) next to a fresh doc
    * (novelty 1) and a half-copied one. */
  private[ops] def noveltyOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    docs
      .select($"doc_id", explode(shingles3($"text")).as("sh"))
      .withColumn("first_doc", min($"doc_id").over(Window.partitionBy($"sh")))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when($"first_doc" === $"doc_id", 1L).otherwise(0L)).as("n_novel"))
      .select($"doc_id", $"n_shingles", $"n_novel",
        expr("(1000000 * n_novel) div n_shingles").as("novelty_ppm"))
      .orderBy($"doc_id")
  }

  private val q164Oracle =
    """WITH t AS (
      |  SELECT doc_id, string_split(lower(text), ' ') toks FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, len(toks) - 1),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS sh
      |  FROM t),
      |f AS (SELECT sh, min(doc_id) AS first_doc FROM sh GROUP BY 1)
      |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
      |  CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_novel,
      |  CAST((1000000 * sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END))
      |    // count(*) AS BIGINT) AS novelty_ppm
      |FROM sh s JOIN f ON s.sh = f.sh
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q79
  /** Iteration bound for the distributed component loop (pair sets
    * over the broadcast gate; see [[ccFixpoint]]). With pointer jumping
    * (see [[ccLabelsWorking]]) the distance-to-root at least halves
    * per round, so rounds ≈ log₂(component diameter): 20 rounds
    * covers diameters up to ~a million — far beyond any real near-dup
    * graph. The bound remains as a loud fail-fast against a logic
    * regression, never a tuning knob. */
  val maxCcIterations = 20

  /** Near-dup clustering: pairs → connected components → keeper. The
    * operator a training-data dedup pipeline actually ends with:
    * q65/q66/q69 emit PAIRS, but a retention decision needs one keeper
    * per transitive duplicate group (a~b, b~c ⇒ {a,b,c} dedupe
    * together even when a~c misses the threshold). Components by
    * min-label propagation over q66's exact pair set: every doc
    * starts labeled with its own id; each round takes the min of its
    * own and its neighbors' labels; at fixpoint the label is the
    * component minimum, which doubles as the deterministic cluster_id
    * and keeper choice.
    *
    * Scale shape: labels are (doc_id, lbl) longs — text never enters
    * the loop; the edge set is localCheckpoint'd so the shingle
    * pipeline runs ONCE. A pair set under the broadcast gate is
    * clustered on the driver (union-find, see [[ccFixpoint]]); above
    * it each round is one hash join + one hash aggregate + one
    * pointer-jumping self-join, each round's labels are
    * localCheckpoint'd so lineage (and plan size) stays constant, and
    * convergence = one count per round — the standard distributed-CC
    * control loop; rounds ≈ log₂(component diameter).
    *
    * Output: every document, its cluster_id, and is_keeper
    * (singletons keep themselves). Oracle: DuckDB WITH RECURSIVE
    * min-label reachability over the same shared pair CTE. */
  def q79NeardupClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ccLabels(s, dir)
      .select($"doc_id", $"cluster_id", ($"doc_id" === $"cluster_id").as("is_keeper"))
      .orderBy($"doc_id")
  }

  /** (doc_id, cluster_id) fixpoint labels — q79's loop, shared with
    * q74's quality-weighted keeper selection.
    *
    * The loop runs over the WORKING SET only: docs that appear in at
    * least one pair. At 100 TB near-dup pairs cover a small fraction
    * of the corpus, so propagation iterates over ~|pairs| rows while
    * the overwhelmingly-singleton remainder is attached afterwards by
    * one left join with `coalesce(lbl, doc_id)` — iterating the whole
    * corpus through the loop would scan a billion rows per round to
    * relabel fifty. Each round detects its own convergence by
    * carrying the previous label through the aggregate (max over the
    * marker rows) — no second join per round. */
  private def ccLabels(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select($"doc_id")
      .join(ccLabelsWorking(s, dir), Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"lbl", $"doc_id").as("cluster_id"))
  }

  /** Fixpoint labels for the working set only: (doc_id, lbl) for docs
    * in at least one pair. Tiny by construction — callers broadcast
    * it against the corpus rather than shuffling the corpus — so
    * whenever the pair set clears the session's broadcast gate the
    * labels come from [[ccFixpoint]]'s driver-side union-find, which
    * holds no more than the callers' broadcasts already do; only a
    * pair set over the gate runs the distributed loop below.
    *
    * Each round does min-label propagation (take the min of own and
    * neighbors' labels) PLUS pointer jumping: labels are themselves
    * working-set doc ids, so one more self-join rewrites lbl(x) to
    * lbl(lbl(x)) — path doubling. Propagation alone needs
    * diameter-many rounds (a 1000-link boilerplate chain = 1000
    * shuffles); with jumping the distance to the component minimum at
    * least halves per round, so rounds ≈ log₂(diameter). This
    * supersedes the large-star/small-star alternative (O(log² n)
    * rounds) with a strictly simpler per-round plan: one hash join +
    * one hash aggregate + one self-join over (long, long) label rows. */
  private def ccLabelsWorking(s: SparkSession, dir: String): DataFrame =
    ccFixpoint(s, jaccardPairs(s, dir).select(col("doc_a"), col("doc_b")))

  /** The min-label + pointer-jumping fixpoint over an ARBITRARY
    * undirected pair set `(doc_a, doc_b)` — shared by the full build
    * (q79/q74/q120), q127's contracted delta graph, and q386's
    * dense-cell grid graph.
    *
    * The pair set is checkpointed and counted once. When its rows
    * clear the session's broadcast gate ([[LinkOps.underBroadcastGate]],
    * 48 B a row — the test `countGated` applies) and both endpoints
    * are bigint ids, the pairs are collected and [[ccOnDriver]]
    * finishes there: every consumer broadcasts the labels anyway, and
    * each distributed round (a join, an aggregate, a self-join, a
    * checkpoint and a convergence count) costs scheduling, not data,
    * on a graph that small. Over the gate — or with the threshold
    * disabled, the PlanSpec 100-TB stand-in — the distributed loop
    * runs, with its [[maxCcIterations]] fail-fast. Both paths return
    * the same rows under the same schema. */
  private[ops] def ccFixpoint(s: SparkSession, pairs: DataFrame): DataFrame = {
    import s.implicits._
    // materialize the pair set once: the union below reads it twice,
    // and un-checkpointed each branch would re-run the pair build
    val p = pairs.localCheckpoint()
    val edges = p.union(p.select($"doc_b", $"doc_a"))
      .toDF("dst", "src")                  // (dst = labeled side, src = receiver)
    // the loop's output schema: doc_id is the receiver column as is;
    // lbl (a min, then a left-join coalesce) is always nullable
    val id = edges.schema("src")
    val schema = StructType(Seq(id.copy(name = "doc_id"),
      StructField("lbl", id.dataType, nullable = true)))
    if (p.schema.forall(_.dataType == LongType) &&
        LinkOps.underBroadcastGate(s, p.count()))
      return ccOnDriver(s, p.collect(), schema)
    var labels = edges.select($"src".as("doc_id")).distinct()
      .select($"doc_id", $"doc_id".as("lbl"))
      .localCheckpoint()
    var converged = false
    var it = 0
    while (!converged && it < maxCcIterations) {
      val nbr = edges
        .join(labels.withColumnRenamed("doc_id", "dst"), "dst")
        .select($"src".as("doc_id"), $"lbl", lit(0L).as("own"))
      val propagated = labels.select($"doc_id", $"lbl", lit(1L).as("own"))
        .union(nbr)
        .groupBy($"doc_id")
        .agg(min($"lbl").as("lbl"), max(when($"own" === 1L, $"lbl")).as("prev"))
      // pointer jumping: lbl is a working-set doc_id, so its own
      // current label exists; following one hop per round doubles the
      // compressed path length. Labels only ever decrease, so jumping
      // can never overshoot the component minimum (lbl(m) = m there).
      val next = propagated
        .join(propagated.select($"doc_id".as("lbl"), $"lbl".as("lbl2")), Seq("lbl"), "left")
        .select($"doc_id", coalesce($"lbl2", $"lbl").as("lbl"), $"prev")
        .localCheckpoint()
      converged = next.where($"lbl" =!= $"prev").count() == 0
      labels = next.select($"doc_id", $"lbl")
      it += 1
    }
    if (!converged) throw new IllegalStateException(
      s"min-label propagation did not converge in $maxCcIterations rounds — " +
        "rounds scale with log2(component diameter); this indicates a logic bug, " +
        "not a plausible input")
    labels
  }

  /** [[ccFixpoint]]'s fixed point computed on the driver: union-find
    * over the collected pairs, iterative with path halving over
    * primitive arrays (no recursion, so a 10⁵-node chain is as safe
    * as a pair), each root kept at its component's minimum id — the
    * label min-label propagation converges to. A null endpoint is a
    * node of its own that, as in the loop, only receives: the loop's
    * join never matches a null key, so the null node passes no label
    * on and takes the min of its non-null partners' labels (null when
    * it has none). */
  private def ccOnDriver(s: SparkSession, pairs: Array[Row],
                         schema: StructType): DataFrame = {
    val index = scala.collection.mutable.LongMap.empty[Int]
    val ids = scala.collection.mutable.ArrayBuilder.make[Long]
    def node(v: Long): Int = index.getOrElse(v, {
      val i = index.size
      index.update(v, i)
      ids += v
      i
    })
    val links = scala.collection.mutable.ArrayBuilder.make[Int]
    val nullPartners = scala.collection.mutable.ArrayBuilder.make[Int]
    var nullNode = false
    pairs.foreach { r =>
      (r.isNullAt(0), r.isNullAt(1)) match {
        case (false, false) => links += node(r.getLong(0)) += node(r.getLong(1))
        case (false, true) => nullNode = true; nullPartners += node(r.getLong(0))
        case (true, false) => nullNode = true; nullPartners += node(r.getLong(1))
        case (true, true) => nullNode = true
      }
    }
    val id = ids.result()
    val parent = Array.tabulate(id.length)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x))
        x = parent(x)
      }
      x
    }
    val l = links.result()
    var k = 0
    while (k < l.length) {
      val ra = find(l(k))
      val rb = find(l(k + 1))
      if (ra != rb) {
        if (id(ra) < id(rb)) parent(rb) = ra else parent(ra) = rb
      }
      k += 2
    }
    val rows = new java.util.ArrayList[Row](id.length + 1)
    id.indices.foreach(i => rows.add(Row(id(i), id(find(i)))))
    if (nullNode) {
      val np = nullPartners.result()
      rows.add(Row(null,
        if (np.isEmpty) null else np.map(i => id(find(i))).min))
    }
    s.createDataFrame(rows, schema)
  }

  // ---------------------------------------------------------------- q127
  /** Incremental cluster maintenance — the operation that makes
    * near-dup clustering sustainable at 100 TB: when a delivery adds
    * new documents (and therefore new similarity edges), do NOT
    * re-cluster the corpus; CONTRACT yesterday's clusters to their
    * representative labels (each old cluster becomes one super-node),
    * map only the delta edges through the contraction, run the CC
    * fixpoint on that tiny contracted graph, and compose the two
    * label maps. Because min-label representatives are component
    * minima, the composed labeling is PROVABLY identical to a full
    * recompute — and the oracle is exactly the full recompute (q79's
    * recursive CTE over all of today's edges), so the equivalence is
    * hash-checked, not asserted. Yesterday = docs below
    * [[incrBoundary]]; delta = every pair touching a newer doc. Cost:
    * the old fixpoint is yesterday's (already materialized in a real
    * pipeline), the new fixpoint runs over contracted delta edges
    * only. */
  val incrBoundary = 250L

  def q127IncrementalClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = jaccardPairs(s, dir)
      .select($"doc_a", $"doc_b").localCheckpoint()
    val oldPairs = pairs
      .where($"doc_a" < incrBoundary && $"doc_b" < incrBoundary)
    val deltaEdges = pairs
      .where($"doc_a" >= incrBoundary || $"doc_b" >= incrBoundary)
    // yesterday's labels, contracted: every doc maps to its old
    // cluster representative (own id if unclustered or new)
    val oldLabels = ccFixpoint(s, oldPairs)
    val repA = oldLabels.select($"doc_id".as("doc_a"), $"lbl".as("rep_a"))
    val repB = oldLabels.select($"doc_id".as("doc_b"), $"lbl".as("rep_b"))
    val contracted = deltaEdges
      .join(repA, Seq("doc_a"), "left")
      .join(repB, Seq("doc_b"), "left")
      .select(coalesce($"rep_a", $"doc_a").as("doc_a"),
        coalesce($"rep_b", $"doc_b").as("doc_b"))
      .where($"doc_a" =!= $"doc_b")
      .distinct()
    val merged = ccFixpoint(s, contracted)
    // compose: doc → old rep → merged label (falling back at each hop)
    Tables.documents(s, dir).select($"doc_id")
      .join(oldLabels.select($"doc_id", $"lbl".as("rep")), Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"rep", $"doc_id").as("rep"))
      .join(merged.select($"doc_id".as("rep"), $"lbl".as("merged_lbl")),
        Seq("rep"), "left")
      .select($"doc_id", coalesce($"merged_lbl", $"rep").as("cluster_id"))
      .orderBy($"doc_id")
  }

  // lazy: ccCte is declared later in the object body
  private lazy val q127Oracle =
    s"""WITH RECURSIVE $ccCte
       |SELECT doc_id, cluster_id FROM lab ORDER BY doc_id""".stripMargin

  /** Shared oracle CTE chain ending in `lab(doc_id, cluster_id)` —
    * the WITH RECURSIVE min-label fixpoint q79/q74/q120/q127/q131
    * build on. */
  private[ops] val ccCte =
    s"""$jaccardPairsCte,
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM jp
       |      UNION ALL SELECT doc_b, doc_a FROM jp),
       |reach(doc_id, lbl) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, r.lbl FROM reach r JOIN e ON e.src = r.doc_id),
       |lab AS (SELECT doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY doc_id)""".stripMargin

  private val q79Oracle =
    s"""WITH RECURSIVE $ccCte
       |SELECT doc_id, cluster_id, doc_id = cluster_id AS is_keeper
       |FROM lab ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q74
  /** Quality-weighted keeper selection: the retention decision a
    * training-data pipeline makes AFTER clustering — within each
    * near-dup cluster keep the highest-quality document (q62's
    * composite score; ties break to the smaller doc_id), drop the
    * rest. q79's min-id keeper is the determinism-first choice;
    * this is the quality-first one.
    *
    * Plan shape: ONLY the working set (docs in a real cluster — tiny
    * by construction) goes through the per-cluster window; it joins
    * quality as the broadcast side, so the corpus never shuffles on
    * cluster_id to rank overwhelmingly-singleton "clusters".
    * Singletons take the anti-join branch and keep themselves — at
    * 100 TB that is two corpus scans and zero corpus-wide exchanges
    * (the final global sort exists only for the oracle's total
    * order). */
  def q74ClusterKeepers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"cluster_id")
      .orderBy($"quality_score".desc, $"doc_id".asc)
    val working = ccLabelsWorking(s, dir)
      .select($"doc_id", $"lbl".as("cluster_id"))
    val quality = TextOps.qualityScores(s, dir)
    val ranked = broadcast(working).join(quality, "doc_id")
      .withColumn("rn", row_number().over(w))
      .select($"doc_id", $"cluster_id", $"quality_score", ($"rn" === 1).as("keep"))
    val singles = quality
      .join(broadcast(working.select($"doc_id")), Seq("doc_id"), "left_anti")
      .select($"doc_id", $"doc_id".as("cluster_id"), $"quality_score",
        lit(true).as("keep"))
    ranked.union(singles).orderBy($"doc_id")
  }

  private val q74Oracle =
    s"""WITH RECURSIVE $ccCte,
       |q AS (
       |  ${TextOps.qualityScoresSql}),
       |r AS (
       |  SELECT lab.doc_id AS doc_id, cluster_id, quality_score,
       |    row_number() OVER (PARTITION BY cluster_id
       |                       ORDER BY quality_score DESC, lab.doc_id ASC) AS rn
       |  FROM lab JOIN q ON lab.doc_id = q.doc_id)
       |SELECT doc_id, cluster_id, quality_score, rn = 1 AS keep
       |FROM r ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q53
  /** Benchmark decontamination: find corpus documents that share at
    * least [[contamMinShingles]] distinct 8-gram shingles with any
    * benchmark document — the check every training pipeline runs so
    * eval sets don't leak into training data. Long shingles (8-grams)
    * make incidental phrase collisions rare, so a handful of shared
    * shingles is strong evidence of copied text.
    *
    * Here the "benchmark" is a fixture proxy: docs with id below
    * [[contamBenchmarkIds]] play the eval set and the rest the
    * training corpus (a real pipeline reads the eval suite as its own
    * table — identical plan). Scale shape mirrors q66: both sides
    * explode to (shingle, id) pairs — text never shuffles — and the
    * equi-join broadcasts the benchmark side, so per-shingle fan-out
    * is bounded by the (small) benchmark cardinality and no q66-style
    * df cap is needed. */
  val contamBenchmarkIds = 10L
  val contamMinShingles = 3L

  def q53Decontamination(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = Tables.documentsSpread(s, dir)
      .select($"doc_id", explode(shinglesN($"text", 8)).as("sh"))
    val bench = sh.where($"doc_id" < contamBenchmarkIds)
      .select($"doc_id".as("bench_doc_id"), $"sh")
    val corpus = sh.where($"doc_id" >= contamBenchmarkIds)
    corpus.join(broadcast(bench), Seq("sh"))
      .groupBy($"doc_id", $"bench_doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .where($"n_shared" >= contamMinShingles)
      .orderBy($"doc_id", $"bench_doc_id")
  }

  /** One 8-gram as a DuckDB expression over `toks` at position `i`. */
  private val gram8Sql: String =
    (0 until 8).map(j => if (j == 0) "toks[i]" else s"toks[i+$j]")
      .mkString(" || ' ' || ")

  /** Shared oracle CTE fragments for the 8-gram span family (q53, q55,
    * q56): `t` (tokenized docs), `sp` (POSITIONAL spans — one row per
    * start position, multiplicity preserved), `sh` (distinct shingles
    * per doc). Interpolated into all three oracles so the span
    * definition can never drift between them. */
  private val span8Cte =
    s"""t AS (
       |  SELECT doc_id, string_split(lower(text), ' ') toks FROM documents),
       |sp AS (
       |  SELECT doc_id, unnest(list_transform(
       |    range(1, len(toks) - 6), i -> $gram8Sql)) AS sh
       |  FROM t),
       |sh AS (SELECT DISTINCT doc_id, sh FROM sp)""".stripMargin

  private val q53Oracle =
    s"""WITH $span8Cte,
       |b AS (SELECT doc_id AS bench_doc_id, sh FROM sh WHERE doc_id < $contamBenchmarkIds),
       |c AS (SELECT doc_id, sh FROM sh WHERE doc_id >= $contamBenchmarkIds)
       |SELECT c.doc_id, b.bench_doc_id, count(*) AS n_shared
       |FROM c JOIN b ON c.sh = b.sh
       |GROUP BY 1, 2 HAVING count(*) >= $contamMinShingles
       |ORDER BY doc_id, bench_doc_id""".stripMargin

  // ---------------------------------------------------------------- q55
  /** Span length (tokens) for span-level dedup/decontamination — same
    * 8-gram grain as q53's decontamination shingles. */
  val spanN = 8

  /** Span-level exact dedup: the training-data dedup mode doc-level
    * q64/q65/q66 can't see — repeated ~8-token SPANS (boilerplate,
    * license headers, quotes) inside otherwise-distinct documents.
    * Per document: how many distinct 8-gram spans it has, how many of
    * those also appear in at least one OTHER document, and the ratio —
    * the signal a pipeline thresholds to drop or trim boilerplate-
    * heavy docs.
    *
    * Scale shape: (doc_id, shingle) pairs shuffle once on the shingle
    * to learn cross-doc document frequency (count only — no pairing,
    * so unlike q66 there is no quadratic fan-out and no df cap
    * needed), then once on doc_id for the per-doc rollup; text never
    * shuffles. A pathologically hot span (df in the millions) skews
    * one count partition, not a join — AQE's skew split handles it. */
  def q55SpanDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val sh = Tables.documentsSpread(s, dir)
      .select($"doc_id", explode(shinglesN($"text", spanN)).as("sh"))
    val perDoc = sh
      .withColumn("df", count(lit(1)).over(Window.partitionBy($"sh")))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when($"df" >= 2, 1L).otherwise(0L)).as("n_duplicated_spans"))
    Tables.documents(s, dir).select($"doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_spans", lit(0L)).as("n_spans"),
        coalesce($"n_duplicated_spans", lit(0L)).as("n_duplicated_spans"),
        when(coalesce($"n_spans", lit(0L)) === 0, 0.0)
          .otherwise(coalesce($"n_duplicated_spans", lit(0L)).cast("double") /
            $"n_spans").as("dup_ratio"))
      .orderBy($"doc_id")
  }

  private val q55Oracle =
    s"""WITH $span8Cte,
       |df AS (SELECT sh, count(*) AS df FROM sh GROUP BY 1),
       |d AS (
       |  SELECT s.doc_id, count(*) AS n_spans,
       |    CAST(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
       |  FROM sh s JOIN df ON s.sh = df.sh GROUP BY 1)
       |SELECT documents.doc_id AS doc_id,
       |  coalesce(n_spans, 0) AS n_spans,
       |  coalesce(n_dup, 0) AS n_duplicated_spans,
       |  CASE WHEN coalesce(n_spans, 0) = 0 THEN 0.0
       |       ELSE CAST(n_dup AS DOUBLE) / n_spans END AS dup_ratio
       |FROM documents LEFT JOIN d ON documents.doc_id = d.doc_id
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q58
  /** Span masking — the TRIM operator q55's counts feed: rewrite each
    * document with every token that falls inside a cross-doc-repeated
    * 8-gram span replaced by `<DUP>` (boilerplate/license/quote
    * removal that keeps the unique remainder of a doc instead of
    * dropping it wholesale). The mask token is uppercase so it can
    * never collide with the lowercased token stream.
    *
    * Plan shape: positional spans shuffle once on the shingle key,
    * where ONE window computes cross-doc duplication as
    * `min(doc_id) ≠ max(doc_id)` per shingle — counting distinct docs
    * without a distinct aggregate, a join, or a second pipeline
    * (multiplicity inside one doc can't fake it). Duplicated start
    * positions roll up per doc, and one join brings the start lists
    * back to the corpus (AQE broadcasts it while the working set is
    * small; it degrades to a shuffle join, never a scan explosion).
    * The token rewrite is a pure projection (indexed transform +
    * exists over the start list). */
  def q58SpanMask(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"sh")
    val dupStarts = Tables.documentsSpread(s, dir)
      .select($"doc_id", posexplode(spansN($"text", spanN)))
      .select($"doc_id", ($"pos" + 1).as("start"), $"col".as("sh"))
      .withColumn("dup", min($"doc_id").over(w) =!= max($"doc_id").over(w))
      .where($"dup")
      .groupBy($"doc_id")
      .agg(sort_array(collect_list($"start")).as("starts"))
    Tables.documents(s, dir)
      .join(dupStarts, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"starts", array().cast("array<int>")).as("starts"),
        toks($"text").as("toks"))
      .withColumn("masked", transform($"toks", (tok, i) =>
        when(exists($"starts", st => st <= i + 1 && i + 1 <= st + (spanN - 1)),
          lit("<DUP>")).otherwise(tok)))
      .select($"doc_id",
        concat_ws(" ", $"masked").as("masked_text"),
        size(filter($"masked", t => t === "<DUP>")).cast("long").as("n_masked_tokens"))
      .orderBy($"doc_id")
  }

  private val q58Oracle =
    s"""WITH $span8Cte,
       |dup AS (SELECT sh FROM sp GROUP BY sh HAVING min(doc_id) <> max(doc_id)),
       |pos AS (
       |  SELECT doc_id, i, $gram8Sql AS sh FROM (
       |    SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i FROM t)),
       |ds AS (
       |  SELECT doc_id, list_sort(list(i)) AS starts
       |  FROM pos WHERE sh IN (SELECT sh FROM dup) GROUP BY 1),
       |m AS (
       |  SELECT t.doc_id, toks, coalesce(starts, CAST([] AS BIGINT[])) AS starts
       |  FROM t LEFT JOIN ds ON t.doc_id = ds.doc_id)
       |SELECT doc_id,
       |  array_to_string(list_transform(range(1, len(toks) + 1), j ->
       |    CASE WHEN len(list_filter(starts, s -> s <= j AND j <= s + ${spanN - 1})) > 0
       |         THEN '<DUP>' ELSE toks[CAST(j AS INT)] END), ' ') AS masked_text,
       |  CAST(len(list_filter(range(1, len(toks) + 1), j ->
       |    len(list_filter(starts, s -> s <= j AND j <= s + ${spanN - 1})) > 0)) AS BIGINT)
       |    AS n_masked_tokens
       |FROM m ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q56
  /** Span-level decontamination: q53 flags contaminated doc PAIRS;
    * the drop-vs-trim decision needs the per-document contaminated
    * RATIO — the share of a corpus doc's 8-gram start positions whose
    * span appears in ANY benchmark document. Positions (not distinct
    * shingles) are the denominator so a benchmark phrase repeated five
    * times in a doc counts five times — the ratio approximates the
    * fraction of tokens that would survive a trim.
    *
    * Scale shape mirrors q53: the benchmark side collapses to a
    * DISTINCT shingle set and broadcasts (bounded by eval-suite
    * size); the corpus side is a left-semi probe of that broadcast —
    * corpus text and positions never shuffle, and the only exchange
    * is the per-doc count rollup on doc_id. */
  def q56SpanDecontam(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sp = Tables.documentsSpread(s, dir)
      .select($"doc_id", explode(spansN($"text", spanN)).as("sh"))
    val bench = sp.where($"doc_id" < contamBenchmarkIds).select($"sh").distinct()
    val contam = sp.where($"doc_id" >= contamBenchmarkIds)
      .join(broadcast(bench), Seq("sh"), "left_semi")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_contaminated"))
    Tables.documents(s, dir)
      .where($"doc_id" >= contamBenchmarkIds)
      .select($"doc_id",
        greatest(size(toks($"text")) - (spanN - 1), lit(0)).cast("long")
          .as("n_positions"))
      .join(contam, Seq("doc_id"), "left")
      .select($"doc_id", $"n_positions",
        coalesce($"n_contaminated", lit(0L)).as("n_contaminated"),
        when($"n_positions" === 0, 0.0)
          .otherwise(coalesce($"n_contaminated", lit(0L)).cast("double") /
            $"n_positions").as("contam_ratio"))
      .orderBy($"doc_id")
  }

  private val q56Oracle =
    s"""WITH $span8Cte,
       |b AS (SELECT DISTINCT sh FROM sp WHERE doc_id < $contamBenchmarkIds),
       |c AS (
       |  SELECT doc_id, count(*) AS nc FROM sp
       |  WHERE doc_id >= $contamBenchmarkIds AND sh IN (SELECT sh FROM b)
       |  GROUP BY 1),
       |d AS (
       |  SELECT doc_id,
       |    greatest(len(string_split(lower(text), ' ')) - ${spanN - 1}, 0) AS np
       |  FROM documents WHERE doc_id >= $contamBenchmarkIds)
       |SELECT d.doc_id AS doc_id, np AS n_positions,
       |  coalesce(nc, 0) AS n_contaminated,
       |  CASE WHEN np = 0 THEN 0.0
       |       ELSE CAST(coalesce(nc, 0) AS DOUBLE) / np END AS contam_ratio
       |FROM d LEFT JOIN c ON d.doc_id = c.doc_id
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q67
  /** SimHash: 64-bit locality-sensitive signature per document.
    * Per token, a 64-bit hash (md5 hex digits — engine-portable);
    * per bit, sum +1/-1 over tokens; sign → bit. Emitted as a
    * 64-char '0'/'1' string so the DuckDB oracle can reproduce it
    * byte-for-byte. Pure projection — zero shuffle; production would
    * pack the bits into a LONG and compare with bit_count(a ^ b). */
  private val hexVal: Column =
    map((0 until 16).flatMap(i => Seq(lit(f"$i%x"), lit(i))): _*)
  private val pow4 = Seq(1, 2, 4, 8)

  /** +1/-1 contribution of bit `b` (0-based) of md5-hex `h`. */
  private def bitContrib(h: Column, b: Column): Column = {
    val digit = element_at(hexVal, h.substr((b / 4).cast("int") + 1, lit(1)))
    val p = element_at(array(pow4.map(lit): _*), (b % 4).cast("int") + 1)
    when((digit / p).cast("int") % 2 === 1, 1).otherwise(-1)
  }

  /** Scalar-expression simhash over an arbitrary text Column (one
    * row in, one 64-char '0'/'1' signature out). Handy for ad-hoc
    * use and property tests; the relational queries use
    * [[simhashVotes]] instead — this expression is interpreted
    * (higher-order lambdas) and optimizer inlining re-evaluates it
    * wherever referenced, which is exactly wrong for a multi-stage
    * dedup plan. */
  def simhashCol(text: Column): Column = {
    val hashes = transform(toks(text), t => md5(t))
    val counts = aggregate(hashes,
      array_repeat(lit(0), 64),
      (acc, h) => zip_with(acc,
        transform(sequence(lit(0), lit(63)), b => bitContrib(h, b)),
        (x, y) => x + y))
    array_join(transform(counts, c => when(c > 0, "1").otherwise("0")), "")
  }

  /** Relational simhash: explode tokens, reduce 64 per-bit ±1 votes
    * with a codegen'd hash aggregate (map-side partial agg — at
    * 100 TB the shuffle carries 64 ints per doc, not tokens), then
    * derive the signature from the 64 scalar vote columns. No
    * interpreted higher-order lambdas anywhere: the scalar-expression
    * formulation ([[simhashCol]]) costs ~4 s per pass at sf0.1 and
    * gets re-evaluated by optimizer inlining wherever it's
    * referenced downstream; this one runs entirely in whole-stage
    * codegen and is safe to build on.
    *
    * Output: (doc_id, c0..c63 vote sums). Bit b of token = bit
    * `4*(3-((b div 4) mod 4)) + (b mod 4)` of the 16-bit int parsed
    * from md5-hex chars [4j+1, 4j+4], j = b div 16 — identical bit
    * order to [[simhashCol]]'s per-hex-digit extraction.
    */
  private def simhashVotes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tok = Tables.documentsSpread(s, dir)
      .select($"doc_id", explode(toks($"text")).as("t"))
      .select($"doc_id", md5($"t").as("h"))
      .select(($"doc_id" +: (0 until 4).map(j =>
        conv(substring($"h", 4 * j + 1, 4), 16, 10).cast("int").as(s"v$j"))): _*)
    val votes = (0 until 64).map { b =>
      val j = b / 16                       // which 16-bit word
      val k = (b / 4) % 4                  // hex char within the word
      val shift = 4 * (3 - k) + (b % 4)    // its bit within the word
      sum(shiftright(col(s"v$j"), shift).bitwiseAND(1) * 2 - 1).as(s"c$b")
    }
    tok.groupBy($"doc_id").agg(votes.head, votes.tail: _*)
  }

  def q67Simhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    simhashVotes(s, dir)
      .select($"doc_id",
        concat((0 until 64).map(b =>
          when(col(s"c$b") > 0, "1").otherwise("0")): _*).as("simhash"))
      .orderBy($"doc_id")
  }

  private val q67Oracle =
    """WITH tok AS (
      |  SELECT doc_id, md5(unnest(string_split(lower(text), ' '))) AS h
      |  FROM documents),
      |bits AS (
      |  SELECT doc_id, b,
      |    SUM(CASE WHEN ((strpos('0123456789abcdef',
      |            substr(h, CAST(b // 4 AS INT) + 1, 1)) - 1)
      |          // (CASE b % 4 WHEN 0 THEN 1 WHEN 1 THEN 2
      |                        WHEN 2 THEN 4 ELSE 8 END)) % 2 = 1
      |      THEN 1 ELSE -1 END) AS s
      |  FROM tok, range(0, 64) r(b)
      |  GROUP BY doc_id, b)
      |SELECT doc_id,
      |  string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS simhash
      |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q69
  /** SimHash near-dedup: band the 64-bit signature into 4×16-bit
    * blocks; candidates share a block (pigeonhole-exact for hamming
    * ≤ 3, probabilistic above); exact hamming filter ≤ 8. Shuffles
    * only (16-char key, doc_id) — the scale path for fuzzy dedup
    * when shingling is too expensive. */
  def q69SimhashNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Bands packed into 16-bit longs so the per-pair hamming is
    // 4 × bit_count(xor) (codegen'd) instead of a 64-element
    // interpreted string fold. Same bucket-group pattern as q65: one
    // scan, one shuffle, signature computed once per doc.
    val sig = simhashVotes(s, dir)
      .select($"doc_id", array((0 until 4).map { j =>
        (0 until 16).foldLeft(lit(0L)) { (acc, t) =>
          acc * 2 + when(col(s"c${16 * j + t}") > 0, 1L).otherwise(0L)
        }
      }: _*).as("bv"))
    val hamming = aggregate(
      zip_with($"p.a.bv", $"p.b.bv", (x, y) => bit_count(x.bitwiseXOR(y))),
      lit(0), (acc, v) => acc + v)
    sig
      .select($"doc_id", $"bv", posexplode($"bv"))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "key")
      .groupBy($"band", $"key")
      .agg(sort_array(collect_list(struct($"doc_id", $"bv"))).as("members"))
      .where(size($"members") >= 2)
      // see q66: keep the pair fan-out parallel despite tiny input bytes
      .repartition(s.sparkContext.defaultParallelism, $"band", $"key")
      .select(explode(pairUp($"members")).as("p"))
      .select($"p.a.doc_id".as("doc_a"), $"p.b.doc_id".as("doc_b"),
        hamming.as("hamming"))
      .distinct()
      .where($"hamming" <= 8)
      .orderBy($"doc_a", $"doc_b")
  }

  private val q69Oracle =
    """WITH sig AS (
      |  SELECT doc_id, simhash FROM (
      |    WITH tok AS (
      |      SELECT doc_id, md5(unnest(string_split(lower(text), ' '))) AS h
      |      FROM documents),
      |    bits AS (
      |      SELECT doc_id, b,
      |        SUM(CASE WHEN ((strpos('0123456789abcdef',
      |                substr(h, CAST(b // 4 AS INT) + 1, 1)) - 1)
      |              // (CASE b % 4 WHEN 0 THEN 1 WHEN 1 THEN 2
      |                            WHEN 2 THEN 4 ELSE 8 END)) % 2 = 1
      |          THEN 1 ELSE -1 END) AS s
      |      FROM tok, range(0, 64) r(b)
      |      GROUP BY doc_id, b)
      |    SELECT doc_id,
      |      string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS simhash
      |    FROM bits GROUP BY doc_id)),
      |banded AS (
      |  SELECT doc_id, simhash, b AS band, substr(simhash, CAST(b*16 AS INT)+1, 16) AS key
      |  FROM sig, range(0, 4) r(b)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b, a.simhash sa, b.simhash sb
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b,
      |  len(list_filter(range(1, 65), i -> substr(sa, CAST(i AS INT), 1) <> substr(sb, CAST(i AS INT), 1))) AS hamming
      |FROM cand
      |WHERE len(list_filter(range(1, 65), i -> substr(sa, CAST(i AS INT), 1) <> substr(sb, CAST(i AS INT), 1))) <= 8
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- q68
  /** Embedding-cosine near-dedup over `embeddings`: pairs with
    * cosine > 0.4. Brute-force O(n²) here (the oracle path); the
    * scale path is q71's IVF bucketing in SimilarityOps. Double math
    * is a strict left-to-right fold on both engines, so values match
    * bit-for-bit with no rounding. */
  def q68EmbeddingNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    embeddingPairs(s, dir).orderBy($"vec_a", $"vec_b")
  }

  /** q68's cosine pair set (cosine > 0.4) before ordering — shared
    * with q118's threshold calibration so the two can't diverge. */
  private def embeddingPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.VectorOps
    // Norms are computed once per row BELOW the join and carried as a
    // column — computing them inside the pair expression would redo
    // two 64-element folds per pair (O(n²) extra work). The streamed
    // side is repartitioned so the nested-loop join parallelizes
    // across cores instead of inheriting the single-file scan's one
    // partition.
    val e = Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding", VectorOps.norm($"embedding").as("nrm"))
    e.repartition(col("vec_id")).alias("a")
      .join(e.alias("b"), $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("vec_a"), $"b.vec_id".as("vec_b"),
        (VectorOps.dot($"a.embedding", $"b.embedding") /
          ($"a.nrm" * $"b.nrm")).as("cosine"))
      .where($"cosine" > 0.4)
  }

  /** Shared oracle CTE ending in the filtered pair set
    * `cp(vec_a, vec_b, cosine)` — q68 and q118 both build on it. */
  private val cosinePairsCte =
    """e AS (SELECT vec_id, embedding FROM embeddings),
      |p AS (
      |  SELECT a.vec_id vec_a, b.vec_id vec_b,
      |    list_reduce(list_transform(range(1, len(a.embedding) + 1),
      |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
      |      (x, y) -> x + y)
      |    / (sqrt(list_reduce(list_transform(range(1, len(a.embedding) + 1),
      |        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)),
      |        (x, y) -> x + y))
      |     * sqrt(list_reduce(list_transform(range(1, len(b.embedding) + 1),
      |        i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
      |        (x, y) -> x + y))) AS cosine
      |  FROM e a JOIN e b ON a.vec_id < b.vec_id),
      |cp AS (SELECT vec_a, vec_b, cosine FROM p WHERE cosine > 0.4)""".stripMargin

  private val q68Oracle =
    s"""WITH $cosinePairsCte
       |SELECT vec_a, vec_b, cosine FROM cp ORDER BY vec_a, vec_b""".stripMargin

  // ---------------------------------------------------------------- q118
  /** Similarity-threshold calibration curve — the diagnostic run
    * BEFORE committing to a near-dup cosine cutoff: bin the pair set
    * by similarity centile and report per-bin and
    * cumulative-from-above pair counts, i.e. how many pairs each
    * candidate threshold would merge. Reuses q68's pair build
    * verbatim (shared helper + shared oracle CTE). The curve is ≤60
    * rows, so the reverse-cumulative window is bounded — the only
    * corpus-scale work is the pair generation itself, which at
    * 100 TB comes from the LSH/IVF bucketed candidates (q52/q65),
    * not the all-pairs fixture join. floor(cosine·100) is exact
    * cross-engine because the cosines themselves hash-match (q68). */
  def q118ThresholdCurve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy($"centile".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    embeddingPairs(s, dir)
      .select(floor($"cosine" * 100).cast("long").as("centile"))
      .groupBy($"centile").agg(count(lit(1)).as("n_pairs"))
      .withColumn("n_pairs_at_or_above", sum($"n_pairs").over(w))
      .orderBy($"centile")
  }

  private val q118Oracle =
    s"""WITH $cosinePairsCte,
       |bins AS (
       |  SELECT CAST(floor(cosine * 100) AS BIGINT) AS centile, count(*) AS n_pairs
       |  FROM cp GROUP BY 1)
       |SELECT centile, n_pairs,
       |  CAST(SUM(n_pairs) OVER (ORDER BY centile DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS n_pairs_at_or_above
       |FROM bins ORDER BY centile""".stripMargin

  // ---------------------------------------------------------------- q113
  /** Cross-source overlap matrix — the dedup DIAGNOSTIC a corpus
    * curator reads before deciding which sources to drop or
    * down-weight: aggregate q66's exact near-dup pair set by the
    * (unordered) source pair of its endpoints. Reuses the one
    * jaccardPairs build (pair set ≪ corpus, so the two source
    * lookups are cheap id-keyed joins; the matrix itself is
    * n_sources² rows). avg similarity is rounded to 4 decimals —
    * partial-sum order over doubles is partitioning-dependent
    * (q73's device); the pair count and max are exact. */
  def q113SourceOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = Tables.documents(s, dir).select($"doc_id", $"source")
    jaccardPairs(s, dir)
      .join(src.select($"doc_id".as("doc_a"), $"source".as("sa")), Seq("doc_a"))
      .join(src.select($"doc_id".as("doc_b"), $"source".as("sb")), Seq("doc_b"))
      .groupBy(least($"sa", $"sb").as("source_a"),
        greatest($"sa", $"sb").as("source_b"))
      .agg(count(lit(1)).as("n_pairs"),
        round(avg($"jaccard"), 4).as("avg_jaccard"),
        max($"jaccard").as("max_jaccard"))
      .orderBy($"source_a", $"source_b")
  }

  private val q113Oracle =
    s"""WITH $jaccardPairsCte
       |SELECT least(x.source, y.source) AS source_a,
       |  greatest(x.source, y.source) AS source_b,
       |  count(*) AS n_pairs,
       |  round(avg(jaccard), 4) AS avg_jaccard,
       |  max(jaccard) AS max_jaccard
       |FROM jp
       |JOIN documents x ON jp.doc_a = x.doc_id
       |JOIN documents y ON jp.doc_b = y.doc_id
       |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin

  // ---------------------------------------------------------------- q114
  /** Incremental batch dedup — the admission check a 6-hourly
    * ingestion pipeline runs on every delivery: fingerprint the
    * arriving batch (docs ≡0 mod 7 stand in for it) and give each
    * row a verdict — `dup_of_corpus` (content already in the stored
    * table), `dup_in_batch` (an earlier row of the same delivery has
    * identical content), or `fresh`. This is the ETL content-dedup
    * load (etl/Load) re-expressed as a pure query so it is
    * oracle-checkable. The fixture corpus has no exact duplicates,
    * so both dup branches are PLANTED in-query (q57's device):
    * docs ≡0 mod 14 take a corpus doc's text verbatim, docs ≡0
    * mod 21 share one constant boilerplate string; the CASE order
    * resolves the mod-42 overlap identically in both engines. Only
    * 128-bit fingerprints shuffle — text never does; the corpus side
    * reduces to distinct fps before the join. */
  def q114IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val base = Tables.documents(s, dir)
    val batch = base.where($"doc_id" % 7 === 0)
      .withColumn("copy_id", $"doc_id" + 1)
      .join(base.select($"doc_id".as("copy_id"), $"text".as("copy_text")),
        Seq("copy_id"), "left")
      .withColumn("fp", md5(
        when($"doc_id" % 14 === 0, coalesce($"copy_text", $"text"))
          .when($"doc_id" % 21 === 0, lit("batch boilerplate duplicate"))
          .otherwise($"text")))
      .select($"doc_id", $"fp")
    val corpusFps = base.where($"doc_id" % 7 =!= 0)
      .select(md5($"text").as("fp")).distinct()
      .withColumn("in_corpus", lit(true))
    batch.join(corpusFps, Seq("fp"), "left")
      .withColumn("rn",
        row_number().over(Window.partitionBy($"fp").orderBy($"doc_id")))
      .select($"doc_id", $"fp",
        when($"in_corpus".isNotNull, "dup_of_corpus")
          .when($"rn" > 1, "dup_in_batch")
          .otherwise("fresh").as("verdict"))
      .orderBy($"doc_id")
  }

  private val q114Oracle =
    """WITH b0 AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0),
      |b AS (
      |  SELECT b0.doc_id,
      |    md5(CASE WHEN b0.doc_id % 14 = 0 THEN COALESCE(s.text, b0.text)
      |             WHEN b0.doc_id % 21 = 0 THEN 'batch boilerplate duplicate'
      |             ELSE b0.text END) AS fp
      |  FROM b0 LEFT JOIN documents s ON s.doc_id = b0.doc_id + 1),
      |c AS (
      |  SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 7 <> 0),
      |r AS (
      |  SELECT doc_id, fp, fp IN (SELECT fp FROM c) AS in_corpus,
      |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      |  FROM b)
      |SELECT doc_id, fp,
      |  CASE WHEN in_corpus THEN 'dup_of_corpus'
      |       WHEN rn > 1 THEN 'dup_in_batch'
      |       ELSE 'fresh' END AS verdict
      |FROM r ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q122
  /** Source-graph centrality (weighted PageRank, 5 rounds) — ranks
    * sources by how entangled they are in the cross-source near-dup
    * graph (q113's matrix as an adjacency): a source whose content
    * keeps resurfacing through other high-overlap sources scores
    * high and is the first candidate for aggressive dedup or
    * down-weighting. Demonstrates general ITERATIVE graph analytics
    * beyond q79's connected components. All arithmetic is
    * FIXED-POINT INTEGER (ranks scaled by 1e12, floor division at
    * every step) so five rounds of message-passing are bit-exact
    * regardless of partitioning or summation order — double-based
    * PageRank cannot be hash-oracled (summation order), integer
    * PageRank can. The oracle unrolls the same five rounds as
    * generated CTE stages from one shared formula. The graph is
    * n_sources² at most — node and edge frames are broadcast-sized;
    * the only corpus-scale work is the pair build (at 100 TB: LSH
    * candidates, as in q118). Isolated sources keep the teleport
    * mass only; dangling mass is dropped identically in both
    * engines. */
  val prScale = 1000000000000L
  val prRounds = 5

  def q122SourceCentrality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = Tables.documents(s, dir).select($"doc_id", $"source")
    val pairSrc = jaccardPairs(s, dir)
      .join(src.select($"doc_id".as("doc_a"), $"source".as("sa")), Seq("doc_a"))
      .join(src.select($"doc_id".as("doc_b"), $"source".as("sb")), Seq("doc_b"))
      .select($"sa", $"sb")
    // r16: the per-round loop used to re-join outW (loop-invariant —
    // out-weight per source never changes) and cross-join a broadcast
    // 1-row node count TWICE per round for the teleport term. Attach
    // outw to the checkpointed edge frame once, and fold n into
    // literals: nodes is already materialized, so counting it is a
    // near-free RDD job, and both `prScale div n` and the teleport
    // constant are plain Long divisions — identical integer arithmetic
    // to the SQL `div` on positive operands, so the emitted ranks are
    // bit-identical (the oracle confirms). Saves one join + two
    // broadcast-exchange builds per round on a ~n_sources²-row graph.
    val edges = pairSrc.select($"sa".as("src"), $"sb".as("dst"))
      .unionAll(pairSrc.select($"sb".as("src"), $"sa".as("dst")))
      .groupBy($"src", $"dst").agg(count(lit(1)).as("w"))
      .localCheckpoint()
    // second pin is over the tiny checkpointed frame, not the pair
    // build — the corpus-scale work runs exactly once
    val edgesW = edges
      .join(edges.groupBy($"src").agg(sum($"w").as("outw")), Seq("src"))
      .localCheckpoint()
    val nodes = src.select($"source").distinct().localCheckpoint()
    val n = nodes.count()
    // no sources means no ranks: stop before the divisions by n
    if (n == 0L) return nodes.select($"source", lit(0L).as("rank"))
    val teleport = ((15L * prScale) / 100L) / n
    var rank = nodes.select($"source", lit(prScale / n).as("rank"))
    for (_ <- 1 to prRounds) {
      val inflow = edgesW
        .join(rank.select($"source".as("src"), $"rank"), Seq("src"))
        .select($"dst".as("source"), expr("(rank * w) div outw").as("c"))
        .groupBy($"source").agg(sum($"c").as("inflow"))
      rank = nodes.join(inflow, Seq("source"), "left")
        .select($"source",
          (lit(teleport) + expr("(85 * coalesce(inflow, 0L)) div 100"))
            .as("rank"))
        .localCheckpoint()
    }
    rank.orderBy($"source")
  }

  private val q122Oracle = {
    val rounds = (1 to prRounds).map { i =>
      s"""r$i AS (
         |  SELECT nodes.source,
         |    ((15 * $prScale) // 100) // n
         |      + (85 * COALESCE(c.inflow, 0)) // 100 AS rank
         |  FROM nodes LEFT JOIN (
         |    SELECT dst AS source,
         |      CAST(sum((r.rank * e2.w) // ow.outw) AS BIGINT) AS inflow
         |    FROM e2 JOIN r${i - 1} r ON e2.src = r.source
         |    JOIN ow ON e2.src = ow.src
         |    GROUP BY dst) c ON nodes.source = c.source, cnt)""".stripMargin
    }.mkString(",\n")
    s"""WITH $jaccardPairsCte,
       |ps AS (
       |  SELECT x.source AS sa, y.source AS sb
       |  FROM jp JOIN documents x ON jp.doc_a = x.doc_id
       |  JOIN documents y ON jp.doc_b = y.doc_id),
       |e2 AS (
       |  SELECT src, dst, count(*) AS w FROM (
       |    SELECT sa AS src, sb AS dst FROM ps
       |    UNION ALL SELECT sb, sa FROM ps)
       |  GROUP BY 1, 2),
       |ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS outw FROM e2 GROUP BY src),
       |nodes AS (SELECT DISTINCT source FROM documents),
       |cnt AS (SELECT count(*) AS n FROM nodes),
       |r0 AS (SELECT source, $prScale // n AS rank FROM nodes, cnt),
       |$rounds
       |SELECT source, rank FROM r$prRounds ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- q126
  /** Hard-negative mining for contrastive embedding training: for
    * every vector, the most similar OTHER vector inside the
    * similar-but-not-duplicate band (0.4 < cosine ≤ [[hardNegCap]])
    * — similar enough to be informative, below the near-dup line so
    * the pair isn't a false negative. Reuses q68's shared pair
    * build; the symmetric expansion + per-vector top-1 is one
    * window over the pair set ordered (cosine DESC, partner ASC) so
    * ties break identically in both engines. At 100 TB the pair
    * set comes from LSH/IVF candidates (q52/q71) and the window
    * input is candidates-per-vector, not n². */
  val hardNegCap = 0.8

  def q126HardNegatives(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val p = embeddingPairs(s, dir).where($"cosine" <= hardNegCap)
    val sym = p.select($"vec_a".as("vec_id"), $"vec_b".as("neg_id"), $"cosine")
      .unionAll(p.select($"vec_b".as("vec_id"), $"vec_a".as("neg_id"), $"cosine"))
    val w = Window.partitionBy($"vec_id")
      .orderBy($"cosine".desc, $"neg_id".asc)
    sym.withColumn("rn", row_number().over(w))
      .where($"rn" === 1)
      .select($"vec_id", $"neg_id".as("hard_neg_id"), $"cosine")
      .orderBy($"vec_id")
  }

  private val q126Oracle =
    s"""WITH $cosinePairsCte,
       |sym AS (
       |  SELECT vec_a AS vec_id, vec_b AS neg_id, cosine FROM cp
       |  WHERE cosine <= $hardNegCap
       |  UNION ALL
       |  SELECT vec_b, vec_a, cosine FROM cp WHERE cosine <= $hardNegCap)
       |SELECT vec_id, neg_id AS hard_neg_id, cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cosine DESC, neg_id ASC) AS rn
       |  FROM sym)
       |WHERE rn = 1 ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- q120
  /** Leakage-safe train/val/test split — q91's split drawn on the
    * near-dup CLUSTER id instead of the doc id, so transitive
    * near-duplicates can never straddle train and eval (the
    * train-on-one-copy / evaluate-on-the-other leak that inflates
    * benchmark scores). Composes q79's connected-component fixpoint
    * with q91's salted-md5 bucketing: every member of a cluster
    * hashes the same cluster_id and therefore lands in the same
    * split; singletons (cluster_id = own id) reduce exactly to
    * q91's assignment. Same cost as q79 plus one projection. */
  def q120LeakageSafeSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (tr, va) = TextOps.splitPcts
    val bucket = conv(substring(md5(concat(lit("split:"),
      $"cluster_id".cast("string"))), 1, 4), 16, 10).cast("long") % 100
    ccLabels(s, dir)
      .withColumn("bucket", bucket)
      .select($"doc_id", $"cluster_id", $"bucket",
        when($"bucket" < tr, "train")
          .when($"bucket" < tr + va, "val")
          .otherwise("test").as("split"))
      .orderBy($"doc_id")
  }

  private val q120Oracle = {
    val (tr, va) = TextOps.splitPcts
    s"""WITH RECURSIVE $ccCte
       |SELECT doc_id, cluster_id, bucket,
       |  CASE WHEN bucket < $tr THEN 'train'
       |       WHEN bucket < ${tr + va} THEN 'val'
       |       ELSE 'test' END AS split
       |FROM (
       |  SELECT doc_id, cluster_id,
       |    ('0x' || substr(md5('split:' || CAST(cluster_id AS VARCHAR)), 1, 4))::BIGINT
       |      % 100 AS bucket
       |  FROM lab)
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q131
  /** Pipeline retention ledger — the top-line report every curation
    * run ends with: docs and tokens surviving each cumulative stage
    * (raw → exact dedup keeper → near-dup cluster keeper → quality
    * gate), so attrition is attributable to a stage before anyone
    * ships the corpus. One pass computes every flag (exact keeper =
    * min doc per content fingerprint via a window on md5(text);
    * near-dup keeper from q79's fixpoint; quality = q62's composite
    * ≥ 0.6 — the production gate composes q124's full funnel, same
    * shape), ONE aggregate row carries all eight conditional sums,
    * and `stack` unpivots it to the 4-row ledger — no per-stage
    * re-scan. Token counts are exact integers. */
  def q131RetentionLedger(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(md5($"text"))
    val base = Tables.documents(s, dir)
      .select($"doc_id", $"text",
        size(split(lower($"text"), " ")).cast("long").as("ntok"))
      .withColumn("ex_keep", $"doc_id" === min($"doc_id").over(w))
      .drop("text")
    val cc = q79NeardupClusters(s, dir).select($"doc_id", $"is_keeper".as("cc_keep"))
    val ql = TextOps.qualityScores(s, dir)
      .select($"doc_id", ($"quality_score" >= 0.6).as("q_keep"))
    base.join(cc, Seq("doc_id")).join(ql, Seq("doc_id"))
      .agg(
        count(lit(1)).as("c0"), sum($"ntok").as("t0"),
        sum(when($"ex_keep", 1L).otherwise(0L)).as("c1"),
        sum(when($"ex_keep", $"ntok").otherwise(0L)).as("t1"),
        sum(when($"ex_keep" && $"cc_keep", 1L).otherwise(0L)).as("c2"),
        sum(when($"ex_keep" && $"cc_keep", $"ntok").otherwise(0L)).as("t2"),
        sum(when($"ex_keep" && $"cc_keep" && $"q_keep", 1L).otherwise(0L)).as("c3"),
        sum(when($"ex_keep" && $"cc_keep" && $"q_keep", $"ntok").otherwise(0L)).as("t3"))
      .selectExpr(
        """stack(4,
          |  0L, 'raw',            c0, t0,
          |  1L, 'exact_dedup',    c1, t1,
          |  2L, 'neardup_keeper', c2, t2,
          |  3L, 'quality',        c3, t3)
          |AS (stage_no, stage, n_docs, n_tokens)""".stripMargin)
      .orderBy($"stage_no")
  }

  private lazy val q131Oracle = {
    val stop = TextOps.stopwords.map(w => s"'$w'").mkString(",")
    s"""WITH RECURSIVE $ccCte,
       |ex AS (
       |  SELECT doc_id,
       |    doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS ex_keep
       |  FROM documents),
       |ql AS (
       |  SELECT doc_id,
       |    LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5
       |    + CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE)
       |      / len(string_split(lower(text), ' ')) * 0.3
       |    + (1.0 - CAST(len(list_filter(string_split(lower(text), ' '),
       |          x -> x IN ($stop))) AS DOUBLE)
       |        / len(string_split(lower(text), ' '))) * 0.2 >= 0.6 AS q_keep
       |  FROM documents),
       |fl AS (
       |  SELECT d.doc_id, CAST(len(t.toks) AS BIGINT) AS ntok,
       |    ex.ex_keep, lab.cluster_id = d.doc_id AS cc_keep, ql.q_keep
       |  FROM documents d
       |  JOIN t ON d.doc_id = t.doc_id
       |  JOIN ex ON d.doc_id = ex.doc_id
       |  JOIN lab ON d.doc_id = lab.doc_id
       |  JOIN ql ON d.doc_id = ql.doc_id)
       |SELECT 0 AS stage_no, 'raw' AS stage, count(*) AS n_docs,
       |  CAST(sum(ntok) AS BIGINT) AS n_tokens FROM fl
       |UNION ALL
       |SELECT 1, 'exact_dedup', count(*), CAST(sum(ntok) AS BIGINT)
       |FROM fl WHERE ex_keep
       |UNION ALL
       |SELECT 2, 'neardup_keeper', count(*), CAST(sum(ntok) AS BIGINT)
       |FROM fl WHERE ex_keep AND cc_keep
       |UNION ALL
       |SELECT 3, 'quality', count(*), CAST(sum(ntok) AS BIGINT)
       |FROM fl WHERE ex_keep AND cc_keep AND q_keep
       |ORDER BY stage_no""".stripMargin
  }

  // ---------------------------------------------------------------- q155
  /** Boilerplate span catalog — the INSPECTION twin of q55/q58:
    * instead of per-doc duplicated-span counts, surface WHICH spans
    * are the boilerplate (license headers, nav chrome, quote chains)
    * as the top-100 cross-document 8-grams with occurrence counts, a
    * document-frequency count, and a sample doc to eyeball. This is
    * the report a curation engineer reads before choosing q58's mask
    * list or q55's drop threshold.
    *
    * Scale shape: positional spans ([[spansN]] — multiplicity kept, so
    * n_occurrences counts repeats inside one doc too) shuffle once on
    * the span for a single partial-agg'd groupBy; text never
    * shuffles. The top-100 cut is a `sort+limit`, which Spark plans
    * as TakeOrderedAndProject — per-partition partial top-k, never a
    * global sort. The ORDER BY is a TOTAL order (count desc, df
    * desc, span asc — span is the grouping key, hence unique), so
    * the 100-row cut is deterministic and hash-oracle-able. */
  val catalogTopK = 100

  def q155BoilerplateCatalog(s: SparkSession, dir: String): DataFrame =
    catalogOf(Tables.documentsSpread(s, dir))

  /** The catalog on any (doc_id, text) frame — separated so the spec
    * can plant a known shared span and single-doc repeats. */
  private[ops] def catalogOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"doc_id", explode(spansN($"text", spanN)).as("sh"))
      .groupBy($"sh")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct($"doc_id").as("n_docs"),
        min($"doc_id").as("sample_doc"))
      .where($"n_docs" >= 2)
      .orderBy($"n_occurrences".desc, $"n_docs".desc, $"sh")
      .limit(catalogTopK)
  }

  private val q155Oracle =
    s"""WITH $span8Cte
       |SELECT sh, CAST(count(*) AS BIGINT) AS n_occurrences,
       |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  min(doc_id) AS sample_doc
       |FROM sp GROUP BY sh HAVING count(DISTINCT doc_id) >= 2
       |ORDER BY n_occurrences DESC, n_docs DESC, sh
       |LIMIT $catalogTopK""".stripMargin

  // ---------------------------------------------------------------- q243
  /** Field-level golden record — the MDM survivorship step after
    * clustering: q74 KEEPS one member per near-dup cluster wholesale;
    * a master-data pipeline instead MERGES fields by rule, each
    * column surviving from the member that wins its rule. Rules
    * here (each a deterministic argmin/argmax): representative id =
    * min doc_id; content from the LONGEST text (ties → smaller id);
    * language by MAJORITY vote (ties → lexicographically first);
    * provenance = distinct source count. Only multi-member clusters
    * emit (singletons are their own golden record by identity — no
    * corpus-sized echo).
    *
    * Plan: the working-set labels (tiny by construction) broadcast
    * against the corpus — q74's device — so all survivorship
    * windows/aggregates run on cluster-member rows only; the corpus
    * never shuffles on cluster_id. Argmax picks encode as min over
    * sign-flipped structs so both engines resolve ties identically. */
  def q243GoldenRecord(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val members = broadcast(ccLabelsWorking(s, dir)
      .select($"doc_id", $"lbl".as("cluster_id")))
      .join(Tables.documents(s, dir), "doc_id")
    val multi = members
      .withColumn("sz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"cluster_id")))
      .where($"sz" > 1)
    val langVotes = multi.groupBy($"cluster_id", $"lang")
      .agg(count(lit(1)).as("votes"))
      .groupBy($"cluster_id")
      .agg(min(struct((-$"votes").as("nv"), $"lang")).as("lv"))
      .select($"cluster_id", $"lv.lang".as("modal_lang"))
    multi
      .groupBy($"cluster_id")
      .agg(count(lit(1)).as("n_members"),
        min($"doc_id").as("rep_doc_id"),
        min(struct((-$"n_chars").as("nc"), $"doc_id")).as("pick"),
        countDistinct($"source").as("n_sources"))
      .select($"cluster_id", $"n_members", $"rep_doc_id",
        $"pick.doc_id".as("content_doc_id"), (-$"pick.nc").as("content_chars"),
        $"n_sources")
      .join(langVotes, "cluster_id")
      .select($"cluster_id", $"n_members", $"rep_doc_id", $"content_doc_id",
        $"content_chars", $"modal_lang", $"n_sources")
      .orderBy($"cluster_id")
  }

  private val q243Oracle =
    s"""WITH RECURSIVE $ccCte,
       |m AS (
       |  SELECT lab.doc_id, cluster_id, d.lang, d.source, d.n_chars
       |  FROM lab JOIN documents d ON lab.doc_id = d.doc_id),
       |msz AS (
       |  SELECT cluster_id FROM m GROUP BY 1 HAVING count(*) > 1),
       |mm AS (SELECT m.* FROM m JOIN msz USING (cluster_id)),
       |lv AS (
       |  SELECT cluster_id, lang AS modal_lang FROM (
       |    SELECT cluster_id, lang, row_number() OVER (
       |      PARTITION BY cluster_id
       |      ORDER BY count(*) DESC, lang ASC) AS rn
       |    FROM mm GROUP BY cluster_id, lang) WHERE rn = 1),
       |pick AS (
       |  SELECT cluster_id, doc_id AS content_doc_id,
       |    n_chars AS content_chars FROM (
       |    SELECT cluster_id, doc_id, n_chars, row_number() OVER (
       |      PARTITION BY cluster_id
       |      ORDER BY n_chars DESC, doc_id ASC) AS rn
       |    FROM mm) WHERE rn = 1),
       |agg AS (
       |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
       |    min(doc_id) AS rep_doc_id,
       |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources
       |  FROM mm GROUP BY 1)
       |SELECT a.cluster_id, a.n_members, a.rep_doc_id,
       |  p.content_doc_id, p.content_chars, l.modal_lang, a.n_sources
       |FROM agg a JOIN pick p USING (cluster_id)
       |JOIN lv l USING (cluster_id)
       |ORDER BY a.cluster_id""".stripMargin

  // ---------------------------------------------------------------- q256
  /** Dedup ROI forecast — what running q79's near-dup dedup would
    * actually BUY, by cluster size: for each multiplicity k, how many
    * clusters, how many docs a keep-one policy removes (k−1 each),
    * and the exact bytes freed (cluster bytes minus the min-id
    * keeper's — q79's keeper rule, so the forecast matches what the
    * dedup would do, not an average). The capacity-planning /
    * go-no-go number a pipeline wants BEFORE paying for the full
    * dedup+rewrite; the size histogram also fingerprints the dup
    * generator (boilerplate families show as heavy k≥3 tails,
    * mirrored crawls as k=2 mass).
    *
    * Scale shape: the working-set labels (docs in ≥1 pair — tiny by
    * construction) broadcast-join n_chars, one cluster-grain agg,
    * then a SIZE-cardinality agg; the corpus itself is scanned once
    * and never shuffled. */
  def q256DedupRoi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bytes = Tables.documents(s, dir).select($"doc_id", $"n_chars")
    val perCluster = broadcast(ccLabelsWorking(s, dir))
      .join(bytes, "doc_id")
      .groupBy($"lbl")
      .agg(count(lit(1)).as("sz"), sum($"n_chars").as("bt"),
        sum(when($"doc_id" === $"lbl", $"n_chars").otherwise(0L)).as("kb"))
    perCluster.groupBy($"sz".as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum($"sz" - 1).as("n_removable"),
        sum($"bt" - $"kb").as("bytes_saved"))
      .orderBy($"cluster_size")
  }

  private lazy val q256Oracle =
    s"""WITH RECURSIVE $ccCte,
       |mult AS (
       |  SELECT l.cluster_id, CAST(count(*) AS BIGINT) AS sz,
       |    CAST(sum(d.n_chars) AS BIGINT) AS bt,
       |    CAST(sum(CASE WHEN l.doc_id = l.cluster_id THEN d.n_chars
       |      ELSE 0 END) AS BIGINT) AS kb
       |  FROM lab l JOIN documents d USING (doc_id)
       |  GROUP BY 1 HAVING count(*) >= 2)
       |SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
       |  CAST(sum(sz - 1) AS BIGINT) AS n_removable,
       |  CAST(sum(bt - kb) AS BIGINT) AS bytes_saved
       |FROM mult GROUP BY 1 ORDER BY cluster_size""".stripMargin

  // ---------------------------------------------------------------- q265
  /** Candidate (bands, rows-per-band) configs at a fixed 16-hash
    * signature budget, and a shared expression generator: the
    * fixed-point milli power ((…(1000·s) div 1000…) unrolled k
    * times) is emitted for BOTH engines from one function, so the
    * probability arithmetic can never diverge. */
  val lshConfigs: Seq[(Int, Int)] = Seq((16, 1), (8, 2), (4, 4), (2, 8))

  private def powMilli(v: String, k: Int, divOp: String): String =
    (1 to k).foldLeft("1000")((a, _) => s"(($a * $v) $divOp 1000)")

  /** Catch probability 1 − (1 − s^r)^b in exact milli fixed-point. */
  private def catchMilli(b: Int, r: Int, divOp: String): String =
    s"(1000 - ${powMilli(s"(1000 - ${powMilli("sm", r, divOp)})", b, divOp)})"

  /** LSH configuration advisor MEASURED on this corpus — which
    * (bands × rows) layout of a 16-hash MinHash signature would
    * actually catch the near-dup pairs q66 finds: for each config,
    * the expected recall Σ (1 − (1 − s^r)^b) / |pairs| over the
    * OBSERVED pair-similarity distribution (not the textbook S-curve
    * at an assumed threshold — the corpus's own mix of 0.5–1.0
    * similarities is what decides). All probability arithmetic is
    * exact milli fixed-point on floor(1000·jaccard), engine-shared
    * by construction. The planner's reading: more rows per band
    * sharpens the high-sim knee but drops borderline pairs; this
    * prices that tradeoff in expected-recall ppm before anyone
    * re-signs the corpus.
    *
    * Scale shape: the pair set is the working set (tiny by
    * construction); ONE aggregate computes all four configs'
    * sums, then a 4-row literal spine unpivots — no per-config
    * rescans. */
  def q265LshAdvisor(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sims = jaccardPairs(s, dir)
      .select(floor($"jaccard" * 1000).cast("long").as("sm"))
    val aggs = lshConfigs.zipWithIndex.map { case ((b, r), i) =>
      sum(expr(catchMilli(b, r, "div"))).as(s"c$i")
    }
    val one = sims.agg(count(lit(1)).as("np"), aggs: _*)
    val spine = s.range(0, lshConfigs.length).select($"id".as("i"))
    val bCase = lshConfigs.zipWithIndex
      .map { case ((b, _), i) => s"WHEN $i THEN ${b}L" }.mkString(" ")
    val rCase = lshConfigs.zipWithIndex
      .map { case ((_, r), i) => s"WHEN $i THEN ${r}L" }.mkString(" ")
    val cCase = lshConfigs.indices
      .map(i => s"WHEN $i THEN c$i").mkString(" ")
    one.crossJoin(spine)
      .select(expr(s"CASE i $bCase END").as("bands"),
        expr(s"CASE i $rCase END").as("rows_per_band"),
        expr(s"(1000 * (CASE i $cCase END)) div np")
          .as("expected_recall_ppm"))
      .orderBy($"rows_per_band")
  }

  private val q265Oracle = {
    val branches = lshConfigs.map { case (b, r) =>
      s"""SELECT CAST($b AS BIGINT) AS bands,
         |  CAST($r AS BIGINT) AS rows_per_band,
         |  CAST((1000 * sum(${catchMilli(b, r, "//")})) // count(*)
         |    AS BIGINT) AS expected_recall_ppm
         |FROM sm""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $jaccardPairsCte,
       |sm AS (
       |  SELECT CAST(floor(jaccard * 1000) AS BIGINT) AS sm FROM jp)
       |SELECT * FROM (
       |$branches)
       |ORDER BY rows_per_band""".stripMargin
  }

  // ---------------------------------------------------------------- q268
  /** Dedup-method agreement matrix — do the family's detectors see
    * the SAME duplicates, the diagnostic run before trusting any one
    * of them: the pair sets of exact fingerprinting (q64's canon
    * md5, group-capped like every pair generator here), shingle
    * Jaccard ≥ 0.5 (q66), and asymmetric containment ≥ 0.8 (q160)
    * are cross-tabulated pairwise — both / only-A / only-B counts
    * and the pair-set Jaccard in ppm. The reading: exact ⊂ Jaccard
    * ⊂ containment is the healthy nesting; a method finding pairs
    * the others never see is either its unique value (containment's
    * subsumption catches what symmetric Jaccard can't) or its noise.
    *
    * Scale shape: every input is an existing working-set pair
    * generator; the union is pair-grain, one (doc_a, doc_b) agg,
    * one single-row agg, and a 3-row literal spine. */
  def q268MethodAgreement(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val exact = Tables.documents(s, dir)
      .select($"doc_id", md5(canon($"text")).as("fp"))
      .groupBy($"fp")
      .agg(sort_array(collect_list(struct($"doc_id", lit(0L).as("n"))))
        .as("members"))
      .where(size($"members") >= 2 && size($"members") <= maxGroupSize)
      .select(explode(pairUp($"members")).as("p"))
      .select($"p.a.doc_id".as("doc_a"), $"p.b.doc_id".as("doc_b"))
    val jac = jaccardPairs(s, dir).select($"doc_a", $"doc_b")
    val cont = containmentPairsOf(Tables.documentsSpread(s, dir))
      .select($"doc_a", $"doc_b")
    val tagged = exact.withColumn("m", lit("e"))
      .unionAll(jac.withColumn("m", lit("j")))
      .unionAll(cont.withColumn("m", lit("c")))
    val flags = tagged.groupBy($"doc_a", $"doc_b")
      .agg(max(when($"m" === "e", 1L).otherwise(0L)).as("e"),
        max(when($"m" === "j", 1L).otherwise(0L)).as("j"),
        max(when($"m" === "c", 1L).otherwise(0L)).as("c"))
    val one = flags.agg(
      sum($"e" * $"j").as("ej"), sum($"e" * (lit(1L) - $"j")).as("eoj"),
      sum((lit(1L) - $"e") * $"j").as("joe"),
      sum($"e" * $"c").as("ec"), sum($"e" * (lit(1L) - $"c")).as("eoc"),
      sum((lit(1L) - $"e") * $"c").as("coe"),
      sum($"j" * $"c").as("jc"), sum($"j" * (lit(1L) - $"c")).as("joc"),
      sum((lit(1L) - $"j") * $"c").as("coj"))
    val spine = s.range(0, 3).select($"id".as("i"))
    one.crossJoin(spine)
      .select(
        expr("CASE i WHEN 0 THEN 'exact' WHEN 1 THEN 'exact' " +
          "ELSE 'jaccard' END").as("method_a"),
        expr("CASE i WHEN 0 THEN 'jaccard' WHEN 1 THEN 'containment' " +
          "ELSE 'containment' END").as("method_b"),
        expr("CASE i WHEN 0 THEN ej WHEN 1 THEN ec ELSE jc END")
          .as("n_both"),
        expr("CASE i WHEN 0 THEN eoj WHEN 1 THEN eoc ELSE joc END")
          .as("n_only_a"),
        expr("CASE i WHEN 0 THEN joe WHEN 1 THEN coe ELSE coj END")
          .as("n_only_b"))
      .withColumn("agreement_ppm",
        expr("(1000000 * n_both) div (n_both + n_only_a + n_only_b)"))
      .orderBy($"method_a", $"method_b")
  }

  /** q268's oracle re-states q160's containment body over the shared
    * shingle base (jaccardPairsCte brings p/sz/jp into scope) —
    * thresholds interpolated from the same constants, so the three
    * pair definitions stay in lockstep with their home queries. */
  private lazy val q268Oracle =
    s"""WITH $jaccardPairsCte,
       |cp AS (
       |  SELECT doc_a, doc_b
       |  FROM p JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
       |  WHERE greatest(CAST(inter AS DOUBLE) / x.n,
       |                 CAST(inter AS DOUBLE) / y.n)
       |        >= $containmentThreshold),
       |fpg AS (
       |  SELECT md5(regexp_replace(lower(text), ' +', ' ', 'g')) AS fp,
       |    doc_id
       |  FROM documents),
       |gs AS (SELECT fp, count(*) AS cnt FROM fpg GROUP BY 1),
       |ep AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM fpg a JOIN fpg b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  JOIN gs ON gs.fp = a.fp
       |  WHERE gs.cnt BETWEEN 2 AND $maxGroupSize),
       |tagged AS (
       |  SELECT doc_a, doc_b, 'e' AS m FROM ep
       |  UNION ALL SELECT doc_a, doc_b, 'j' FROM jp
       |  UNION ALL SELECT doc_a, doc_b, 'c' FROM cp),
       |flags AS (
       |  SELECT doc_a, doc_b,
       |    CAST(max(CASE WHEN m = 'e' THEN 1 ELSE 0 END) AS BIGINT) AS e,
       |    CAST(max(CASE WHEN m = 'j' THEN 1 ELSE 0 END) AS BIGINT) AS j,
       |    CAST(max(CASE WHEN m = 'c' THEN 1 ELSE 0 END) AS BIGINT) AS c
       |  FROM tagged GROUP BY 1, 2),
       |one AS (
       |  SELECT CAST(sum(e * j) AS BIGINT) AS ej,
       |    CAST(sum(e * (1 - j)) AS BIGINT) AS eoj,
       |    CAST(sum((1 - e) * j) AS BIGINT) AS joe,
       |    CAST(sum(e * c) AS BIGINT) AS ec,
       |    CAST(sum(e * (1 - c)) AS BIGINT) AS eoc,
       |    CAST(sum((1 - e) * c) AS BIGINT) AS coe,
       |    CAST(sum(j * c) AS BIGINT) AS jc,
       |    CAST(sum(j * (1 - c)) AS BIGINT) AS joc,
       |    CAST(sum((1 - j) * c) AS BIGINT) AS coj
       |  FROM flags)
       |SELECT method_a, method_b, n_both, n_only_a, n_only_b,
       |  CAST((1000000 * n_both) // (n_both + n_only_a + n_only_b)
       |    AS BIGINT) AS agreement_ppm
       |FROM (
       |  SELECT 'exact' AS method_a, 'jaccard' AS method_b,
       |    ej AS n_both, eoj AS n_only_a, joe AS n_only_b FROM one
       |  UNION ALL SELECT 'exact', 'containment', ec, eoc, coe FROM one
       |  UNION ALL SELECT 'jaccard', 'containment', jc, joc, coj FROM one)
       |ORDER BY method_a, method_b""".stripMargin

  // ---------------------------------------------------------------- q280
  /** Candidate-pair budget advisor — the pre-flight cost read BEFORE
    * launching a dedup pass: for each candidate generator (shingle
    * blocks, minhash band buckets) the bucket-size histogram folded
    * to Σ m(m−1)/2 — exactly the pair fan-out the generator would
    * emit — split into within-cap work vs what the [[maxGroupSize]]
    * guard would DROP (and how many hot buckets trip it). q265 tunes
    * the LSH band geometry for recall; this prices the run and
    * proves the cap's protection quantitatively: on adversarial
    * boilerplate the dropped column is where the k² explosion went.
    *
    * Scale shape: each generator's bucket histogram is one partial
    * agg over its existing key frame ([[minhashBanded]] /
    * the q66 shingle explode — shared code, no drift); the fold to
    * the 2-row report is bucket-grain. No pairs are materialized —
    * that is the point. */
  def q280PairBudget(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val shingleSizes = Tables.documentsSpread(s, dir)
      .select($"doc_id", explode(shingles3($"text")).as("sh"))
      .groupBy($"sh").agg(count(lit(1)).as("m"))
      .select(lit("shingle").as("method"), $"m")
    val bandSizes = minhashBanded(s, dir)
      .groupBy($"band", $"bucket").agg(count(lit(1)).as("m"))
      .select(lit("minhash_band").as("method"), $"m")
    shingleSizes.unionByName(bandSizes)
      .where($"m" >= 2)
      .groupBy($"method")
      .agg(count(lit(1)).as("n_buckets"),
        sum(when($"m" > maxGroupSize, 1L).otherwise(0L)).as("n_hot_buckets"),
        sum(expr(s"CASE WHEN m <= $maxGroupSize THEN (m * (m - 1)) div 2" +
          " ELSE 0 END")).as("pairs_within_cap"),
        sum(expr(s"CASE WHEN m > $maxGroupSize THEN (m * (m - 1)) div 2" +
          " ELSE 0 END")).as("pairs_dropped"))
      .orderBy($"method")
  }

  private lazy val q280Oracle =
    s"""WITH $minhashBandsCte,
       |ssz AS (SELECT sh, CAST(count(*) AS BIGINT) AS m FROM shd GROUP BY 1),
       |bsz AS (
       |  SELECT band, bucket, CAST(count(*) AS BIGINT) AS m
       |  FROM bands GROUP BY 1, 2),
       |allm AS (
       |  SELECT 'shingle' AS method, m FROM ssz
       |  UNION ALL SELECT 'minhash_band', m FROM bsz)
       |SELECT method, CAST(count(*) AS BIGINT) AS n_buckets,
       |  CAST(sum(CASE WHEN m > $maxGroupSize THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_hot_buckets,
       |  CAST(sum(CASE WHEN m <= $maxGroupSize THEN (m * (m - 1)) // 2
       |    ELSE 0 END) AS BIGINT) AS pairs_within_cap,
       |  CAST(sum(CASE WHEN m > $maxGroupSize THEN (m * (m - 1)) // 2
       |    ELSE 0 END) AS BIGINT) AS pairs_dropped
       |FROM allm WHERE m >= 2 GROUP BY 1 ORDER BY method""".stripMargin

  // ---------------------------------------------------------------- q281
  /** Chapman capture–recapture estimate of the TOTAL near-dup pair
    * population — q268 cross-tabs what the detectors found; this
    * estimates what NEITHER found: treat q65's minhash-LSH catch and
    * q69's simhash catch as two captures of the same duplicate-pair
    * population and apply Chapman's bias-corrected Lincoln–Petersen
    * N̂ = (n₁+1)(n₂+1)/(m+1) − 1 (exact BIGINT here), pricing the
    * residual risk (est_missed) a "run two detectors" pipeline still
    * carries. Honest caveat carried in the Scaladoc: the estimator
    * assumes independent captures; two hash families sampling the
    * SAME similarity are positively correlated, which biases N̂ LOW —
    * so est_missed is a floor, exactly the conservative direction a
    * risk readout wants.
    *
    * Scale shape: both inputs are the existing capped generators;
    * the overlap is one pair-grain join; the report is one row. */
  def q281DedupRecapture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val s1 = q65MinhashLsh(s, dir).select($"doc_a", $"doc_b")
    val s2 = q69SimhashNearDup(s, dir).select($"doc_a", $"doc_b")
    s1.agg(count(lit(1)).as("n1"))
      .crossJoin(s2.agg(count(lit(1)).as("n2")))
      .crossJoin(s1.join(s2, Seq("doc_a", "doc_b"))
        .agg(count(lit(1)).as("m")))
      .select($"n1".as("n_minhash"), $"n2".as("n_simhash"),
        $"m".as("n_both"), ($"n1" + $"n2" - $"m").as("n_union"),
        expr("((n1 + 1) * (n2 + 1)) div (m + 1) - 1").as("est_total"))
      .withColumn("est_missed",
        greatest(lit(0L), $"est_total" - $"n_union"))
  }

  private lazy val q281Oracle =
    s"""WITH s1 AS (SELECT doc_a, doc_b FROM ($q65Oracle)),
       |s2 AS (SELECT doc_a, doc_b FROM ($q69Oracle)),
       |c1 AS (SELECT CAST(count(*) AS BIGINT) AS n1 FROM s1),
       |c2 AS (SELECT CAST(count(*) AS BIGINT) AS n2 FROM s2),
       |cm AS (
       |  SELECT CAST(count(*) AS BIGINT) AS m
       |  FROM s1 JOIN s2 USING (doc_a, doc_b))
       |SELECT n1 AS n_minhash, n2 AS n_simhash, m AS n_both,
       |  n1 + n2 - m AS n_union,
       |  ((n1 + 1) * (n2 + 1)) // (m + 1) - 1 AS est_total,
       |  greatest(0, ((n1 + 1) * (n2 + 1)) // (m + 1) - 1 - (n1 + n2 - m))
       |    AS est_missed
       |FROM c1, c2, cm""".stripMargin

  // ---------------------------------------------------------------- q290
  /** Near-dup cluster density audit — the overmerge diagnostic for
    * transitive clustering: q79 merges by connected components, so a
    * CHAIN A~B~C~D lands in one cluster even though A and D share
    * nothing. Density = observed q66 edges / possible pairs per
    * cluster: 10⁶ ppm means a clique (every member is genuinely
    * similar to every other — safe to keep one); low density flags
    * chaining, where the min-id keeper may be a poor representative
    * of the far end. The number to check before trusting
    * keep-one-per-cluster (q74/q256) at scale.
    *
    * Scale shape: labels and edges are both working-set frames
    * (tiny by construction); two broadcast joins and a
    * cluster-grain fold — the corpus is never touched. */
  def q290ClusterDensity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // ONE shingle pass feeds both the CC fixpoint and the per-cluster
    // edge count (previously each branch re-ran the candidate
    // pipeline). Under the broadcast gate the fixpoint costs one count
    // and one collect of this checkpoint, not a set of jobs per round
    // (see ccFixpoint); over it, the per-round jobs dominate, as
    // measured at sf0.1 before the driver path existed.
    val pairs = jaccardPairs(s, dir).select($"doc_a", $"doc_b")
      .localCheckpoint()
    val labels = ccFixpoint(s, pairs)
      .select($"doc_id", $"lbl".as("cluster_id"))
    val sizes = labels.groupBy($"cluster_id").agg(count(lit(1)).as("size"))
    val edges = pairs.select($"doc_a")
      .join(broadcast(labels.withColumnRenamed("doc_id", "doc_a")), "doc_a")
      .groupBy($"cluster_id").agg(count(lit(1)).as("n_edges"))
    sizes.join(edges, Seq("cluster_id"), "left")
      .select($"cluster_id", $"size",
        coalesce($"n_edges", lit(0L)).as("n_edges"))
      .withColumn("density_ppm",
        expr("(1000000 * n_edges) div ((size * (size - 1)) div 2)"))
      .orderBy($"cluster_id")
  }

  private lazy val q290Oracle =
    s"""WITH RECURSIVE $ccCte,
       |cs AS (
       |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS size
       |  FROM lab GROUP BY 1 HAVING count(*) >= 2),
       |ec AS (
       |  SELECT l.cluster_id, CAST(count(*) AS BIGINT) AS n_edges
       |  FROM jp JOIN lab l ON jp.doc_a = l.doc_id
       |  GROUP BY 1)
       |SELECT cs.cluster_id, cs.size, COALESCE(ec.n_edges, 0) AS n_edges,
       |  CAST((1000000 * COALESCE(ec.n_edges, 0))
       |    // ((cs.size * (cs.size - 1)) // 2) AS BIGINT) AS density_ppm
       |FROM cs LEFT JOIN ec USING (cluster_id)
       |ORDER BY cluster_id""".stripMargin

  // ---------------------------------------------------------------- q292
  /** Prefix-filtered exact Jaccard self-join (AllPairs/PPJoin
    * family, Bayardo et al. 2007) — the guaranteed-recall=1 scale
    * path to the SAME pairs q66 emits from every shared shingle:
    * shingles sorted by global rarity (df, shingle), each doc keeps
    * only its first n − ⌈t·n⌉ + 1 tokens, and candidates come from
    * shared PREFIX tokens alone. Sound by pigeonhole: J ≥ t forces
    * I ≥ ⌈t·n⌉ common tokens, more than fit in either suffix, and
    * the globally-smallest common token therefore sits in BOTH
    * prefixes. Verification computes the exact Jaccard from the full
    * shingle sets — the oracle is literally q66's, so the
    * correctness gate proves the filter lossless on this corpus
    * (both paths share the [[maxGroupSize]] cap; at adversarial df
    * the two guards can diverge — disclosed, not hidden).
    *
    * Scale shape vs q66 — measured honestly: the win is CANDIDATE
    * VOLUME (prefix buckets instead of all shared shingles — the
    * pair-generation shuffle drops by ~the prefix/doc-length ratio,
    * ½ at t = 0.5, more at higher t), but the verify step joins
    * full shingle-set payloads per candidate, which at bench scale
    * costs MORE than q66's count-as-you-block (14 s vs 3 s at
    * sf0.1). The filter pays off where blocking dominates: long
    * documents (set payloads grow linearly, candidates drop
    * quadratically in the similarity threshold) or higher t.
    *
    * **BENCHMARK BASELINE ONLY — not for production corpora.** This
    * query exists to prove the guaranteed-recall prefix-filter
    * mechanism against the exact oracle and to price it honestly in
    * the bench; q66's blocked pipeline is the production default at
    * t = 0.5, and NO production operator routes through this
    * full-payload verify join (every other near-dup consumer takes
    * the capped [[shinglePairCounts]] path — spec-pinned, and the
    * candidate stage here carries the same [[maxGroupSize]] hot-block
    * cap, so even the baseline cannot go quadratic on a hot token). */
  def q292PrefixFilterJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // measured note (r15): checkpointing the shingle-set frame is a
    // LOSS (16s -> 29s at sf0.1) — the shingle arrays are
    // payload-heavy, so materializing them costs more than the second
    // shingling pass; the bounded-frame checkpoint idiom (q273/q307)
    // is for id/grain frames, not array payloads. r16 keeps that
    // verdict: the shared [[prefixVectors]] frame is re-executed per
    // consumer (runtime broadcast reuse collapses the a/b sides).
    val vecs = prefixVectors(s, dir)
    val a = vecs.select($"doc_id".as("doc_a"), $"ss".as("sa"), $"n".as("na"))
    val b = vecs.select($"doc_id".as("doc_b"), $"ss".as("sb"), $"n".as("nb"))
    // duplicate candidate occurrences (a pair sharing >= 2 prefix
    // shingles) are deduped AFTER the jaccard gate: the survivors are
    // a handful of rows, so the final distinct is near-free, while
    // the old pre-verify distinct shuffled the full candidate stream
    // one extra time for a ~5% dedup (430k -> 409k at sf0.1)
    prefixCandidateOcc(vecs)
      .join(a, "doc_a").join(b, "doc_b")
      .select($"doc_a", $"doc_b",
        size(array_intersect($"sa", $"sb")).cast("long").as("inter"),
        $"na", $"nb")
      .select($"doc_a", $"doc_b",
        ($"inter".cast("double") / ($"na" + $"nb" - $"inter"))
          .as("jaccard"))
      .where($"jaccard" >= 0.5)
      .distinct()
      .orderBy($"doc_a", $"doc_b")
  }

  /** (doc_id, ss, n, parr): each doc's distinct shingle set in global
    * (df, shingle) rarity order, its size, and the t = 0.5 prefix
    * slice with 1-based positions. ONE zero-exchange per-doc
    * aggregate (documentsSpread is already hash(doc_id)-partitioned)
    * replaces r15's row_number + count window pair — the windows
    * sorted every doc partition as a whole, the aggregate sorts each
    * doc's ~n-entry vector in place — and the same frame doubles as
    * the verify side's full shingle set, retiring the separate
    * collect_set subtree. */
  private def prefixVectors(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = Tables.documentsSpread(s, dir)
      .select($"doc_id", explode(shingles3($"text")).as("sh"))
    val df = sh.groupBy($"sh").agg(count(lit(1)).as("df"))
    sh.join(df, "sh")
      .groupBy($"doc_id")
      .agg(array_sort(collect_list(struct($"df", $"sh"))).as("arr"))
      .select($"doc_id",
        expr("transform(arr, x -> x.sh)").as("ss"),
        size($"arr").cast("long").as("n"),
        // t = 0.5: prefix length n − ⌈n/2⌉ + 1 = n div 2 + 1
        expr("slice(arr, 1, size(arr) div 2 + 1)").as("parr"))
  }

  /** Candidate (doc_a, doc_b) OCCURRENCES from shared prefix tokens,
    * pre-pruned by the PPJoin positional upper bound (Xiao et al.
    * 2008): a token shared at sorted positions (pa, pb) of docs sized
    * (na, nb) bounds the overlap by I ≤ min(pa,pb)−1 (common tokens
    * strictly before it) + 1 + min(na−pa, nb−pb) (common tokens from
    * it on) = min(pa,pb) + min(na−pa, nb−pb); J ≥ 0.5 ⟺ 3·I ≥ na+nb,
    * so any occurrence whose bound fails 3·bound ≥ na+nb cannot come
    * from a qualifying pair. Sound per occurrence — bound ≥ I always,
    * so TRUE pairs survive in every occurrence and recall is exactly
    * preserved (the bound at pa=pb=1 degenerates to the classic
    * length filter 3·min(na,nb) ≥ na+nb, so that guard is subsumed).
    * Measured at sf0.1: 430k occurrences → 310k verified candidates.
    * NOT distinct — q292 dedups after the jaccard gate. */
  private def prefixCandidateOcc(vecs: DataFrame): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    val prefix = vecs
      .select($"doc_id", $"n", posexplode($"parr").as(Seq("p0", "e")))
      .select($"e.sh".as("sh"), $"doc_id",
        ($"p0" + 1).cast("long").as("pos"), $"n")
      // explicit exchange for the bucket aggregation (q66's fan-out
      // rule): the prefix rows are a few MB, so AQE coalesces the
      // ENSURE_REQUIREMENTS exchange to ~1-3 tasks — but each bucket
      // fans out to |members|²/2 pairs of CPU-bound work downstream
      // (measured r16: the coalesced candidate stage ran 3 tasks ×
      // 5.4 s; fan-out stages are sized by downstream work, not
      // input bytes)
      .repartition(s.sparkContext.defaultParallelism, $"sh")
    prefix.groupBy($"sh")
      .agg(sort_array(collect_list(struct($"doc_id", $"pos", $"n")))
        .as("members"))
      .where(size($"members") >= 2 && size($"members") <= maxGroupSize)
      .repartition(s.sparkContext.defaultParallelism, $"sh")
      .select(explode(pairUp($"members")).as("p"))
      .select($"p.a.doc_id".as("doc_a"), $"p.b.doc_id".as("doc_b"),
        $"p.a.pos".as("pa"), $"p.a.n".as("na"),
        $"p.b.pos".as("pb"), $"p.b.n".as("nb"))
      .where(lit(3L) * (least($"pa", $"pb")
        + least($"na" - $"pa", $"nb" - $"pb")) >= $"na" + $"nb")
      .select($"doc_a", $"doc_b")
  }

  /** Candidate (doc_a, doc_b) pairs sharing ≥ 1 PREFIX token that
    * survives the positional bound — exposed so the spec can measure
    * the candidate reduction the filter buys over all-shingle
    * blocking, and pin the [[maxGroupSize]] cap on the BASELINE's
    * candidate stage with a planted hot-shingle corpus. */
  private[ops] def prefixCandidates(s: SparkSession, dir: String): DataFrame =
    prefixCandidateOcc(prefixVectors(s, dir)).distinct()

  // ---------------------------------------------------------------- q297
  /** Dedup threshold sweep — what each Jaccard cutoff would actually
    * do to THIS corpus: pair counts and affected-doc counts at
    * thresholds 0.5–0.9, all from the one shinglePairCounts pass
    * (the sweep is five INTEGER predicates 1000·I ≥ τ·(na+nb−I)
    * over the same candidate frame — no re-shingling, no floats,
    * and thresholds above the generator's 0.5 floor are pure
    * filters, so the sweep is sound). The q265 advisor tunes LSH to
    * hit a threshold; this says which threshold you should want —
    * together they close the loop. Dense threshold spine: a cutoff
    * that drops everything reports honest zeros.
    *
    * Scale shape: candidate generation is q66's (capped, bucketed);
    * the sweep adds a 5-row spine join and a pair-grain fold. */
  def q297DedupThresholdSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pc = shinglePairCounts(Tables.documentsSpread(s, dir))
    val th = Seq(500L, 600L, 700L, 800L, 900L).toDF("thresh_milli")
    val hits = pc.crossJoin(broadcast(th))
      .where(lit(1000L) * $"inter" >=
        $"thresh_milli" * ($"na" + $"nb" - $"inter"))
      .select($"thresh_milli",
        explode(array($"doc_a", $"doc_b")).as("doc"))
      .groupBy($"thresh_milli")
      .agg(expr("count(1) div 2").as("n_pairs"),
        countDistinct($"doc").as("n_docs"))
    th.join(hits, Seq("thresh_milli"), "left")
      .select($"thresh_milli",
        coalesce($"n_pairs", lit(0L)).as("n_pairs"),
        coalesce($"n_docs", lit(0L)).as("n_docs"))
      .orderBy($"thresh_milli")
  }

  private lazy val q297Oracle =
    s"""WITH $jaccardPairsCte,
       |pairs0 AS (
       |  SELECT doc_a, doc_b, x.n AS na, y.n AS nb, inter
       |  FROM p JOIN sz x ON doc_a = x.doc_id
       |  JOIN sz y ON doc_b = y.doc_id),
       |th AS (SELECT CAST(unnest([500, 600, 700, 800, 900]) AS BIGINT)
       |  AS thresh_milli),
       |e AS (
       |  SELECT thresh_milli, unnest([doc_a, doc_b]) AS doc
       |  FROM pairs0, th
       |  WHERE 1000 * inter >= thresh_milli * (na + nb - inter)),
       |agg AS (
       |  SELECT thresh_milli, CAST(count(*) // 2 AS BIGINT) AS n_pairs,
       |    CAST(count(DISTINCT doc) AS BIGINT) AS n_docs
       |  FROM e GROUP BY 1)
       |SELECT th.thresh_milli, COALESCE(agg.n_pairs, 0) AS n_pairs,
       |  COALESCE(agg.n_docs, 0) AS n_docs
       |FROM th LEFT JOIN agg USING (thresh_milli)
       |ORDER BY thresh_milli""".stripMargin

  // ---------------------------------------------------------------- q299
  /** Cross-source duplication matrix — WHERE the near-dups come
    * from: q66's pairs mapped to their (source, source) cells, so
    * mirror sites light up off-diagonal and within-source template
    * reuse lights the diagonal. The acquisition counterpart of
    * q285's exclusivity: a source pair with heavy overlap means one
    * of them is (mostly) paying twice. Cells ordered so
    * source_a ≤ source_b — the matrix is symmetric and one triangle
    * is the honest grain.
    *
    * Scale shape: the pair set is the existing capped generator;
    * two broadcast-friendly doc_id→source lookups (source is
    * metadata — text never moves), one cell-grain fold. */
  def q299CrossSourceDups(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = Tables.documents(s, dir).select($"doc_id", $"source")
    jaccardPairs(s, dir)
      .join(src.select($"doc_id".as("doc_a"), $"source".as("sa")), "doc_a")
      .join(src.select($"doc_id".as("doc_b"), $"source".as("sb")), "doc_b")
      .select(least($"sa", $"sb").as("source_a"),
        greatest($"sa", $"sb").as("source_b"))
      .groupBy($"source_a", $"source_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy($"source_a", $"source_b")
  }

  private lazy val q299Oracle =
    s"""WITH $jaccardPairsCte,
       |cells AS (
       |  SELECT least(x.source, y.source) AS source_a,
       |    greatest(x.source, y.source) AS source_b
       |  FROM jp
       |  JOIN documents x ON jp.doc_a = x.doc_id
       |  JOIN documents y ON jp.doc_b = y.doc_id)
       |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
       |FROM cells GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q301
  /** Keeper-policy divergence — does paying for quality-weighted
    * keeper selection (q74) actually change anything vs the free
    * min-id rule (q79): per real cluster, both keepers, whether they
    * differ, and the quality delta the upgrade buys. The argmax is
    * a lexicographic struct max (quality DESC, doc_id ASC tie-break
    * — exactly q74's ordering), so the two policies are compared
    * under their own definitions, not re-derived.
    *
    * Scale shape: everything runs on the working set (clustered
    * docs only, tiny by construction) with the corpus-side quality
    * projection joined in; cluster-grain folds end it. */
  def q301KeeperDivergence(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val working = ccLabelsWorking(s, dir)
      .select($"doc_id", $"lbl".as("cluster_id"))
    val scored = broadcast(working)
      .join(TextOps.qualityScores(s, dir)
        .select($"doc_id", $"quality_score"), "doc_id")
    val agg = scored.groupBy($"cluster_id")
      .agg(count(lit(1)).as("size"), min($"doc_id").as("minid_keeper"),
        max(struct($"quality_score", (-$"doc_id").as("negid"))).as("best"))
      .select($"cluster_id", $"size", $"minid_keeper",
        (-$"best.negid").as("quality_keeper"),
        $"best.quality_score".as("best_quality"))
    agg
      .join(scored.select($"cluster_id", $"doc_id".as("minid_keeper"),
        $"quality_score".as("minid_quality")),
        Seq("cluster_id", "minid_keeper"))
      .select($"cluster_id", $"size", $"minid_keeper", $"quality_keeper",
        ($"minid_keeper" =!= $"quality_keeper").as("differs"),
        ($"best_quality" - $"minid_quality").as("quality_delta"))
      .orderBy($"cluster_id")
  }

  private lazy val q301Oracle =
    s"""WITH RECURSIVE $ccCte,
       |q AS (
       |  ${TextOps.qualityScoresSql}),
       |cs AS (SELECT cluster_id FROM lab GROUP BY 1 HAVING count(*) >= 2),
       |m2 AS (
       |  SELECT lab.doc_id, lab.cluster_id, q.quality_score
       |  FROM lab JOIN q ON lab.doc_id = q.doc_id
       |  JOIN cs ON lab.cluster_id = cs.cluster_id),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY cluster_id
       |    ORDER BY quality_score DESC, doc_id ASC) AS rn
       |  FROM m2),
       |best AS (
       |  SELECT cluster_id, doc_id AS quality_keeper,
       |    quality_score AS best_quality
       |  FROM r WHERE rn = 1),
       |mn AS (
       |  SELECT cluster_id, min(doc_id) AS minid_keeper,
       |    CAST(count(*) AS BIGINT) AS size
       |  FROM m2 GROUP BY 1),
       |mq AS (
       |  SELECT m2.cluster_id, m2.quality_score AS minid_quality
       |  FROM m2 JOIN mn ON m2.cluster_id = mn.cluster_id
       |    AND m2.doc_id = mn.minid_keeper)
       |SELECT mn.cluster_id, mn.size, mn.minid_keeper, best.quality_keeper,
       |  mn.minid_keeper <> best.quality_keeper AS differs,
       |  best.best_quality - mq.minid_quality AS quality_delta
       |FROM mn JOIN best USING (cluster_id) JOIN mq USING (cluster_id)
       |ORDER BY mn.cluster_id""".stripMargin

  // ---------------------------------------------------------------- q356
  /** Winnowing gram size (tokens per k-gram) and window size (hashes
    * per selection window). Any shared run of ≥ w+k−1 = 8 tokens is
    * GUARANTEED to share a fingerprint — the paper's noise/guarantee
    * thresholds (k, w+k−1). */
  val winnowK = 5
  val winnowW = 4

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS algorithm): per document, hash every
    * [[winnowK]]-token gram (60-bit md5 prefix, the engine-portable
    * stand-in for the paper's rolling hash — any uniform hash
    * satisfies the scheme) and keep, for each sliding window of
    * [[winnowW]] consecutive hashes, the minimum (rightmost on ties —
    * plain winnowing). The selected (position, hash) set is the
    * fingerprint index MOSS-style plagiarism/copy detection stores:
    * expected density 2/(w+1) of all grams, with the GUARANTEE that
    * any copied run of ≥ w+k−1 tokens is caught — the property
    * q155's fixed-stride catalog and q64's whole-doc hash both lack.
    * Docs with fewer than w+k−1 tokens emit nothing (disclosed: they
    * are below the guarantee threshold by definition).
    *
    * Plan shape: one positional-gram projection (scan-side), the
    * per-doc gram count from a doc-partitioned window on the SAME
    * shuffle the selection grouping reuses, windows materialized as
    * a bounded ×w explode of window ids (q139's gridded device — no
    * self-join), argmin per (doc, window) via the sign-flipped
    * struct min, then DISTINCT over selections. Everything keys on
    * doc_id: one shuffle, text never moves after the scan. */
  def q356WinnowFingerprints(s: SparkSession, dir: String): DataFrame =
    winnowOf(Tables.documentsSpread(s, dir))

  private[ops] def winnowOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    docs
      .select($"doc_id", posexplode(spansN($"text", winnowK)).as(Seq("pos", "gram")))
      .withColumn("h",
        conv(substring(md5($"gram"), 1, 15), 16, 10).cast("long"))
      .withColumn("m", count(lit(1)).over(Window.partitionBy($"doc_id")))
      .where($"m" >= winnowW)
      .withColumn("j", explode(expr(
        s"sequence(greatest(0, pos - ${winnowW - 1}), least(pos, m - $winnowW))")))
      .groupBy($"doc_id", $"j")
      .agg(min(struct($"h", (-$"pos").as("np"))).as("sel"))
      .select($"doc_id", (-$"sel.np").cast("long").as("pos"), $"sel.h".as("h"))
      .distinct()
      .orderBy($"doc_id", $"pos")
  }

  private val q356Oracle = {
    val gram = (0 until winnowK)
      .map(j => if (j == 0) "toks[i]" else s"toks[i+$j]")
      .mkString(" || ' ' || ")
    s"""WITH t AS (
       |  SELECT doc_id, string_split(lower(text), ' ') toks FROM documents),
       |g0 AS (
       |  SELECT doc_id, unnest(range(1, len(toks) - ${winnowK - 2})) AS i, toks
       |  FROM t),
       |g AS (
       |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
       |    ('0x' || substr(md5($gram), 1, 15))::BIGINT AS h,
       |    count(*) OVER (PARTITION BY doc_id) AS m
       |  FROM g0),
       |w AS (
       |  SELECT doc_id, pos, h,
       |    unnest(range(greatest(0, pos - ${winnowW - 1}),
       |                 least(pos, m - $winnowW) + 1)) AS j
       |  FROM g WHERE m >= $winnowW),
       |sel AS (
       |  SELECT doc_id, j, pos, h, row_number() OVER (
       |    PARTITION BY doc_id, j ORDER BY h ASC, pos DESC) AS rn
       |  FROM w)
       |SELECT DISTINCT doc_id, pos, h
       |FROM sel WHERE rn = 1 ORDER BY doc_id, pos""".stripMargin
  }

  // ---------------------------------------------------------------- q359
  /** Exact-substring dedup with FIRST-OCCURRENCE-KEEPS semantics
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better" — their ExactSubstr at 8-token granularity): any
    * token covered only by LATER occurrences of a duplicated 8-gram
    * span is dropped; the globally-first occurrence (lexicographic
    * (doc_id, position) — the ingest order stand-in) survives, so the
    * corpus retains EXACTLY ONE copy of every duplicated span. The
    * missing member of the span family: q55 measures duplication,
    * q58 masks EVERY occurrence (boilerplate removal — the first copy
    * dies too); training-data dedup must keep one copy or the span's
    * content leaves the corpus entirely.
    *
    * Plan shape is q58's: positional spans, one shingle-key shuffle
    * where the first occurrence is a struct-min over the span
    * partition, non-first starts collect per doc, and the drop is an
    * in-array filter over the token array — text never shuffles, the
    * rebuilt doc never moves. Output = (doc, token counts, rebuilt
    * text). */
  def q359ExactSubstrDedup(s: SparkSession, dir: String): DataFrame =
    exactSubstrOf(Tables.documentsSpread(s, dir))

  private[ops] def exactSubstrOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"sh")
    val dupStarts = docs
      .select($"doc_id", posexplode(spansN($"text", spanN)))
      .select($"doc_id", ($"pos" + 1).as("start"), $"col".as("sh"))
      .withColumn("first", min(struct($"doc_id", $"start")).over(w))
      .where(!($"doc_id" === $"first.doc_id" && $"start" === $"first.start"))
      .groupBy($"doc_id")
      .agg(sort_array(collect_list($"start")).as("starts"))
    docs.select($"doc_id", toks($"text").as("toks"))
      .join(dupStarts, Seq("doc_id"), "left")
      .withColumn("starts", coalesce($"starts", array().cast("array<int>")))
      .withColumn("kept", filter($"toks", (tok, i) =>
        !exists($"starts", st => st <= i + 1 && i + 1 <= st + (spanN - 1))))
      .select($"doc_id",
        size($"toks").cast("long").as("n_tokens"),
        (size($"toks") - size($"kept")).cast("long").as("n_dropped"),
        concat_ws(" ", $"kept").as("dedup_text"))
      .orderBy($"doc_id")
  }

  private lazy val q359Oracle =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(lower(text), ' ') toks FROM documents),
       |pos AS (
       |  SELECT doc_id, i, $gram8Sql AS sh FROM (
       |    SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i FROM t)),
       |rk AS (
       |  SELECT doc_id, i, row_number() OVER (
       |    PARTITION BY sh ORDER BY doc_id, i) AS rn
       |  FROM pos),
       |ds AS (
       |  SELECT doc_id, list_sort(list(i)) AS starts
       |  FROM rk WHERE rn > 1 GROUP BY 1),
       |m AS (
       |  SELECT t.doc_id, toks, coalesce(starts, CAST([] AS BIGINT[])) AS starts
       |  FROM t LEFT JOIN ds ON t.doc_id = ds.doc_id)
       |SELECT doc_id,
       |  CAST(len(toks) AS BIGINT) AS n_tokens,
       |  CAST(len(list_filter(range(1, len(toks) + 1), j ->
       |    len(list_filter(starts, s -> s <= j AND j <= s + ${spanN - 1})) > 0))
       |    AS BIGINT) AS n_dropped,
       |  coalesce(array_to_string(list_transform(
       |    list_filter(range(1, len(toks) + 1), j ->
       |      len(list_filter(starts, s -> s <= j AND j <= s + ${spanN - 1})) = 0),
       |    j -> toks[CAST(j AS INT)]), ' '), '') AS dedup_text
       |FROM m ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q469
  /** [NS] Dedup-pipeline QUALITY EVAL — the precision/recall readout
    * every production near-dup pipeline tunes its thresholds with: a
    * PLANTED ground truth (each doc gets a 2-token-appended mutant —
    * the re-crawl-with-boilerplate shape) runs through the EXACT
    * 3-gram Jaccard pipeline (q66's candidate machinery verbatim,
    * hot-shingle cap included), and the eval scores predicted pairs
    * against truth in exact ppm: TP = planted pairs recovered, FP =
    * emitted pairs outside the plant (natural near-dups count as FP
    * against THIS truth set — the standard benchmark convention,
    * disclosed), FN = planted pairs below the 0.5 threshold (short
    * docs legitimately fall under — that recall loss is exactly what
    * the eval exists to expose). One row; both engines replay the
    * identical shingle recipe, so the verdict is bit-exact. */
  def q469DedupQualityEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.documentsSpread(s, dir).select($"doc_id", $"text")
    val corpus = base.unionByName(base.select(
      ($"doc_id" + 1000000L).as("doc_id"),
      concat($"text", lit(" zq0 zq1")).as("text")))
    val predicted = shinglePairCounts(corpus)
      .select($"doc_a", $"doc_b",
        ($"inter".cast("double") / ($"na" + $"nb" - $"inter")).as("j"))
      .where($"j" >= 0.5)
      .select($"doc_a", $"doc_b",
        ($"doc_b" === $"doc_a" + 1000000L && $"doc_a" < 1000000L)
          .cast("long").as("is_tp"))
    val nTruth = base.count() // planted pairs = one per doc
    predicted.agg(
      sum($"is_tp").as("tp"),
      sum(lit(1L) - $"is_tp").as("fp"))
      .select(lit(nTruth).as("n_truth"), $"tp", $"fp",
        (lit(nTruth) - $"tp").as("fn"),
        expr("(tp * 1000000) div greatest(tp + fp, 1)")
          .as("precision_ppm"),
        expr(s"(tp * 1000000) div greatest($nTruth, 1)")
          .as("recall_ppm"))
  }

  private val q469Oracle =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, text || ' zq0 zq1' FROM documents),
       |t AS (
       |  SELECT doc_id, string_split(lower(text), ' ') toks FROM corpus),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, len(toks) - 1),
       |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS sh
       |  FROM t),
       |sz AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
       |ok AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) <= $maxGroupSize),
       |p AS (
       |  SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  WHERE a.sh IN (SELECT sh FROM ok)
       |  GROUP BY 1, 2),
       |pred AS (
       |  SELECT p.doc_a, p.doc_b,
       |    CASE WHEN p.doc_b = p.doc_a + 1000000 AND p.doc_a < 1000000
       |      THEN 1 ELSE 0 END AS is_tp
       |  FROM p JOIN sz sa ON sa.doc_id = p.doc_a
       |         JOIN sz sb ON sb.doc_id = p.doc_b
       |  WHERE CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) >= 0.5),
       |nt AS (SELECT count(*) AS n_truth FROM documents)
       |SELECT CAST(nt.n_truth AS BIGINT) AS n_truth,
       |  CAST(sum(is_tp) AS BIGINT) AS tp,
       |  CAST(sum(1 - is_tp) AS BIGINT) AS fp,
       |  CAST(nt.n_truth - sum(is_tp) AS BIGINT) AS fn,
       |  CAST((sum(is_tp) * 1000000) // greatest(sum(is_tp) +
       |    sum(1 - is_tp), 1) AS BIGINT) AS precision_ppm,
       |  CAST((sum(is_tp) * 1000000) // greatest(nt.n_truth, 1)
       |    AS BIGINT) AS recall_ppm
       |FROM pred, nt GROUP BY nt.n_truth""".stripMargin

  // ---------------------------------------------------------------- q475
  /** [NS] LSH BANDING-SENSITIVITY sweep — the (bands × rows) tuning
    * table behind every MinHash deployment (Leskovec et al., MMDS
    * ch.3: the S-curve's threshold ≈ (1/b)^(1/r)): the SAME 32-minima
    * signatures re-band under three geometries — (32,1) recall-heavy,
    * (8,4) the production default, (4,8) precision-heavy — and each
    * config reports its candidate volume Σ C(bucket, 2) over capped
    * buckets, active buckets, and hot buckets the q65 cap would drop.
    * Candidate counts fold from bucket SIZES (n·(n−1)/2) — no pair
    * ever materializes, so the sweep costs three bucket-grain
    * aggregations over one signature pass regardless of how hot a
    * config runs. The table IS the tuning decision: candidates grow
    * monotonically as rows-per-band shrinks. */
  def q475BandingSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sigs = minhashSignatures(s, dir).localCheckpoint(true)
    Seq((32, 1), (8, 4), (4, 8)).map { case (bands, rowsPer) =>
      sigs.select($"doc_id",
        explode(transform(sequence(lit(0), lit(bands - 1)), j =>
          struct(j.as("band"),
            array_join(transform(
              sequence(j * rowsPer + 1, (j + 1) * rowsPer),
              i => element_at($"sig", i.cast("int")).cast("string")), ",")
              .as("bucket")))).as("bk"))
        .select($"bk.band", $"bk.bucket")
        .groupBy($"band", $"bucket").agg(count(lit(1)).as("n"))
        .agg(
          coalesce(sum(when($"n" >= 2 && $"n" <= maxGroupSize,
            expr("(n * (n - 1)) div 2"))), lit(0L)).as("candidate_pairs"),
          coalesce(sum(when($"n" >= 2 && $"n" <= maxGroupSize, 1L)),
            lit(0L)).as("active_buckets"),
          coalesce(sum(when($"n" > maxGroupSize, 1L)), lit(0L))
            .as("hot_buckets_dropped"))
        .select(lit(bands.toLong).as("bands"),
          lit(rowsPer.toLong).as("rows_per_band"),
          $"candidate_pairs", $"active_buckets", $"hot_buckets_dropped")
    }.reduce(_ unionByName _).orderBy($"bands".desc)
  }

  private lazy val q475Oracle = {
    def cfg(bands: Int, rowsPer: Int): String =
      s"""SELECT CAST($bands AS BIGINT) AS bands,
         |  CAST($rowsPer AS BIGINT) AS rows_per_band,
         |  CAST(coalesce(sum(CASE WHEN n BETWEEN 2 AND $maxGroupSize
         |    THEN n * (n - 1) // 2 END), 0) AS BIGINT) AS candidate_pairs,
         |  CAST(coalesce(sum(CASE WHEN n BETWEEN 2 AND $maxGroupSize
         |    THEN 1 END), 0) AS BIGINT) AS active_buckets,
         |  CAST(coalesce(sum(CASE WHEN n > $maxGroupSize THEN 1 END), 0)
         |    AS BIGINT) AS hot_buckets_dropped
         |FROM (SELECT band, bucket, count(*) n FROM (
         |  ${bandRowsSql(bands, rowsPer)}) GROUP BY 1, 2)""".stripMargin
    s"""WITH $minhashSigCte
       |${cfg(32, 1)}
       |UNION ALL
       |${cfg(8, 4)}
       |UNION ALL
       |${cfg(4, 8)}
       |ORDER BY bands DESC""".stripMargin
  }

  // ---------------------------------------------------------------- q501
  /** [NS] URL-CANONICALIZATION dedup audit — the crawl-hygiene step a
    * CommonCrawl/C4-style pipeline runs BEFORE any content dedup: the
    * same page arrives under case-noised schemes/hosts, explicit
    * default ports, tracking (`utm_*`) query blocks, fragments and
    * trailing slashes, and collapsing those aliases is pure string
    * algebra — no content bytes hashed, no shingles. Canonicalization
    * here: lowercase scheme+host, strip `:443`, strip the fragment,
    * strip a trailing tracking-query block, strip the trailing slash.
    * Output prices the crawl's URL-level duplication per source:
    * URLs seen, distinct canonical URLs, and the rows a
    * canonical-key dedup would drop. Scale shape: one scan, per-URL
    * regex work inside codegen, then ONE (source, canonical)
    * distinct — the standard dedup shuffle carrying keys only; at
    * 100 TB this is the cheapest dedup pass in the funnel and runs
    * first. The fixture synthesizes the URL mess deterministically
    * from doc_id so the DuckDB oracle replays it digit-for-digit. */
  def q501UrlCanonicalDedup(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir).createOrReplaceTempView("_q501_docs")
    s.sql(
      """WITH urls AS (
        |  SELECT source,
        |    CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://' ELSE 'https://' END ||
        |    CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END ||
        |    '.example.com' ||
        |    CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END ||
        |    '/docs/' || CAST(doc_id % 40 AS STRING) ||
        |    CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
        |    CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&utm_medium=rss'
        |         WHEN doc_id % 7 = 0 THEN '?q=' || CAST(doc_id % 4 AS STRING)
        |         ELSE '' END ||
        |    CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END AS url
        |  FROM _q501_docs),
        |defrag AS (
        |  SELECT source, regexp_replace(url, '#.*$', '') AS u FROM urls),
        |hostp AS (
        |  SELECT source, u,
        |    regexp_extract(u, '^([a-zA-Z]+://[^/?#]*)', 1) AS hp FROM defrag),
        |canon AS (
        |  SELECT source,
        |    regexp_replace(lower(hp), ':443$', '') ||
        |    regexp_replace(
        |      regexp_replace(substring(u, length(hp) + 1),
        |        '[?]utm_[a-z_=&]*$', ''),
        |      '/$', '') AS canonical
        |  FROM hostp)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_urls,
        |  CAST(count(DISTINCT canonical) AS BIGINT) AS n_canonical,
        |  CAST(count(*) - count(DISTINCT canonical) AS BIGINT) AS n_dups
        |FROM canon GROUP BY source ORDER BY source""".stripMargin)
  }

  private val q501Oracle =
    """WITH urls AS (
      |  SELECT source,
      |    CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://' ELSE 'https://' END ||
      |    CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END ||
      |    '.example.com' ||
      |    CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END ||
      |    '/docs/' || CAST(doc_id % 40 AS VARCHAR) ||
      |    CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
      |    CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&utm_medium=rss'
      |         WHEN doc_id % 7 = 0 THEN '?q=' || CAST(doc_id % 4 AS VARCHAR)
      |         ELSE '' END ||
      |    CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END AS url
      |  FROM documents),
      |defrag AS (
      |  SELECT source, regexp_replace(url, '#.*$', '') AS u FROM urls),
      |hostp AS (
      |  SELECT source, u,
      |    regexp_extract(u, '^([a-zA-Z]+://[^/?#]*)', 1) AS hp FROM defrag),
      |canon AS (
      |  SELECT source,
      |    regexp_replace(lower(hp), ':443$', '') ||
      |    regexp_replace(
      |      regexp_replace(substring(u, length(hp) + 1),
      |        '[?]utm_[a-z_=&]*$', ''),
      |      '/$', '') AS canonical
      |  FROM hostp)
      |SELECT source,
      |  CAST(count(*) AS BIGINT) AS n_urls,
      |  CAST(count(DISTINCT canonical) AS BIGINT) AS n_canonical,
      |  CAST(count(*) - count(DISTINCT canonical) AS BIGINT) AS n_dups
      |FROM canon GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q503
  /** [NS] SOFT-DEDUP WEIGHTS (the down-weight-don't-drop policy —
    * SlimPajama/UniMax-adjacent): instead of keeping one member per
    * duplicate cluster and dropping the rest, every member trains
    * with weight 1/cluster_size, preserving coverage while removing
    * the duplication bias. The operator prices BOTH policies per
    * source in one pass over prefix-fingerprint clusters (md5 of the
    * first 4 tokens — the cheap family key): raw tokens, hard-dedup
    * tokens (the min-doc_id representative's), and the soft effective
    * token mass Σ tokens/cluster_size in exact integer micro-tokens.
    * The gap between hard and soft is the training-signal a drop
    * policy forfeits. Scale shape: one scan, one shuffle on the
    * fingerprint (two window functions over it), per-source fold —
    * no pairs, no joins; clusters may span sources and each member's
    * weight uses the GLOBAL cluster size. */
  def q503SoftDedupWeights(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir).createOrReplaceTempView("_q503_docs")
    s.sql(
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(size(split(text, ' ')) AS BIGINT) AS nt,
        |    md5(array_join(slice(split(text, ' '), 1, 4), ' ')) AS fp
        |  FROM _q503_docs),
        |c AS (
        |  SELECT source, nt,
        |    count(*)    OVER (PARTITION BY fp) AS csz,
        |    min(doc_id) OVER (PARTITION BY fp) AS rep,
        |    doc_id
        |  FROM d)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN csz > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clustered_docs,
        |  CAST(sum(nt) AS BIGINT) AS raw_tokens,
        |  CAST(sum(CASE WHEN doc_id = rep THEN nt ELSE 0 END) AS BIGINT)
        |    AS hard_tokens,
        |  CAST(sum(nt * 1000000 div csz) AS BIGINT) AS soft_micro_tokens
        |FROM c GROUP BY source ORDER BY source""".stripMargin)
  }

  private val q503Oracle =
    """WITH d AS (
      |  SELECT doc_id, source,
      |    len(string_split(text, ' ')) AS nt,
      |    md5(array_to_string(string_split(text, ' ')[1:4], ' ')) AS fp
      |  FROM documents),
      |c AS (
      |  SELECT source, nt,
      |    count(*)    OVER (PARTITION BY fp) AS csz,
      |    min(doc_id) OVER (PARTITION BY fp) AS rep,
      |    doc_id
      |  FROM d)
      |SELECT source,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN csz > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_clustered_docs,
      |  CAST(sum(nt) AS BIGINT) AS raw_tokens,
      |  CAST(sum(CASE WHEN doc_id = rep THEN nt ELSE 0 END) AS BIGINT)
      |    AS hard_tokens,
      |  CAST(sum(nt * 1000000 // csz) AS BIGINT) AS soft_micro_tokens
      |FROM c GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q525
  /** [NS] DEDUP SURVIVOR-BIAS AUDIT — what the drop policy does to
    * the corpus DISTRIBUTION, not just its size: hard dedup keeps
    * one representative per cluster (min doc_id, q503's canonical
    * rule) and the audit compares the KEPT cohort against the
    * DROPPED cohort per language — doc counts, exact token mass,
    * exact mean length in millitokens, and how many kept docs
    * actually had duplicates. The readout a curation review wants
    * before signing a dedup config: "dedup deleted 40% of the zh
    * token mass but 5% of en" or "the dropped docs are twice as
    * long as the kept ones" is a composition shift the corpus-size
    * counters (q64/q503) cannot see. Same prefix-fingerprint
    * cluster family as q503, so the two operators' cluster
    * definitions can never drift apart in a report that shows both.
    * Scale shape: one scan, one shuffle on the fingerprint (two
    * windows), then a (lang × cohort)-grain fold — no pairs, no
    * joins; clusters spanning languages keep the GLOBAL min-id
    * canonical, which is exactly the cross-language bias the audit
    * exists to surface. */
  def q525DedupSurvivorBias(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir).createOrReplaceTempView("_q525_docs")
    s.sql(
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(size(split(text, ' ')) AS BIGINT) AS nt,
        |    md5(array_join(slice(split(text, ' '), 1, 4), ' ')) AS fp
        |  FROM _q525_docs),
        |c AS (
        |  SELECT lang, nt, doc_id,
        |    count(*)    OVER (PARTITION BY fp) AS csz,
        |    min(doc_id) OVER (PARTITION BY fp) AS rep
        |  FROM d)
        |SELECT lang,
        |  CASE WHEN doc_id = rep THEN 'kept' ELSE 'dropped' END AS cohort,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS tokens,
        |  CAST(sum(nt) * 1000 div count(*) AS BIGINT) AS mean_millitokens,
        |  CAST(sum(CASE WHEN csz > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS in_cluster_docs
        |FROM c GROUP BY 1, 2 ORDER BY lang, cohort""".stripMargin)
  }

  private val q525Oracle =
    """WITH d AS (
      |  SELECT doc_id, lang,
      |    len(string_split(text, ' ')) AS nt,
      |    md5(array_to_string(string_split(text, ' ')[1:4], ' ')) AS fp
      |  FROM documents),
      |c AS (
      |  SELECT lang, nt, doc_id,
      |    count(*)    OVER (PARTITION BY fp) AS csz,
      |    min(doc_id) OVER (PARTITION BY fp) AS rep
      |  FROM d)
      |SELECT lang,
      |  CASE WHEN doc_id = rep THEN 'kept' ELSE 'dropped' END AS cohort,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(nt) AS BIGINT) AS tokens,
      |  CAST(sum(nt) * 1000 // count(*) AS BIGINT) AS mean_millitokens,
      |  CAST(sum(CASE WHEN csz > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS in_cluster_docs
      |FROM c GROUP BY 1, 2 ORDER BY lang, cohort""".stripMargin

  // ---------------------------------------------------------------- q526
  /** [NS] REFERENCE-CORPUS N-GRAM NOVELTY (the integer-exact core of
    * a CCNet-style quality filter): score each ingest source by how
    * much of its token stream is COVERED by a trusted reference
    * slice — per (source, n-gram order ∈ {1,2,3}), the
    * occurrence-weighted fraction of the source's n-grams that
    * appear anywhere in the reference, in exact ppm. High unigram
    * coverage + collapsing bigram/trigram coverage is the "right
    * words, wrong order" signature of gibberish and MT slop; LOW
    * unigram coverage flags out-of-domain or wrong-language
    * ingest — the two failure classes a perplexity filter catches,
    * here with no floats and no model, so the readout is
    * cross-engine exact. Reference slice = doc_id % 10 == 0 (the
    * deterministic held-out convention q120's splits use).
    * Scale shape: occurrences fold to (source, order, gram, count)
    * in ONE shuffle before any join (the q518 discipline), the
    * reference side dedups to (order, gram), and the hit join is
    * gram-hash — no pairs, no broadcast of corpus-scale state; text
    * never shuffles ([[Tables.documentsSpread]] scan-side explode). */
  def q526NgramNovelty(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documentsSpread(s, dir)
      .select($"doc_id", $"source", $"text")
    val grams = Seq(1, 2, 3).map { n =>
      docs.select($"doc_id", $"source", lit(n.toLong).as("ord"),
        explode(spansN($"text", n)).as("g"))
    }.reduce(_ unionByName _)
    // occurrence counts fold BEFORE the join: (source, ord, gram)
    // grain — the corpus token stream never reaches the join
    val corp = grams.where($"doc_id" % 10 =!= 0)
      .groupBy($"source", $"ord", $"g")
      .agg(count(lit(1)).as("cnt"))
    val ref = grams.where($"doc_id" % 10 === 0)
      .select($"ord", $"g").distinct()
      .withColumn("hit", lit(1L))
    corp.join(ref, Seq("ord", "g"), "left")
      .groupBy($"source", $"ord")
      .agg(sum($"cnt").as("n_grams"),
        sum($"cnt" * coalesce($"hit", lit(0L))).as("n_hits"))
      .select($"source", $"ord",
        $"n_grams".cast("long").as("n_grams"),
        $"n_hits".cast("long").as("n_hits"),
        expr("n_hits * 1000000 div n_grams").cast("long").as("hit_ppm"))
      .orderBy($"source", $"ord")
  }

  private val q526Oracle =
    """WITH t AS (
      |  SELECT doc_id, source, string_split(lower(text), ' ') AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, source, 1 AS ord, unnest(toks) AS g FROM t
      |  UNION ALL
      |  SELECT doc_id, source, 2 AS ord, unnest(list_transform(
      |    range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS g
      |  FROM t
      |  UNION ALL
      |  SELECT doc_id, source, 3 AS ord, unnest(list_transform(
      |    range(1, len(toks) - 1),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
      |  FROM t),
      |corp AS (
      |  SELECT source, ord, g, count(*) AS cnt FROM g
      |  WHERE doc_id % 10 <> 0 GROUP BY 1, 2, 3),
      |ref AS (
      |  SELECT DISTINCT ord, g FROM g WHERE doc_id % 10 = 0)
      |SELECT corp.source, CAST(corp.ord AS BIGINT) AS ord,
      |  CAST(sum(cnt) AS BIGINT) AS n_grams,
      |  CAST(sum(CASE WHEN ref.g IS NULL THEN 0 ELSE cnt END)
      |    AS BIGINT) AS n_hits,
      |  CAST(sum(CASE WHEN ref.g IS NULL THEN 0 ELSE cnt END)
      |    * 1000000 // sum(cnt) AS BIGINT) AS hit_ppm
      |FROM corp LEFT JOIN ref
      |  ON corp.ord = ref.ord AND corp.g = ref.g
      |GROUP BY 1, 2 ORDER BY source, ord""".stripMargin

  // ---------------------------------------------------------------- q518
  /** Benchmark-suite count for the overlap matrix: the q53 benchmark
    * docs (doc_id < [[contamBenchmarkIds]]) stratify into this many
    * SUITES by doc_id — the suite-fleet generalization of q53/q56's
    * single eval set. */
  val overlapSuites = 3L

  /** BENCHMARK-OVERLAP MATRIX — one pass scoring every
    * (corpus source × benchmark suite) cell, the governance readout a
    * training run signs off on: q53 answers "is THIS doc
    * contaminated", this answers "how much of EACH benchmark leaks
    * through EACH ingest source", which is what decides whether a
    * source is quarantined or a benchmark is retired. Cell score =
    * distinct suite 8-grams present anywhere in the source / the
    * suite's distinct 8-gram count (containment, q160's measure, at
    * (source, suite) grain), zero cells kept — a matrix with holes
    * reads as "not measured".
    *
    * Scale shape: the benchmark side collapses to distinct
    * (suite, 8-gram) rows and BROADCASTS (benchmark fleets are MBs —
    * bounded by eval-set size, never corpus size); the corpus side
    * dedups (source, gram) in one shuffle and joins map-side; the
    * matrix itself is |sources|×|suites| driver-size arithmetic. Text
    * never shuffles ([[Tables.documentsSpread]] scan-side explode);
    * no all-pairs form exists — work is grams-grain, the q53/q55
    * priced class. */
  def q518BenchOverlapMatrix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = Tables.documentsSpread(s, dir)
      .select($"doc_id", $"source", explode(shinglesN($"text", 8)).as("sh"))
    val bench = sh.where($"doc_id" < contamBenchmarkIds)
      .select(concat(lit("suite_"),
        pmod($"doc_id", lit(overlapSuites)).cast("string")).as("suite"),
        $"sh")
      .distinct()
    val suiteTotals = bench.groupBy($"suite")
      .agg(count(lit(1)).as("suite_grams"))
    val corpus = sh.where($"doc_id" >= contamBenchmarkIds)
      .select($"source", $"sh").distinct()
    val shared = corpus.join(broadcast(bench), Seq("sh"))
      .groupBy($"source", $"suite").agg(count(lit(1)).as("n_shared"))
    // the source universe comes from the DOCUMENTS table, not the
    // shingled frame — a source whose docs are all shorter than the
    // 8-gram window sheds no shingles yet must still show its
    // zero-containment row (the matrix contract: holes read as
    // "not measured")
    val srcs = Tables.documents(s, dir)
      .where($"doc_id" >= contamBenchmarkIds)
      .select($"source").distinct()
    srcs.crossJoin(suiteTotals)
      .join(shared, Seq("source", "suite"), "left")
      .select($"source", $"suite",
        coalesce($"n_shared", lit(0L)).as("n_shared"), $"suite_grams",
        (coalesce($"n_shared", lit(0L)).cast("double") /
          $"suite_grams".cast("double")).as("containment"))
      .orderBy($"source", $"suite")
  }

  private val q518Oracle =
    s"""WITH $span8Cte,
       |b AS (
       |  SELECT DISTINCT
       |    'suite_' || CAST(doc_id % $overlapSuites AS STRING) AS suite,
       |    sh
       |  FROM sh WHERE doc_id < $contamBenchmarkIds),
       |st AS (
       |  SELECT suite, CAST(count(*) AS BIGINT) AS suite_grams
       |  FROM b GROUP BY 1),
       |c AS (
       |  SELECT DISTINCT d.source, sh.sh
       |  FROM sh JOIN documents d USING (doc_id)
       |  WHERE sh.doc_id >= $contamBenchmarkIds),
       |shd AS (
       |  SELECT c.source, b.suite, CAST(count(*) AS BIGINT) AS n_shared
       |  FROM c JOIN b ON c.sh = b.sh GROUP BY 1, 2),
       |srcs AS (
       |  SELECT DISTINCT source FROM documents
       |  WHERE doc_id >= $contamBenchmarkIds)
       |SELECT srcs.source, st.suite,
       |  COALESCE(shd.n_shared, 0) AS n_shared, st.suite_grams,
       |  CAST(COALESCE(shd.n_shared, 0) AS DOUBLE) /
       |    CAST(st.suite_grams AS DOUBLE) AS containment
       |FROM srcs CROSS JOIN st
       |LEFT JOIN shd ON shd.source = srcs.source AND shd.suite = st.suite
       |ORDER BY srcs.source, st.suite""".stripMargin

  // ---------------------------------------------------------------- q522
  /** CONTAMINATION TIME-PROFILE — q518's (source × suite) containment
    * with an INGEST-WEEK axis: every (source, week, suite) cell's
    * 8-gram containment in one pass, the "when did the leak start"
    * readout that decides whether to quarantine a whole source or
    * just a date range (a benchmark republished mid-crawl shows up as
    * a containment step-function at its release week; a source dirty
    * from week zero gets quarantined outright). Weeks are planted
    * deterministically (`doc_id % 4` — the fixture's ingest
    * stand-in); zero cells stay explicit per q518's matrix contract.
    *
    * Scale shape: IDENTICAL to q518's — the benchmark side collapses
    * to distinct (suite, gram) and broadcasts; the corpus side dedups
    * (source, week, gram) in ONE shuffle (the week key adds a
    * grouping column, not a shuffle class); the profile itself is
    * |sources|×|weeks|×|suites| driver-size arithmetic. Text never
    * shuffles. */
  def q522ContamTimeProfile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = Tables.documentsSpread(s, dir)
      .select($"doc_id", $"source", explode(shinglesN($"text", 8)).as("sh"))
    val bench = sh.where($"doc_id" < contamBenchmarkIds)
      .select(concat(lit("suite_"),
        pmod($"doc_id", lit(overlapSuites)).cast("string")).as("suite"),
        $"sh")
      .distinct()
    val suiteTotals = bench.groupBy($"suite")
      .agg(count(lit(1)).as("suite_grams"))
    val corpus = sh.where($"doc_id" >= contamBenchmarkIds)
      .select($"source", pmod($"doc_id", lit(4)).as("week"), $"sh")
      .distinct()
    val shared = corpus.join(broadcast(bench), Seq("sh"))
      .groupBy($"source", $"week", $"suite")
      .agg(count(lit(1)).as("n_shared"))
    // the (source, week) universe comes from the DOCUMENTS table so a
    // shingle-free week still shows its zero row
    val universe = Tables.documents(s, dir)
      .where($"doc_id" >= contamBenchmarkIds)
      .select($"source", pmod($"doc_id", lit(4)).as("week")).distinct()
    universe.crossJoin(suiteTotals)
      .join(shared, Seq("source", "week", "suite"), "left")
      .select($"source", $"week", $"suite",
        coalesce($"n_shared", lit(0L)).as("n_shared"), $"suite_grams",
        (coalesce($"n_shared", lit(0L)).cast("double") /
          $"suite_grams".cast("double")).as("containment"))
      .orderBy($"source", $"week", $"suite")
  }

  private val q522Oracle =
    s"""WITH $span8Cte,
       |b AS (
       |  SELECT DISTINCT
       |    'suite_' || CAST(doc_id % $overlapSuites AS STRING) AS suite,
       |    sh
       |  FROM sh WHERE doc_id < $contamBenchmarkIds),
       |st AS (
       |  SELECT suite, CAST(count(*) AS BIGINT) AS suite_grams
       |  FROM b GROUP BY 1),
       |c AS (
       |  SELECT DISTINCT d.source, d.doc_id % 4 AS week, sh.sh
       |  FROM sh JOIN documents d USING (doc_id)
       |  WHERE sh.doc_id >= $contamBenchmarkIds),
       |shd AS (
       |  SELECT c.source, c.week, b.suite,
       |    CAST(count(*) AS BIGINT) AS n_shared
       |  FROM c JOIN b ON c.sh = b.sh GROUP BY 1, 2, 3),
       |u AS (
       |  SELECT DISTINCT source, doc_id % 4 AS week FROM documents
       |  WHERE doc_id >= $contamBenchmarkIds)
       |SELECT u.source, CAST(u.week AS BIGINT) AS week, st.suite,
       |  CAST(COALESCE(shd.n_shared, 0) AS BIGINT) AS n_shared,
       |  st.suite_grams,
       |  CAST(COALESCE(shd.n_shared, 0) AS DOUBLE) /
       |    CAST(st.suite_grams AS DOUBLE) AS containment
       |FROM u CROSS JOIN st
       |LEFT JOIN shd ON shd.source = u.source AND shd.week = u.week
       |  AND shd.suite = st.suite
       |ORDER BY u.source, week, st.suite""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q522_contam_time_profile" -> (q522ContamTimeProfile _),
    "q518_bench_overlap_matrix" -> (q518BenchOverlapMatrix _),
    "q501_url_canonical_dedup" -> (q501UrlCanonicalDedup _),
    "q503_soft_dedup_weights" -> (q503SoftDedupWeights _),
    "q525_dedup_survivor_bias" -> (q525DedupSurvivorBias _),
    "q526_ngram_novelty" -> (q526NgramNovelty _),
    "q475_banding_sweep" -> (q475BandingSweep _),
    "q469_dedup_quality_eval" -> (q469DedupQualityEval _),
    "q359_exact_substr_dedup" -> (q359ExactSubstrDedup _),
    "q356_winnow_fingerprints" -> (q356WinnowFingerprints _),
    "q297_dedup_threshold_sweep" -> (q297DedupThresholdSweep _),
    "q299_cross_source_dups" -> (q299CrossSourceDups _),
    "q301_keeper_divergence" -> (q301KeeperDivergence _),
    "q292_prefix_filter_join" -> (q292PrefixFilterJoin _),
    "q290_cluster_density"  -> (q290ClusterDensity _),
    "q256_dedup_roi"        -> (q256DedupRoi _),
    "q265_lsh_advisor"      -> (q265LshAdvisor _),
    "q268_method_agreement" -> (q268MethodAgreement _),
    "q280_pair_budget"      -> (q280PairBudget _),
    "q281_dedup_recapture"  -> (q281DedupRecapture _),
    "q64_exact_dedup"       -> (q64ExactDedup _),
    "q65_minhash_lsh"       -> (q65MinhashLsh _),
    "q66_ngram_jaccard"     -> (q66NgramJaccard _),
    "q67_simhash"           -> (q67Simhash _),
    "q68_embedding_neardup" -> (q68EmbeddingNearDup _),
    "q69_simhash_neardup"   -> (q69SimhashNearDup _),
    "q53_decontamination"   -> (q53Decontamination _),
    "q55_span_dedup"        -> (q55SpanDedup _),
    "q56_span_decontam"     -> (q56SpanDecontam _),
    "q58_span_mask"         -> (q58SpanMask _),
    "q74_cluster_keepers"   -> (q74ClusterKeepers _),
    "q79_neardup_clusters"  -> (q79NeardupClusters _),
    "q243_golden_record"    -> (q243GoldenRecord _),
    "q113_source_overlap"   -> (q113SourceOverlap _),
    "q114_incremental_dedup" -> (q114IncrementalDedup _),
    "q118_threshold_curve"  -> (q118ThresholdCurve _),
    "q120_leakage_safe_split" -> (q120LeakageSafeSplit _),
    "q122_source_centrality" -> (q122SourceCentrality _),
    "q126_hard_negatives"   -> (q126HardNegatives _),
    "q127_incremental_clusters" -> (q127IncrementalClusters _),
    "q131_retention_ledger" -> (q131RetentionLedger _),
    "q155_boilerplate_catalog" -> (q155BoilerplateCatalog _),
    "q160_containment_dedup" -> (q160ContainmentDedup _),
    "q164_novelty_ratio"    -> (q164NoveltyRatio _),
    "q213_dup_rate_by_source" -> (q213DupRateBySource _),
  )

  val oracles: Map[String, String] = Map(
    "q522_contam_time_profile" -> q522Oracle,
    "q518_bench_overlap_matrix" -> q518Oracle,
    "q501_url_canonical_dedup" -> q501Oracle,
    "q503_soft_dedup_weights" -> q503Oracle,
    "q525_dedup_survivor_bias" -> q525Oracle,
    "q526_ngram_novelty" -> q526Oracle,
    "q256_dedup_roi"        -> q256Oracle,
    "q265_lsh_advisor"      -> q265Oracle,
    "q268_method_agreement" -> q268Oracle,
    "q280_pair_budget"      -> q280Oracle,
    "q281_dedup_recapture"  -> q281Oracle,
    "q290_cluster_density"  -> q290Oracle,
    "q292_prefix_filter_join" -> q66Oracle,
    "q297_dedup_threshold_sweep" -> q297Oracle,
    "q299_cross_source_dups" -> q299Oracle,
    "q301_keeper_divergence" -> q301Oracle,
    "q64_exact_dedup"       -> q64Oracle,
    "q65_minhash_lsh"       -> q65Oracle,
    "q475_banding_sweep" -> q475Oracle,
    "q469_dedup_quality_eval" -> q469Oracle,
    "q66_ngram_jaccard"     -> q66Oracle,
    "q67_simhash"           -> q67Oracle,
    "q68_embedding_neardup" -> q68Oracle,
    "q69_simhash_neardup"   -> q69Oracle,
    "q53_decontamination"   -> q53Oracle,
    "q55_span_dedup"        -> q55Oracle,
    "q56_span_decontam"     -> q56Oracle,
    "q58_span_mask"         -> q58Oracle,
    "q74_cluster_keepers"   -> q74Oracle,
    "q113_source_overlap"   -> q113Oracle,
    "q114_incremental_dedup" -> q114Oracle,
    "q118_threshold_curve"  -> q118Oracle,
    "q120_leakage_safe_split" -> q120Oracle,
    "q122_source_centrality" -> q122Oracle,
    "q126_hard_negatives"   -> q126Oracle,
    "q127_incremental_clusters" -> q127Oracle,
    "q131_retention_ledger" -> q131Oracle,
    "q79_neardup_clusters"  -> q79Oracle,
    "q243_golden_record"    -> q243Oracle,
    "q155_boilerplate_catalog" -> q155Oracle,
    "q356_winnow_fingerprints" -> q356Oracle,
    "q359_exact_substr_dedup" -> q359Oracle,
    "q160_containment_dedup" -> q160Oracle,
    "q164_novelty_ratio"    -> q164Oracle,
    "q213_dup_rate_by_source" -> q213Oracle,
  )
}
