package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorOps

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`embedding: array<float>[64]`) — the [NS] similarity-search
  * family from SURVEY.md §2.2.
  *
  * q70 is the exact brute-force baseline (and the DuckDB-oracle
  * path); q71 is the IVF (inverted-file) scale path: cluster the
  * corpus once into C cells around broadcast centroids, then probe
  * only the nprobe nearest cells per query. At 100 TB the corpus
  * never self-joins: cell assignment is a broadcast map-side pass,
  * and the probe join touches nprobe/C of the data.
  */
object SimilarityOps {

  /** Number of query vectors (smallest vec_ids double as queries). */
  val nQueries = 5
  val topK = 10

  /** Corpus with per-row norm precomputed below any join (computing
    * it inside a pair expression would redo the fold O(n·q) times). */
  private def corpus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding", VectorOps.norm($"embedding").as("nrm"))
  }

  // ---------------------------------------------------------------- q357
  /** Benchmark embeddings = the first [[semContamBench]] vec_ids —
    * q53's doc_id-prefix eval-set convention on the embeddings
    * table. */
  val semContamBench = 50L
  /** Cosine flag threshold. The synthetic corpus is near-uniform
    * (max benchmark cosines span ~0.16–0.49 at sf0.01), so 0.3 keeps
    * both branches live; a real eval-leak sits ≥ 0.95 and any τ in
    * between catches it. */
  val semContamTau = 0.3

  /** SEMANTIC benchmark decontamination — the embedding-space
    * complement of q53/q56's 8-gram overlap: paraphrased or
    * re-rendered eval items share no shingle but sit next to the
    * benchmark in embedding space. Every corpus vector reports its
    * nearest benchmark item (max cosine, smaller bench id on ties)
    * and a contaminated flag at [[semContamTau]]; a curator drops or
    * audits the flagged band before training. Same scale shape as
    * q70: the benchmark side broadcasts, the corpus never exchanges,
    * the argmax folds per corpus vector inside one map-side
    * aggregate (no per-vector window over the corpus). Cosines are
    * bit-identical cross-engine (FloatVecDot sums in index order =
    * DuckDB's sequential list_reduce), so flag and argmax hash. */
  def q357SemanticDecontam(s: SparkSession, dir: String): DataFrame =
    semanticDecontamOf(Tables.embeddings(s, dir))

  private[ops] def semanticDecontamOf(emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val c = emb.select($"vec_id", $"embedding",
      VectorOps.norm($"embedding").as("nrm"))
    val b = c.where($"vec_id" < semContamBench)
      .select($"vec_id".as("bench_id"), $"embedding".as("bv"), $"nrm".as("bn"))
    c.where($"vec_id" >= semContamBench)
      .join(broadcast(b))
      .select($"vec_id", $"bench_id",
        (VectorOps.dot($"embedding", $"bv") / ($"nrm" * $"bn")).as("cosine"))
      .groupBy($"vec_id")
      .agg(max(struct($"cosine", (-$"bench_id").as("nb"))).as("m"))
      .select($"vec_id", (-$"m.nb").as("bench_id"),
        $"m.cosine".as("max_cosine"),
        when($"m.cosine" >= semContamTau, 1L).otherwise(0L).as("contaminated"))
      .orderBy($"vec_id")
  }

  // lazy: dotSql is declared below (q70's section) and object vals
  // initialize in declaration order
  private lazy val q357Oracle =
    s"""WITH c AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |b AS (SELECT vec_id AS bench_id, embedding AS bv, nrm AS bn
       |      FROM c WHERE vec_id < $semContamBench),
       |scored AS (
       |  SELECT vec_id, bench_id,
       |    ${dotSql("embedding", "bv")} / (nrm * bn) AS cosine
       |  FROM c CROSS JOIN b WHERE vec_id >= $semContamBench),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cosine DESC, bench_id ASC) AS rn
       |  FROM scored)
       |SELECT vec_id, bench_id, cosine AS max_cosine,
       |  CAST(CASE WHEN cosine >= $semContamTau THEN 1 ELSE 0 END AS BIGINT)
       |    AS contaminated
       |FROM ranked WHERE rn = 1 ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- q70
  /** Exact kNN: broadcast the query vectors against the corpus, rank
    * by cosine (ties → lower vec_id), keep top-10 per query. The
    * per-query window is fine for a handful of queries; a large query
    * batch would use two-phase top-k (per-partition partial top-k,
    * then merge) to avoid skewing one task per query key. */
  def q70KnnBruteForce(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = corpus(s, dir)
    val q = c.where($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"), $"nrm".as("qn"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"cosine".desc, $"vec_id".asc)
    c.join(broadcast(q), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        (VectorOps.dot($"embedding", $"qv") / ($"nrm" * $"qn")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where($"rank" <= topK)
      .select($"query_id", $"vec_id".as("neighbor_id"), $"rank", $"cosine")
      .orderBy($"query_id", $"rank")
  }

  private[ops] val dotSql = (a: String, b: String) =>
    s"""list_reduce(list_transform(range(1, len($a) + 1),
       |  i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)""".stripMargin

  private val q70Oracle =
    s"""WITH c AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qn
       |      FROM c WHERE vec_id < $nQueries),
       |scored AS (
       |  SELECT query_id, vec_id,
       |    ${dotSql("embedding", "qv")} / (nrm * qn) AS cosine
       |  FROM c JOIN q ON vec_id <> query_id),
       |ranked AS (
       |  SELECT query_id, vec_id AS neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cosine DESC, vec_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, rank, cosine FROM ranked
       |WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------- q71
  /** IVF-Flat ANN. The cell count C = [[numCells]] is a FIXED model
    * hyperparameter, never a function of corpus size: centroids ship
    * to every task as literal expressions, and literal-array codegen
    * has a method-size ceiling, so C must stay bounded no matter how
    * far the corpus scales (a stride-derived C = n/stride would grow
    * without limit — the round-2 formulation). Centroids = numCells
    * evenly-strided seed vectors, Lloyd-refined on a deterministic
    * hash SAMPLE of the corpus ([[lloydSamplePct]] — training cost is
    * sample-bounded, never another full-corpus scan per round).
    * Nearest-cell assignment is then a PURE PROJECTION over
    * the corpus scan — zero Exchange, no corpus re-grouping, and
    * embedding payloads never shuffle (the round-1 formulation
    * exploded corpus×C rows through a cross join and re-aggregated by
    * vec_id, shuffling every embedding — at 100 TB that one exchange
    * is the whole job). PlanSpec pins the no-Exchange property.
    * Each query probes the `nprobe` nearest cells (same projection,
    * top-nprobe via sorted literal array) and ranks exactly within
    * the candidate cells.
    *
    * nprobe/C is the recall/cost dial: the synthetic corpus is
    * near-uniform (no cluster structure), so recall ≈ fraction
    * probed and the spec's ≥0.5 bar needs nprobe/C = 1/2; real
    * embedding corpora cluster, making nprobe/C ≪ 1 the operating
    * point.
    *
    * Fully ORACLE-CHECKED: Lloyd means run on a fixed-point integer
    * grid (see [[quantScale]]), so the model — seeds, two unrolled
    * training rounds, assignment, probes, and the exact-cosine
    * ranking — is recomputed verbatim by the generated DuckDB SQL.
    * SimilarityOpsSpec additionally checks recall@10 against q70. */
  val numCells = 8
  val nprobe = 4

  /** Lloyd (k-means) refinement rounds applied to the strided seed
    * centroids. Each round = one zero-Exchange assignment projection
    * + one per-(cell, dim) mean whose partial aggregate combines
    * map-side, so the shuffle carries O(C × dims) rows per partition
    * — embeddings never shuffle during training either. */
  val lloydIterations = 2

  /** Percent of the corpus the Lloyd rounds train on. Training cost
    * is SAMPLE-bounded, not corpus-bounded: centroid quality is
    * limited by sample noise ~1/√(rows per cell) long before it is
    * limited by corpus size, so at 100 TB re-scanning the full corpus
    * per round buys nothing. The sample is the same deterministic
    * md5-bucket device as q49's stratified sampling — a pure function
    * of vec_id, reproducible across retries/partitionings/engines,
    * never an RNG stream. Assignment of the FULL corpus to the final
    * centroids is unchanged (one zero-Exchange projection,
    * PlanSpec-pinned). */
  val lloydSamplePct = 25

  /** Fixed-point grid for Lloyd means: elements quantize to
    * floor(x·2²⁰) before summation, so the per-(cell, dim) reduction
    * is INTEGER — order-independent under any partitioning — and the
    * centroid mean is an exact floor division. Means stay < 2²⁴, so
    * the Float centroid representation is exact and the DuckDB
    * oracle reproduces the whole model bit-for-bit (a double mean's
    * low bits depend on summation order — the reason q71 was
    * rows-only before this). Cosine against the scaled centroids is
    * unchanged: cosine is scale-invariant per centroid. */
  val quantScale = 1048576L // 2^20

  /** (cid, centroid vector, centroid norm) — the IVF "model". One
    * driver-side collect of exactly numCells rows per training round;
    * the count() that places the seed stride is metadata-only on
    * parquet. A cell that goes empty keeps its previous centroid. */
  private def centroidModel(s: SparkSession, dir: String): Array[(Long, Seq[Float], Double)] = {
    import s.implicits._
    val c = corpus(s, dir)
    val stride = math.max(1L, Tables.embeddings(s, dir).count() / numCells)
    var cents = c.where($"vec_id" % stride === 0 && $"vec_id" < stride * numCells)
      .orderBy($"vec_id")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getDouble(2)))
    // Lloyd rounds see only the deterministic hash sample; the filter
    // is a pure row predicate, so it evaluates at scan time.
    val train = c.where(
      conv(substring(md5(concat(lit("ivf:"), $"vec_id".cast("string"))), 1, 4), 16, 10)
        .cast("long") % 100 < lloydSamplePct)
    for (_ <- 0 until lloydIterations) {
      val means = train
        .select(
          (-array_max(centroidScores(cents, $"embedding", $"nrm")).getField("negcid")).as("cell"),
          posexplode($"embedding"))
        .groupBy($"cell", $"pos")
        .agg(sum(floor($"col".cast("double") * quantScale.toDouble).cast("long")).as("qs"),
          count(lit(1)).as("n"))
        .collect()
        .groupBy(_.getLong(0))
      cents = cents.map { case (cid, oldVec, oldNrm) =>
        means.get(cid) match {
          case Some(rows) =>
            val vec = rows.sortBy(_.getInt(1))
              .map(r => Math.floorDiv(r.getLong(2), r.getLong(3)).toFloat).toSeq
            val nrm = math.sqrt(vec.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
            (cid, vec, nrm)
          case None => (cid, oldVec, oldNrm)
        }
      }
    }
    cents
  }

  /** Per-centroid (cosine, -cid) score structs as one literal-driven
    * projection — arg-max/top-k over it never touches an Exchange. */
  private def centroidScores(cents: Array[(Long, Seq[Float], Double)],
      v: Column, nrm: Column): Column =
    array(cents.map { case (cid, cv, cn) =>
      struct(
        (VectorOps.dot(v, typedlit(cv)) / (nrm * lit(cn))).as("ccos"),
        lit(-cid).as("negcid"))
    }: _*)

  def q71KnnIvf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = corpus(s, dir)
    val cents = centroidModel(s, dir)
    // nearest cell = arg-max over the literal score array: struct
    // compare orders by (ccos, negcid), so ties break to smaller cid —
    // identical semantics to the old max_by(cid, struct(ccos, -cid)).
    val cells = c.withColumn("cell",
      -array_max(centroidScores(cents, $"embedding", $"nrm")).getField("negcid"))
    val q = c.where($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"), $"nrm".as("qn"))
    // top-nprobe cells per query: descending sort of the same literal
    // array (ccos desc, then cid asc), slice, explode — still no join.
    val probes = q.select($"query_id", $"qv", $"qn",
      explode(transform(
        slice(reverse(array_sort(centroidScores(cents, $"qv", $"qn"))), 1, nprobe),
        x => -x.getField("negcid"))).as("cell"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"cosine".desc, $"vec_id".asc)
    cells.join(broadcast(probes), Seq("cell"))
      .where($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        (VectorOps.dot($"embedding", $"qv") / ($"nrm" * $"qn")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where($"rank" <= topK)
      .select($"query_id", $"vec_id".as("neighbor_id"), $"rank", $"cosine")
      .orderBy($"query_id", $"rank")
  }

  /** Generated oracle replaying the ENTIRE IVF pipeline in SQL:
    * strided seeds → [[lloydIterations]] unrolled fixed-point Lloyd
    * rounds over the md5 sample → zero-arg cell assignment → probe
    * selection → exact-cosine ranking. Every constant ([[numCells]],
    * [[nprobe]], [[quantScale]], sample predicate, tie-breaks) is
    * interpolated from the Spark-side values. */
  /** Shared SQL: the full IVF model replay (seeds → sampled Lloyd
    * rounds → full-corpus cell assignment), ending in
    * `cells(vec_id, cell)` — used by q71's ranking oracle AND q191's
    * balance-report oracle so the model SQL can never fork. */
  private lazy val ivfCellsCte = {
    def cosSql(emb: String, nrm: String, cv: String, cn: String) =
      s"""list_reduce(list_transform(range(1, len($emb) + 1),
         |        i -> CAST($emb[i] AS DOUBLE) * $cv[i]), (x, y) -> x + y)
         |      / ($nrm * $cn)""".stripMargin
    val rounds = (1 to lloydIterations).map { k =>
      val prev = if (k == 1) "c0" else s"c${k - 1}"
      s"""a$k AS (
         |  SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
         |  FROM (
         |    SELECT t.vec_id, c.cid,
         |      ${cosSql("t.embedding", "t.nrm", "c.cv", "c.cn")} AS cos
         |    FROM train t, $prev c)),
         |m$k AS (
         |  SELECT a.cid AS cell, tq.pos,
         |    CAST(sum(tq.q) AS BIGINT) // count(*) AS m
         |  FROM (SELECT vec_id, cid FROM a$k WHERE rn = 1) a
         |  JOIN tq ON a.vec_id = tq.vec_id
         |  GROUP BY 1, 2),
         |mv$k AS (
         |  SELECT cell AS cid, list(CAST(m AS DOUBLE) ORDER BY pos) AS cv
         |  FROM m$k GROUP BY 1),
         |c$k AS (
         |  SELECT p.cid, COALESCE(mv$k.cv, p.cv) AS cv,
         |    sqrt(list_reduce(list_transform(COALESCE(mv$k.cv, p.cv), x -> x * x),
         |      (x, y) -> x + y)) AS cn
         |  FROM $prev p LEFT JOIN mv$k ON p.cid = mv$k.cid)""".stripMargin
    }.mkString(",\n")
    val last = s"c$lloydIterations"
    s"""e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |st AS (SELECT greatest(1, count(*) // $numCells) AS stride FROM e),
       |c0 AS (
       |  SELECT vec_id AS cid,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv, nrm AS cn
       |  FROM e, st WHERE vec_id % stride = 0 AND vec_id < stride * $numCells),
       |train AS (
       |  SELECT * FROM e
       |  WHERE ('0x' || substr(md5('ivf:' || CAST(vec_id AS VARCHAR)), 1, 4))::BIGINT
       |    % 100 < $lloydSamplePct),
       |tq AS (
       |  SELECT vec_id, i AS pos,
       |    CAST(floor(CAST(embedding[i] AS DOUBLE) * $quantScale.0) AS BIGINT) AS q
       |  FROM (SELECT vec_id, embedding,
       |          unnest(range(1, len(embedding) + 1)) AS i
       |        FROM train)),
       |$rounds,
       |sc AS (
       |  SELECT e.vec_id, c.cid,
       |    ${cosSql("e.embedding", "e.nrm", "c.cv", "c.cn")} AS cos
       |  FROM e, $last c),
       |cells AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
       |    FROM sc)
       |  WHERE rn = 1)""".stripMargin
  }

  private lazy val q71Oracle = {
    s"""WITH $ivfCellsCte,
       |probes AS (
       |  SELECT vec_id AS query_id, cid AS cell FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
       |    FROM sc WHERE vec_id < $nQueries)
       |  WHERE rn <= $nprobe),
       |cand AS (
       |  SELECT p.query_id, ce.vec_id
       |  FROM probes p JOIN cells ce ON p.cell = ce.cell
       |  WHERE ce.vec_id <> p.query_id),
       |scored AS (
       |  SELECT cand.query_id, cand.vec_id,
       |    ${dotSql("ce.embedding", "qe.embedding")} / (ce.nrm * qe.nrm) AS cosine
       |  FROM cand
       |  JOIN e ce ON cand.vec_id = ce.vec_id
       |  JOIN e qe ON cand.query_id = qe.vec_id),
       |ranked AS (
       |  SELECT query_id, vec_id AS neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cosine DESC, vec_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, rank, cosine FROM ranked
       |WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------- q52
  /** Signed-random-projection LSH ANN — the bucket-join alternative
    * to q71's IVF: [[lshTables]] hash tables × [[lshBits]] hyperplane
    * sign bits each. A vector lands in one bucket per table (a pure
    * projection over literal hyperplanes — zero Exchange, exactly
    * like IVF assignment); a candidate is any corpus vector sharing a
    * query's bucket in ANY table. Candidates are deduped as BARE ID
    * PAIRS before any payload joins, so the shuffle carries
    * (query_id, vec_id) longs — embeddings are fetched once for the
    * surviving candidate set and ranked by exact cosine.
    *
    * Hyperplanes are DETERMINISTIC (Knuth multiplicative hash of
    * (table, bit, dim), centered to [-1, 1]) — a model you could
    * re-derive on any engine, no RNG stream. Recall/cost dial =
    * (bits, tables): fewer bits → bigger buckets → higher recall;
    * more tables → more probes → higher recall. On the near-uniform
    * synthetic vectors 3 bits × 4 tables probes roughly half the
    * corpus for ~0.6 recall@10; clustered real embeddings run far
    * more selective settings. Because the model is PURE ARITHMETIC
    * (no engine hash, no RNG), the whole query is exactly
    * oracle-able: the SQL recomputes the hyperplanes from the same
    * integer formula (with the same float32 rounding), re-derives
    * every bucket, and ranks identically — so the driver
    * hash-verifies model + candidates + ranking cross-engine.
    * SimilarityOpsSpec additionally checks recall vs q70. */
  val lshTables = 4
  val lshBits = 3

  private def hyperplane(t: Int, b: Int): Seq[Float] =
    (0 until 64).map { d =>
      val h = (((t * 31 + b) * 131 + d).toLong * 2654435761L) >>> 16
      ((h & 0xffffL).toDouble / 65535.0 * 2 - 1).toFloat
    }

  /** array<struct<table, bucket>> for a vector column — one literal-
    * driven projection, no Exchange. */
  private def lshBuckets(v: Column): Column =
    array((0 until lshTables).map { t =>
      val bucket = (0 until lshBits).foldLeft(lit(0L)) { (acc, b) =>
        acc * 2 + when(VectorOps.dot(v, typedlit(hyperplane(t, b))) > 0, 1L).otherwise(0L)
      }
      struct(lit(t).as("table"), bucket.as("bucket"))
    }: _*)

  def q52KnnLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = corpus(s, dir)
    // id-only bucket postings: the only corpus-wide shuffle key
    val postings = c.select($"vec_id", explode(lshBuckets($"embedding")).as("tb"))
      .select($"vec_id", $"tb.table", $"tb.bucket")
    val qBuckets = c.where($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), explode(lshBuckets($"embedding")).as("tb"))
      .select($"query_id", $"tb.table", $"tb.bucket")
    val candidates = postings.join(broadcast(qBuckets), Seq("table", "bucket"))
      .where($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id")
      .distinct()
    val q = c.where($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"), $"nrm".as("qn"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"cosine".desc, $"vec_id".asc)
    candidates
      .join(c, Seq("vec_id"))
      .join(broadcast(q), Seq("query_id"))
      .select($"query_id", $"vec_id",
        (VectorOps.dot($"embedding", $"qv") / ($"nrm" * $"qn")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where($"rank" <= topK)
      .select($"query_id", $"vec_id".as("neighbor_id"), $"rank", $"cosine")
      .orderBy($"query_id", $"rank")
  }

  private val q52Oracle =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |hp AS (
       |  SELECT t, b, list_transform(range(0, 64), d ->
       |    CAST(((((t*31 + b)*131 + d) * 2654435761 >> 16) & 65535)
       |         / 65535.0 * 2 - 1 AS FLOAT)) AS w
       |  FROM range(0, $lshTables) r1(t), range(0, $lshBits) r2(b)),
       |sb AS (
       |  SELECT e.vec_id, hp.t, hp.b,
       |    CASE WHEN ${dotSql("e.embedding", "hp.w")} > 0 THEN 1 ELSE 0 END AS bit
       |  FROM e CROSS JOIN hp),
       |bk AS (
       |  SELECT vec_id, t,
       |    CAST(sum(bit * (1 << ($lshBits - 1 - b))) AS BIGINT) AS bucket
       |  FROM sb GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id
       |  FROM bk q JOIN bk c ON q.t = c.t AND q.bucket = c.bucket
       |  WHERE q.vec_id < $nQueries AND c.vec_id <> q.vec_id),
       |co AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM e),
       |scored AS (
       |  SELECT cand.query_id, cand.vec_id,
       |    ${dotSql("c.embedding", "q.embedding")} / (c.nrm * q.nrm) AS cosine
       |  FROM cand JOIN co c ON cand.vec_id = c.vec_id
       |            JOIN co q ON cand.query_id = q.vec_id),
       |ranked AS (
       |  SELECT query_id, vec_id AS neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cosine DESC, vec_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, rank, cosine FROM ranked
       |WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin

  /** The zero-shuffle assignment plan, exposed for PlanSpec: scan →
    * project(cell) with no Exchange anywhere. */
  def ivfAssignmentPlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = corpus(s, dir)
    c.withColumn("cell",
      -array_max(centroidScores(centroidModel(s, dir), $"embedding", $"nrm"))
        .getField("negcid"))
  }

  // ---------------------------------------------------------------- q95
  /** Metadata-filtered vector search — "nearest neighbors WHERE
    * label = X", the filter+ANN hybrid every retrieval stack needs
    * (filter by language / license / source, then rank by cosine).
    * The metadata predicate is applied to the CORPUS side before the
    * broadcast join, so it pushes down to the parquet scan
    * (PushedFilters) and the candidate set — and with it the ranking
    * cost — shrinks by the filter's selectivity. Queries themselves
    * are NOT label-filtered (you search ON BEHALF of a query, from
    * anywhere). Same exact ranking + tie-break as q70, so this is
    * oracle-exact; at 100 TB the same predicate composes with q71's
    * IVF cells or q52's LSH buckets (filter first, then probe). */
  val filterLabel = 3

  def q95FilteredKnn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val q = Tables.embeddings(s, dir).where($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"),
        VectorOps.norm($"embedding").as("qn"))
    val c = Tables.embeddings(s, dir)
      .where($"label" === filterLabel && $"vec_id" >= nQueries)
      .select($"vec_id", $"embedding", VectorOps.norm($"embedding").as("nrm"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"cosine".desc, $"vec_id".asc)
    c.join(broadcast(q))
      .select($"query_id", $"vec_id",
        (VectorOps.dot($"embedding", $"qv") / ($"nrm" * $"qn")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where($"rank" <= topK)
      .select($"query_id", $"vec_id".as("neighbor_id"), $"rank", $"cosine")
      .orderBy($"query_id", $"rank")
  }

  private val q95Oracle =
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, embedding AS qv,
       |    sqrt(${dotSql("embedding", "embedding")}) AS qn
       |  FROM embeddings WHERE vec_id < $nQueries),
       |c AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings WHERE label = $filterLabel AND vec_id >= $nQueries),
       |scored AS (
       |  SELECT query_id, vec_id,
       |    ${dotSql("embedding", "qv")} / (nrm * qn) AS cosine
       |  FROM c CROSS JOIN q),
       |ranked AS (
       |  SELECT query_id, vec_id AS neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cosine DESC, vec_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, rank, cosine FROM ranked
       |WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------- q97
  /** Per-vector int8 quantization (scalar max-abs scheme) — the 4×
    * memory cut that lets a 100-TB embedding corpus live in executor
    * memory for ANN serving (float32 → int8 + one float scale per
    * vector). Pure projection: evaluates at the scan, zero shuffle
    * before the oracle ORDER BY. Every step is deterministic IEEE
    * double arithmetic + floor, so the quantized codes are
    * bit-reproducible cross-engine — the property a re-shardable
    * index build needs anyway. The epsilon guard keeps an all-zero
    * vector from dividing by zero (its codes are all 0). The
    * round-trip error bound |x − q·s/127| ≤ s/127 is spec-asserted.
    *
    * The registered query serializes `codes` to a CSV string (the
    * driver's comparator hashes scalar cells, not arrays); the
    * array-shaped core stays available as [[quantizeInt8Of]] for
    * q104 and the spec. Embedding dim is fixed > 0, so the
    * empty-array edge (where Spark and DuckDB disagree on
    * stringification) can't occur. */
  private[ops] def quantizeInt8Of(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, dir)
      .withColumn("scale", greatest(
        expr("array_max(transform(embedding, v -> abs(CAST(v AS DOUBLE))))"),
        lit(1e-30)))
      .select($"vec_id", $"scale",
        expr("transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 127.0d / scale) AS INT))")
          .as("codes"))
  }

  def q97QuantizeInt8(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    quantizeInt8Of(s, dir)
      .select($"vec_id", $"scale",
        expr("array_join(transform(codes, c -> CAST(c AS STRING)), ',')")
          .as("codes"))
      .orderBy($"vec_id")
  }

  private val q97Oracle =
    """SELECT vec_id, scale,
      |  array_to_string(list_transform(embedding,
      |    v -> CAST(floor(CAST(v AS DOUBLE) * 127.0 / scale) AS INTEGER)), ',')
      |    AS codes
      |FROM (
      |  SELECT vec_id, embedding,
      |    greatest(list_max(list_transform(embedding,
      |      v -> abs(CAST(v AS DOUBLE)))), 1e-30) AS scale
      |  FROM embeddings)
      |ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- q104
  /** kNN over the int8 codes — the serving-side payoff of q97: rank
    * by the cosine of the QUANTIZED vectors, which is scale-free
    * (the per-vector scales cancel algebraically), so the whole
    * score is integer dot products + two square roots — 4× less
    * memory traffic and SIMD-friendly integer math at 100 TB, with
    * the float corpus needed only for an optional exact re-rank of
    * the shortlist. Every step is deterministic (exact integer sums,
    * then double arithmetic in a fixed order), so unlike float-sum
    * ANN this ranking is hash-oracle-able. The spec measures
    * recall@10 against exact q70 — the quantization error actually
    * observed, not assumed. */
  def q104QuantizedKnn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.expr.VectorExprs
    val qz = quantizeInt8Of(s, dir)
      .select($"vec_id", $"codes",
        VectorExprs.doti($"codes", $"codes").as("ii"))
    val q = qz.where($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"codes".as("qc"), $"ii".as("qii"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"qcos".desc, $"vec_id".asc)
    qz.where($"vec_id" >= nQueries).join(broadcast(q))
      .select($"query_id", $"vec_id",
        (VectorExprs.doti($"codes", $"qc").cast("double") /
          (sqrt($"ii".cast("double")) * sqrt($"qii".cast("double")))).as("qcos"))
      .withColumn("rank", row_number().over(w))
      .where($"rank" <= topK)
      .select($"query_id", $"vec_id".as("neighbor_id"), $"rank", $"qcos")
      .orderBy($"query_id", $"rank")
  }

  private val q104Oracle =
    s"""WITH z AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      v -> CAST(floor(CAST(v AS DOUBLE) * 127.0 /
       |             greatest(list_max(list_transform(embedding,
       |               u -> abs(CAST(u AS DOUBLE)))), 1e-30)) AS INTEGER)) AS codes
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, codes,
       |    CAST(list_sum(list_transform(codes, c -> CAST(c AS BIGINT) * c)) AS BIGINT) AS ii
       |  FROM z),
       |q AS (SELECT vec_id AS query_id, codes AS qc, ii AS qii
       |      FROM n WHERE vec_id < $nQueries),
       |scored AS (
       |  SELECT query_id, vec_id,
       |    CAST(list_sum(list_transform(range(1, len(codes) + 1),
       |           i -> CAST(codes[i] AS BIGINT) * qc[i])) AS DOUBLE)
       |      / (sqrt(CAST(ii AS DOUBLE)) * sqrt(CAST(qii AS DOUBLE))) AS qcos
       |  FROM n CROSS JOIN q WHERE vec_id >= $nQueries),
       |ranked AS (
       |  SELECT query_id, vec_id AS neighbor_id, qcos,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY qcos DESC, vec_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, rank, qcos FROM ranked
       |WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------- q137
  /** Hybrid retrieval: reciprocal-rank fusion (RRF) of the lexical
    * BM25 ranking (q128's scorer, shared verbatim) and a semantic
    * cosine ranking against one query embedding — the standard
    * two-tower + keyword fusion every retrieval pipeline runs, and
    * the reason RRF exists: the two scores live on incomparable
    * scales, but RANKS fuse cleanly.
    *
    * Contributions are FIXED-POINT: floor(1e9 / (rrfC + rank)) per
    * list — integer end-to-end, so the fused ranking is bit-exact
    * across engines and partitionings (a double 1/(60+r) sum is
    * neither). Each ranker emits its top-[[rrfDepth]]; a doc absent
    * from a list contributes zero from it (full outer join). Both
    * ranker top-k cuts are TakeOrdered-shaped k-row frames, so the
    * fusion join is trivially broadcast; at 100 TB the only heavy
    * stages are the two rankers themselves, each already shaped for
    * scale (q128: scan-side tf + broadcast stats; cosine: broadcast
    * query against the corpus scan). */
  val rrfC = 60L
  val rrfDepth = 50
  val rrfScale = 1000000000L

  def q137HybridRrf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lex = TextOps.bm25Scored(s, dir)
      .where($"bm25" > 0.0)
      .orderBy($"bm25".desc, $"doc_id").limit(rrfDepth)
      .select($"doc_id", row_number().over(
        Window.orderBy($"bm25".desc, $"doc_id")).cast("long").as("bm25_rank"))
    val c = corpus(s, dir)
    val q = c.where($"vec_id" === 0)
      .select($"embedding".as("qv"), $"nrm".as("qn"))
    val sem = c.crossJoin(broadcast(q))
      .select($"vec_id".as("doc_id"),
        (VectorOps.dot($"embedding", $"qv") / ($"nrm" * $"qn")).as("cosine"))
      .orderBy($"cosine".desc, $"doc_id").limit(rrfDepth)
      .select($"doc_id", row_number().over(
        Window.orderBy($"cosine".desc, $"doc_id")).cast("long").as("sem_rank"))
    lex.join(sem, Seq("doc_id"), "full_outer")
      .select($"doc_id", $"bm25_rank", $"sem_rank",
        (coalesce(expr(s"$rrfScale div ($rrfC + bm25_rank)"), lit(0L)) +
          coalesce(expr(s"$rrfScale div ($rrfC + sem_rank)"), lit(0L)))
          .as("rrf_score"))
      .orderBy($"rrf_score".desc, $"doc_id")
      .limit(20)
  }

  private val q137Oracle =
    s"""WITH ${TextOps.bm25ScoredCte},
       |lex AS (
       |  SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
       |    AS BIGINT) AS bm25_rank
       |  FROM scored WHERE bm25 > 0.0
       |  ORDER BY bm25 DESC, doc_id LIMIT $rrfDepth),
       |c AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |qv AS (SELECT embedding AS qe, nrm AS qn FROM c WHERE vec_id = 0),
       |cos AS (
       |  SELECT vec_id AS doc_id,
       |    ${dotSql("embedding", "qe")} / (nrm * qn) AS cosine
       |  FROM c CROSS JOIN qv),
       |sem AS (
       |  SELECT doc_id, CAST(row_number() OVER (ORDER BY cosine DESC, doc_id)
       |    AS BIGINT) AS sem_rank
       |  FROM cos ORDER BY cosine DESC, doc_id LIMIT $rrfDepth),
       |fused AS (
       |  SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
       |    lex.bm25_rank, sem.sem_rank,
       |    COALESCE($rrfScale // ($rrfC + bm25_rank), 0)
       |      + COALESCE($rrfScale // ($rrfC + sem_rank), 0) AS rrf_score
       |  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id)
       |SELECT doc_id, bm25_rank, sem_rank, rrf_score FROM fused
       |ORDER BY rrf_score DESC, doc_id LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q147
  /** Embedding-space drift monitor: per label, the cosine similarity
    * between the centroid of the "old" half of the corpus and the
    * "new" half (vec_id parity stands in for the snapshot boundary —
    * the comparison q115 runs on scalar features, lifted to vector
    * space, where re-embedding or upstream model drift shows up
    * first).
    *
    * Centroids are never materialized as doubles: per-dimension
    * coordinate sums are EXACT integers (1e4 fixed point — |x| < 1,
    * so 64 dims × corpus rows stays far under BIGINT), and the count
    * denominators cancel inside cosine, so the similarity is
    * computed from integers by one identical IEEE expression in both
    * engines — bit-equal without rounding, which a float centroid
    * accumulated in partition order can never be. Plan: one
    * posexplode (64× fan-out, scan-side), one (label, half, dim)
    * partial-agg shuffle — 2·64·labels cells — then label-cardinality
    * arithmetic. */
  def q147EmbeddingDrift(s: SparkSession, dir: String): DataFrame =
    embeddingDriftOf(Tables.embeddings(s, dir))

  /** The monitor on any (vec_id, embedding, label) frame — separated
    * so the spec can plant identical halves (cos exactly 1.0) and an
    * orthogonal drift (cos exactly 0.0). */
  private[ops] def embeddingDriftOf(emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val sums = emb
      .select($"label", ($"vec_id" % 2).as("half"),
        posexplode($"embedding").as(Seq("dim", "x")))
      .groupBy($"label", $"dim")
      .agg(
        sum(when($"half" === 0,
          expr("CAST(round(CAST(x AS DOUBLE) * 10000D) AS BIGINT)"))
          .otherwise(0L)).as("so"),
        sum(when($"half" === 1,
          expr("CAST(round(CAST(x AS DOUBLE) * 10000D) AS BIGINT)"))
          .otherwise(0L)).as("sn"))
    val counts = emb
      .groupBy($"label")
      .agg(sum(when($"vec_id" % 2 === 0, 1L).otherwise(0L)).as("n_old"),
        sum(when($"vec_id" % 2 === 1, 1L).otherwise(0L)).as("n_new"))
    sums
      .groupBy($"label")
      .agg(sum($"so" * $"sn").as("dot"),
        sum($"so" * $"so").as("no2"), sum($"sn" * $"sn").as("nn2"))
      .join(broadcast(counts), "label")
      .select($"label", $"n_old", $"n_new",
        (col("dot").cast("double") /
          (sqrt(col("no2").cast("double")) * sqrt(col("nn2").cast("double"))))
          .as("centroid_cos"))
      .orderBy($"label")
  }

  private val q147Oracle =
    """WITH pts AS (
      |  SELECT label, vec_id % 2 AS half, i AS dim,
      |    CAST(round(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT) AS xq
      |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
      |sums AS (
      |  SELECT label, dim,
      |    CAST(sum(CASE WHEN half = 0 THEN xq ELSE 0 END) AS BIGINT) AS so,
      |    CAST(sum(CASE WHEN half = 1 THEN xq ELSE 0 END) AS BIGINT) AS sn
      |  FROM pts GROUP BY 1, 2),
      |agg AS (
      |  SELECT label, CAST(sum(so * sn) AS BIGINT) AS dot,
      |    CAST(sum(so * so) AS BIGINT) AS no2,
      |    CAST(sum(sn * sn) AS BIGINT) AS nn2
      |  FROM sums GROUP BY 1),
      |cnt AS (
      |  SELECT label,
      |    CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
      |    CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_new
      |  FROM embeddings GROUP BY 1)
      |SELECT a.label, n_old, n_new,
      |  CAST(dot AS DOUBLE) / (sqrt(CAST(no2 AS DOUBLE)) * sqrt(CAST(nn2 AS DOUBLE)))
      |    AS centroid_cos
      |FROM agg a JOIN cnt c ON a.label = c.label
      |ORDER BY a.label""".stripMargin

  // ---------------------------------------------------------------- q148
  /** Retrieval-quality evaluation: recall@k and reciprocal rank of
    * the LSH index (q52) against exact brute force (q70), per query —
    * the metric harness an ANN deployment gates on. Runs BOTH
    * rankers (each already scale-shaped) and joins their k-row
    * outputs; everything downstream of the rankers is
    * queries×k-cardinality, i.e. free. Metrics are fixed-point ppm
    * over exact ranks (both rankers tie-break deterministically), so
    * the eval table is hash-stable — an eval that isn't reproducible
    * can't gate anything. The oracle composes both rankers' full
    * oracle SQL as CTEs: the measurement AND both measured systems
    * re-verify in one hash. */
  def q148RetrievalMetrics(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ex = q70KnnBruteForce(s, dir)
      .select($"query_id", $"neighbor_id", $"rank".as("ex_rank"))
    val ap = q52KnnLsh(s, dir)
      .select($"query_id", $"neighbor_id", $"rank".as("ap_rank"))
    ex.join(ap, Seq("query_id", "neighbor_id"), "left")
      .groupBy($"query_id")
      .agg(count(lit(1)).as("k"),
        sum(when($"ap_rank".isNotNull, 1L).otherwise(0L)).as("n_matched"),
        max(when($"ex_rank" === 1, $"ap_rank")).as("top1_ap_rank"))
      .select($"query_id", $"n_matched",
        expr("CAST((1000000 * n_matched) div k AS BIGINT)").as("recall_ppm"),
        expr("CAST(coalesce(1000000 div top1_ap_rank, 0) AS BIGINT)").as("rr_ppm"))
      .orderBy($"query_id")
  }

  private def q148Oracle =
    s"""WITH ex AS ($q70Oracle),
       |ap AS ($q52Oracle)
       |SELECT ex.query_id, CAST(sum(CASE WHEN ap.neighbor_id IS NOT NULL
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       |  (1000000 * CAST(sum(CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0
       |    END) AS BIGINT)) // CAST(count(*) AS BIGINT) AS recall_ppm,
       |  CAST(COALESCE(1000000 // max(CASE WHEN ex.rank = 1 THEN ap.rank END), 0)
       |    AS BIGINT) AS rr_ppm
       |FROM ex LEFT JOIN ap
       |  ON ex.query_id = ap.query_id AND ex.neighbor_id = ap.neighbor_id
       |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin

  // ---------------------------------------------------------------- q157
  /** Greedy k-center (farthest-point) diversity sampling — the
    * coreset selector a curation pipeline runs to pick a small,
    * maximally-spread set of examples (eval seeds, annotation
    * batches, few-shot pools) instead of a random sample that
    * over-draws from dense regions.
    *
    * Geometry runs over q97's int8 codes, not the float embeddings:
    * squared-L2 between code vectors is EXACT integer arithmetic
    * (d·127² ≈ 10⁶ per pair, far inside Long), so the greedy
    * selection — argmax of a running min-distance, ties to the
    * smaller vec_id — is bit-deterministic under any partitioning
    * and therefore hash-oracle-able, which float distances cannot
    * give (q104's scale-free trick, reused for a different metric).
    *
    * Control flow is the q71/q79 shape: [[kCenters]]−1 bounded
    * driver rounds, each broadcasting ONE new center row and folding
    * it into the per-point running min-distance (a narrow map — the
    * corpus never shuffles), then a TakeOrdered(1) argmax. Cost is
    * k corpus passes; at 100 TB you run the same plan on a q49-style
    * deterministic sample first and refine, exactly like q71's
    * sample-trained Lloyd rounds. The oracle unrolls the k rounds as
    * generated CTE stages (q122's device). The emitted
    * `d2_at_selection` is the point's min squared distance to all
    * EARLIER centers at the moment it was picked (−1 for the seed) —
    * nonincreasing down the ranks, which the spec pins along with a
    * planted duplicate-vs-distinct ordering. */
  val kCenters = 8

  def q157KcenterDiverse(s: SparkSession, dir: String): DataFrame =
    kcenterOf(s, Tables.embeddings(s, dir))

  private[ops] def kcenterOf(s: SparkSession, emb: DataFrame): DataFrame = {
    import s.implicits._
    import graft.expr.VectorExprs
    // Quantize ONCE and pin the working set: every round reads `cur`,
    // and without a checkpoint round r's plan would re-run the scan +
    // quantization + all r−1 previous center folds from scratch —
    // quadratic recompute that measured ~19 s at sf0.1 (2.4 s after).
    // The working set is (vec_id, codes, ii, mind) — embeddings never
    // re-enter after the first projection, and each round is one
    // linear pass + one 1-row broadcast.
    val z = emb
      .withColumn("scale", greatest(
        expr("array_max(transform(embedding, v -> abs(CAST(v AS DOUBLE))))"),
        lit(1e-30)))
      .select($"vec_id",
        expr("transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 127.0d / scale) AS INT))")
          .as("codes"))
      .select($"vec_id", $"codes")
      .withColumn("ii", VectorExprs.doti($"codes", $"codes"))
      .localCheckpoint(true)
    def center(id: Long) = broadcast(
      z.where($"vec_id" === id).select($"codes".as("cc"), $"ii".as("cii")))
    val seedId = z.agg(min($"vec_id")).head().getLong(0)
    var picked = Vector((1L, seedId, -1L))
    // picked points leave the candidate set each round: once every
    // remaining distance is 0 (exact duplicates), the min-id tie-break
    // would otherwise re-pick an old center forever
    var cur = z.where($"vec_id" =!= seedId).crossJoin(center(seedId))
      .select($"vec_id", $"codes", $"ii",
        ($"ii" + $"cii" - lit(2L) * VectorExprs.doti($"codes", $"cc"))
          .as("mind"))
      .localCheckpoint(true)
    for (r <- 2 to kCenters) {
      val nxt = cur.orderBy($"mind".desc, $"vec_id").limit(1)
        .select($"vec_id", $"mind").head()
      picked = picked :+ ((r.toLong, nxt.getLong(0), nxt.getLong(1)))
      if (r < kCenters) {
        val prev = cur
        cur = cur.where($"vec_id" =!= nxt.getLong(0))
          .crossJoin(center(nxt.getLong(0)))
          .select($"vec_id", $"codes", $"ii",
            least($"mind", $"ii" + $"cii" -
              lit(2L) * VectorExprs.doti($"codes", $"cc")).as("mind"))
          .localCheckpoint(true)
        prev.unpersist(blocking = false)
      }
    }
    cur.unpersist(blocking = false)
    z.unpersist(blocking = false)
    picked.toDF("rank", "vec_id", "d2_at_selection").orderBy($"rank")
  }

  private val q157Oracle = {
    val dot = (a: String, b: String) =>
      s"CAST(list_sum(list_transform(range(1, len($a.codes) + 1), " +
        s"i -> CAST($a.codes[i] AS BIGINT) * $b.codes[i])) AS BIGINT)"
    val stages = new StringBuilder
    stages ++=
      s"""z AS (
         |  SELECT vec_id,
         |    list_transform(embedding,
         |      v -> CAST(floor(CAST(v AS DOUBLE) * 127.0 /
         |             greatest(list_max(list_transform(embedding,
         |               u -> abs(CAST(u AS DOUBLE)))), 1e-30)) AS INTEGER)) AS codes
         |  FROM embeddings),
         |n AS (
         |  SELECT vec_id, codes,
         |    CAST(list_sum(list_transform(codes, c -> CAST(c AS BIGINT) * c))
         |      AS BIGINT) AS ii
         |  FROM z),
         |c1 AS (SELECT vec_id, codes, ii FROM n
         |       WHERE vec_id = (SELECT min(vec_id) FROM n)),
         |m1 AS (
         |  SELECT n.vec_id, n.codes, n.ii,
         |    n.ii + c.ii - 2 * ${dot("n", "c")} AS mind
         |  FROM n, c1 c WHERE n.vec_id <> c.vec_id)""".stripMargin
    for (r <- 2 until kCenters) {
      stages ++= s""",
         |c$r AS (SELECT vec_id, mind FROM m${r - 1}
         |        ORDER BY mind DESC, vec_id LIMIT 1),
         |m$r AS (
         |  SELECT p.vec_id, p.codes, p.ii,
         |    least(p.mind, p.ii + c.ii - 2 * ${dot("p", "c")}) AS mind
         |  FROM m${r - 1} p,
         |    (SELECT n.codes, n.ii FROM n JOIN c$r ON n.vec_id = c$r.vec_id) c
         |  WHERE p.vec_id <> (SELECT vec_id FROM c$r))
         |""".stripMargin.stripSuffix("\n")
    }
    stages ++= s""",
       |c$kCenters AS (SELECT vec_id, mind FROM m${kCenters - 1}
       |        ORDER BY mind DESC, vec_id LIMIT 1)""".stripMargin
    val selects = (s"SELECT CAST(1 AS BIGINT) AS rank, vec_id, " +
      s"CAST(-1 AS BIGINT) AS d2_at_selection FROM c1") +:
      (2 to kCenters).map(r =>
        s"SELECT CAST($r AS BIGINT), vec_id, mind FROM c$r")
    s"WITH ${stages.result()}\n${selects.mkString("\nUNION ALL ")}\nORDER BY rank"
  }

  // ---------------------------------------------------------------- q165
  /** Fixed-point grid for q165's squared-norm audit: elements floor
    * to 1/1024 steps (a power of two, so the double multiply is
    * exact), making every statistic an exact integer — the same
    * discipline as q97's codes and q71's Lloyd grid. */
  val auditGrid = 1024

  /** Embedding-hygiene audit: the QA gate an embedding pipeline runs
    * before indexing a new batch — per label: vector count, distinct
    * dimensionality count (anything ≠ 1 means mixed dims, which
    * poisons every dot product downstream), zero-vector count
    * (failed encoder outputs that cosine math divides by), and
    * min/max/mean squared norm on the [[auditGrid]] integer grid
    * (norm collapse or blow-up = drifting encoder). q147 watches
    * CENTROIDS move between snapshots; this audits the raw vectors'
    * integrity within one batch.
    *
    * One scan, one map-side-combining agg to label-cardinality rows;
    * the per-vector quantized fold is a projection. Nothing but
    * (label, counters) ever shuffles, at any corpus size. */
  def q165EmbeddingAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, dir)
      .select($"label", size($"embedding").as("dim"),
        expr(s"""aggregate(embedding, 0L, (a, v) ->
          |  a + CAST(floor(CAST(v AS DOUBLE) * ${auditGrid}D)
          |        * floor(CAST(v AS DOUBLE) * ${auditGrid}D) AS BIGINT))"""
          .stripMargin).as("sq"))
      .groupBy($"label")
      .agg(count(lit(1)).as("n_vecs"),
        countDistinct($"dim").as("n_dims"),
        sum(when($"sq" === 0L, 1L).otherwise(0L)).as("n_zero"),
        min($"sq").as("min_sq"), max($"sq").as("max_sq"),
        expr("sum(sq) div count(1)").as("mean_sq"))
      .orderBy($"label")
  }

  private val q165Oracle =
    s"""WITH q AS (
       |  SELECT vec_id, label, len(embedding) AS dim,
       |    CAST(list_aggregate(list_transform(embedding,
       |      v -> CAST(floor(CAST(v AS DOUBLE) * $auditGrid)
       |             * floor(CAST(v AS DOUBLE) * $auditGrid) AS BIGINT)),
       |      'sum') AS BIGINT) AS sq
       |  FROM embeddings)
       |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST(count(DISTINCT dim) AS BIGINT) AS n_dims,
       |  CAST(sum(CASE WHEN sq = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       |  min(sq) AS min_sq, max(sq) AS max_sq,
       |  CAST(sum(sq) // count(*) AS BIGINT) AS mean_sq
       |FROM q GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q172
  /** Fixed-point grid for q172's centroids (q147's 10⁴ element
    * quantization, then an exact floor-division mean — q71's Lloyd
    * discipline), so centroid coordinates are bounded integers and
    * every distance is an exact BIGINT at any corpus size. */
  val noiseGrid = 10000

  /** Label-noise audit (confident-learning-lite): per label, how many
    * vectors sit CLOSER to another label's centroid than to their
    * own — the standard first-pass screen for mislabeled training
    * examples before a human review queue. Each vector quantizes to
    * the [[noiseGrid]] integer grid; per-label centroids are exact
    * integer coordinate sums floor-divided by counts (bounded
    * magnitude ⇒ no overflow at any scale); the predicted label is
    * the argmin of exact integer squared distances with a
    * smallest-label tie-break, so the verdict is hash-stable.
    *
    * Scale shape: centroids are one (label × dim) aggregate
    * (map-side combining; label-domain-bounded result) collected
    * into a LABEL-cardinality broadcast; the audit itself is a
    * zero-shuffle projection pass — corpus × |labels| distance
    * folds per row, embeddings never shuffle. On the synthetic
    * near-uniform fixture disagreement is high (~60% — labels
    * genuinely carry no geometry there, which the audit correctly
    * reports); the spec plants clustered labels where noise ≈ 0 and
    * one deliberately mislabeled vector is the only flag. */
  def q172LabelNoise(s: SparkSession, dir: String): DataFrame =
    labelNoiseOf(Tables.embeddings(s, dir))

  private[ops] def labelNoiseOf(emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val xq = emb.select($"vec_id", $"label",
      expr(s"transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * ${noiseGrid}D) AS BIGINT))")
        .as("q"))
    // label-cardinality centroid model, collected like q71's — the
    // audit then runs as ONE literal projection over the corpus scan
    // (argmin via array_min over per-centroid structs), not a
    // corpus × |labels| join+re-group; the only corpus shuffle left
    // is the centroid training aggregate itself
    val centRows = xq
      .select($"label".as("clabel"), posexplode($"q").as(Seq("dim", "x")))
      .groupBy($"clabel", $"dim")
      .agg(sum($"x").as("sx"), count(lit(1)).as("n"))
      .groupBy($"clabel")
      // integer-division centroids: Spark `div` and DuckDB `//` both
      // truncate toward zero (verified on negatives), so the quotient
      // is engine-identical even for negative coordinate sums
      .agg(expr("transform(array_sort(collect_list(struct(dim, sx div n AS c))), p -> p.c)")
        .as("c"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1)))
      .sortBy(_._1)
    val scores = array(centRows.map { case (cl, cv) =>
      struct(
        aggregate(
          zip_with($"q", typedlit(cv), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("d2"),
        lit(cl).as("cl"))
    }: _*)
    // struct min orders by (d2, cl): exact argmin, smallest-label ties
    xq.withColumn("pred", array_min(scores).getField("cl"))
      .groupBy($"label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when($"pred" =!= $"label", 1L).otherwise(0L)).as("n_misassigned"))
      .select($"label", $"n_vecs", $"n_misassigned",
        expr("(1000000 * n_misassigned) div n_vecs").as("mis_ppm"))
      .orderBy($"label")
  }

  private val q172Oracle =
    s"""WITH xq AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding,
       |      v -> CAST(round(CAST(v AS DOUBLE) * $noiseGrid) AS BIGINT)) AS q
       |  FROM embeddings),
       |pts AS (
       |  SELECT label, i AS dim, CAST(sum(q[i]) AS BIGINT) AS sq,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM xq, unnest(range(1, len(q) + 1)) AS u(i) GROUP BY 1, 2),
       |cent AS (
       |  SELECT label AS clabel,
       |    list(CAST(sq // n AS BIGINT) ORDER BY dim) AS c
       |  FROM pts GROUP BY 1),
       |d AS (
       |  SELECT x.vec_id, x.label, c.clabel,
       |    CAST(list_sum(list_transform(range(1, len(x.q) + 1),
       |      i -> (x.q[i] - c.c[i]) * (x.q[i] - c.c[i]))) AS BIGINT) AS d2
       |  FROM xq x, cent c),
       |best AS (
       |  SELECT vec_id, label, min({'d2': d2, 'cl': clabel}).cl AS pred
       |  FROM d GROUP BY 1, 2)
       |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST(sum(CASE WHEN pred <> label THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_misassigned,
       |  CAST((1000000 * sum(CASE WHEN pred <> label THEN 1 ELSE 0 END))
       |    // count(*) AS BIGINT) AS mis_ppm
       |FROM best GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q188
  /** Power-iteration rounds for q188. Convergence rate is the
    * eigengap ratio λ₂/λ₁ per round: the near-isotropic synthetic
    * fixture converges slowly (documented; the hash only needs
    * determinism), while real embedding corpora have dominant
    * directions and converge in a few rounds — the spec plants one
    * and proves cosine > 0.99 to the true eigenvector. */
  val powerRounds = 3

  /** Top principal component of the embedding corpus by power
    * iteration on the NORMALIZED integer Gram matrix — the
    * direction-of-maximum-variance primitive behind embedding
    * whitening, drift axes (q147 watches centroids; this watches
    * SPREAD), and all-but-the-top-component denoising.
    *
    * The corpus is touched EXACTLY ONCE: one distributed pass builds
    * G[d,e] = (Σᵢ qᵢ[d]·qᵢ[e]) div n on the q172 integer grid — a
    * dims² cell aggregate with map-side combine (the shuffle
    * carries ≤ 64² rows per partition, never vectors), and the
    * div-n normalization bounds every later product independent of
    * corpus size. The matrix has dims² = 4096 cells whatever the
    * corpus size (MLlib's `RowMatrix` splits its Gram work the same
    * way), so it is collected once and the rounds run on the driver
    * in exact `Long` arithmetic: per round gv = G·v over the cells
    * whose column has a component (a missing component drops its
    * cells, as the inner join of the SQL form does), then the vector
    * is re-quantized to a ±2¹⁰ grid by integer division by max|gv|
    * (Spark `div`, JVM `/` and DuckDB `//` all truncate toward zero,
    * so the engines agree on negative coordinates too). Overflow
    * and a zero max fail as ANSI arithmetic does; the oracle replays
    * all rounds as CTEs. The iterate's sign/scale is fixed by the
    * deterministic all-ones start and per-round max-normalization,
    * making the component hash-comparable — classical eigenvectors
    * are only defined up to sign. No vectors means no cells and an
    * empty result. */
  def q188PowerIteration(s: SparkSession, dir: String): DataFrame =
    powerIterationOf(Tables.embeddings(s, dir))

  /** The iteration on any (vec_id, embedding) frame — separated so
    * the spec can plant an anisotropic corpus with a known dominant
    * direction. Spark builds and collects the Gram cells; the
    * [[powerRounds]] rounds then run on the driver. */
  private[ops] def powerIterationOf(emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val xq = emb.select(
      expr(s"transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * ${noiseGrid}D) AS BIGINT))")
        .as("q"))
    val n = xq.agg(count(lit(1)).as("nn"))
    val gram = xq
      .select($"q", posexplode($"q").as(Seq("d0", "xd")))
      .select($"d0", $"xd", posexplode($"q").as(Seq("e0", "xe")))
      .groupBy(($"d0" + 1).as("d"), ($"e0" + 1).as("e"))
      .agg(sum($"xd" * $"xe").as("sde"))
      .crossJoin(broadcast(n))
      .select($"d", $"e", expr("sde div nn").as("gm"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
    var v: Map[Int, Option[Long]] = (1 to 64).map(_ -> Some(1024L)).toMap
    (1 to powerRounds).foreach { _ =>
      // sum() semantics: null products are skipped, an all-null group is null
      val gv = gram.filter(c => v.contains(c._2)).groupBy(_._1).map { case (d, cells) =>
        d -> cells.flatMap { case (_, e, gm) => gm.zip(v(e)).map { case (g, x) =>
          Math.multiplyExact(g, x) } }.reduceOption(Math.addExact(_: Long, _: Long))
      }
      val m = gv.values.flatten.map(Math.absExact(_: Long)).maxOption
      v = gv.map { case (d, g) => d -> g.zip(m).map { case (x, mm) =>
        if (mm == 0L) throw new ArithmeticException("[DIVIDE_BY_ZERO] Division by zero.")
        Math.multiplyExact(x, 1024L) / mm
      } }
    }
    // ≤ dims rows: one partition sorts without a range-partition exchange
    v.toSeq.map { case (d, c) => (d.toLong, c) }.toDF("dim", "component")
      .coalesce(1).orderBy($"dim")
  }

  private val q188Oracle = {
    val rounds = (1 to powerRounds).map { i =>
      s"""gv$i AS (
         |  SELECT g.d, CAST(sum(g.gm * p.v) AS BIGINT) AS gv
         |  FROM gn g JOIN v${i - 1} p ON g.e = p.d GROUP BY 1),
         |m$i AS (SELECT max(abs(gv)) AS m FROM gv$i),
         |v$i AS (SELECT d, (gv * 1024) // m AS v FROM gv$i, m$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH xq AS (
       |  SELECT list_transform(embedding,
       |    v -> CAST(round(CAST(v AS DOUBLE) * $noiseGrid) AS BIGINT)) AS q
       |  FROM embeddings),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM xq),
       |g AS (
       |  SELECT d.i AS d, e.i AS e, CAST(sum(q[d.i] * q[e.i]) AS BIGINT) AS sde
       |  FROM xq, unnest(range(1, len(q) + 1)) AS d(i),
       |       unnest(range(1, len(q) + 1)) AS e(i)
       |  GROUP BY 1, 2),
       |gn AS (SELECT d, e, sde // nn AS gm FROM g, n),
       |v0 AS (SELECT r.range + 1 AS d, CAST(1024 AS BIGINT) AS v FROM range(64) r),
       |$rounds
       |SELECT d AS dim, v AS component FROM v$powerRounds ORDER BY dim""".stripMargin
  }

  // ---------------------------------------------------------------- q191
  /** IVF index-health report: per cell, the assigned-vector count,
    * corpus share in ppm, and a balance flag (`empty` / 2×-deviation
    * `under`/`over` vs the ideal total∕C by exact integer
    * cross-multiplication — q176's device). Serving cost under
    * nprobe-of-C probing is only predictable when cells are
    * balanced: a hot cell makes every probe that touches it scan a
    * disproportionate corpus slice, an empty cell wastes a probe —
    * this is the report that decides "retrain the centroids" (q71's
    * Lloyd rounds) before latency regresses. Same zero-Exchange
    * literal-projection assignment as q71 (PlanSpec-pinned there),
    * then one cell-cardinality aggregate; the oracle reuses q71's
    * model-replay SQL verbatim ([[ivfCellsCte]]), so the report is
    * hash-proven consistent with the index the ranking oracle
    * checks. */
  def q191IvfBalance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = corpus(s, dir)
    val cents = centroidModel(s, dir)
    val assigned = c.withColumn("cell",
      -array_max(centroidScores(cents, $"embedding", $"nrm")).getField("negcid"))
      .groupBy($"cell").agg(count(lit(1)).as("n"))
    val spine = cents.map(_._1).toSeq.toDF("cell")
    val total = assigned.agg(sum($"n").cast("long").as("total"))
    spine.join(assigned, Seq("cell"), "left")
      .withColumn("n_vecs", coalesce($"n", lit(0L)))
      .crossJoin(broadcast(total))
      .select($"cell", $"n_vecs",
        expr("(1000000 * n_vecs) div total").as("share_ppm"),
        when($"n_vecs" === 0L, "empty")
          .when(lit(2) * $"n_vecs" * numCells < $"total", "under")
          .when($"n_vecs" * numCells > lit(2) * $"total", "over")
          .otherwise("ok").as("flag"))
      .orderBy($"cell")
  }

  private lazy val q191Oracle =
    s"""WITH $ivfCellsCte,
       |bal AS (SELECT cell, CAST(count(*) AS BIGINT) AS n FROM cells GROUP BY 1),
       |sp AS (SELECT cid AS cell FROM c0),
       |f AS (
       |  SELECT sp.cell, COALESCE(n, 0) AS n_vecs
       |  FROM sp LEFT JOIN bal USING (cell)),
       |t AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS total FROM f)
       |SELECT f.cell, f.n_vecs,
       |  CAST((1000000 * f.n_vecs) // t.total AS BIGINT) AS share_ppm,
       |  CASE WHEN f.n_vecs = 0 THEN 'empty'
       |       WHEN 2 * f.n_vecs * $numCells < t.total THEN 'under'
       |       WHEN f.n_vecs * $numCells > 2 * t.total THEN 'over'
       |       ELSE 'ok' END AS flag
       |FROM f, t ORDER BY cell""".stripMargin

  // ---------------------------------------------------------------- q251
  /** Probe-set size for the leave-one-out classifier eval — FIXED,
    * not corpus-proportional, so eval cost stays one broadcast scan
    * (corpus × 100 distance folds) at any corpus size. */
  val nEvalProbes = 100

  /** Leave-one-out kNN classifier evaluation — the standard "is this
    * embedding space any good for this label" health check run before
    * committing to a labeling scheme: each probe vector is classified
    * by the majority label of its [[topK]] nearest OTHER vectors
    * (cosine, ties → lower vec_id; vote ties → smaller label), and
    * per-label accuracy is reported. Complements q172's centroid
    * screen: kNN voting sees local structure centroids smear away.
    *
    * Scale shape: q70's device — probes are a fixed-size broadcast,
    * the corpus is scanned once (never self-joined), and the only
    * shuffle is the probe-grain top-k window over corpus×probes
    * scored rows. The majority vote is the sign-flipped-struct
    * argmax (q243's tie idiom), mirrored in the oracle by an
    * (cnt DESC, label ASC) row_number. On the synthetic near-uniform
    * fixture accuracy sits near chance — the honest report, per
    * q172's geometry note; the spec plants clustered labels where
    * the eval must score 100% minus exactly the one mislabeled probe. */
  def q251KnnLooEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    knnLooEvalOf(Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding", $"label",
        VectorOps.norm($"embedding").as("nrm")))
  }

  /** The eval on any (vec_id, embedding, label, nrm) frame —
    * separated so the spec can plant clustered-label geometry. */
  private[ops] def knnLooEvalOf(c: DataFrame): DataFrame = {
    val s = c.sparkSession
    import s.implicits._
    val probes = c.where($"vec_id" < nEvalProbes)
      .select($"vec_id".as("probe_id"), $"embedding".as("pv"),
        $"nrm".as("pn"), $"label".as("actual"))
    val w = Window.partitionBy($"probe_id")
      .orderBy($"cosine".desc, $"vec_id".asc)
    c.join(broadcast(probes), $"vec_id" =!= $"probe_id")
      .select($"probe_id", $"actual", $"vec_id", $"label".as("nbr_label"),
        (VectorOps.dot($"embedding", $"pv") / ($"nrm" * $"pn")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where($"rank" <= topK)
      .groupBy($"probe_id", $"actual", $"nbr_label")
      .agg(count(lit(1)).as("cnt"))
      .groupBy($"probe_id", $"actual")
      .agg(max(struct($"cnt", (-$"nbr_label").as("neg"))).as("mx"))
      .select($"probe_id", $"actual", (-$"mx.neg").as("predicted"))
      .groupBy($"actual".as("label"))
      .agg(count(lit(1)).as("n_probes"),
        sum(when($"predicted" === $"actual", 1L).otherwise(0L))
          .as("n_correct"))
      .withColumn("acc_ppm", expr("(1000000 * n_correct) div n_probes"))
      .orderBy($"label")
  }

  private val q251Oracle =
    s"""WITH c AS (
       |  SELECT vec_id, embedding, label,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |p AS (SELECT vec_id AS probe_id, embedding AS pv, nrm AS pn,
       |        label AS actual
       |      FROM c WHERE vec_id < $nEvalProbes),
       |scored AS (
       |  SELECT probe_id, actual, vec_id, label AS nbr_label,
       |    ${dotSql("embedding", "pv")} / (nrm * pn) AS cosine
       |  FROM c JOIN p ON vec_id <> probe_id),
       |top AS (
       |  SELECT * FROM (
       |    SELECT probe_id, actual, nbr_label,
       |      row_number() OVER (PARTITION BY probe_id
       |                         ORDER BY cosine DESC, vec_id ASC) AS rank
       |    FROM scored) WHERE rank <= $topK),
       |votes AS (
       |  SELECT probe_id, actual, nbr_label, count(*) AS cnt
       |  FROM top GROUP BY 1, 2, 3),
       |pred AS (
       |  SELECT probe_id, actual, nbr_label AS predicted FROM (
       |    SELECT *, row_number() OVER (PARTITION BY probe_id
       |      ORDER BY cnt DESC, nbr_label ASC) AS vr
       |    FROM votes) WHERE vr = 1)
       |SELECT actual AS label, CAST(count(*) AS BIGINT) AS n_probes,
       |  CAST(count(*) FILTER (predicted = actual) AS BIGINT) AS n_correct,
       |  CAST((1000000 * count(*) FILTER (predicted = actual)) // count(*)
       |    AS BIGINT) AS acc_ppm
       |FROM pred GROUP BY 1 ORDER BY label""".stripMargin

  // ---------------------------------------------------------------- q305
  /** Per-rank DCG discounts 10⁶/log₂(i+1), i = 1..10, as FLOOR'd
    * literal micro constants interpolated into BOTH engines (q242's
    * constant-table device) — the one place a log leaves integer
    * arithmetic, frozen so it can't leave determinism. */
  val ndcgDiscMicro: Seq[Long] = Seq(1000000L, 630929L, 500000L,
    430676L, 386852L, 356207L, 333333L, 315464L, 301029L, 289064L)

  /** NDCG@10 of the exact kNN ranking (q70) read as a same-label
    * retriever — the POSITION-AWARE retrieval readout q148's
    * recall@k flattens: recall counts how many relevant ids landed
    * anywhere in the top-10; NDCG pays rank 1 ~3.5× rank 10, which
    * is how retrieval-augmented consumers (few-shot selection,
    * RAG context packing) actually experience the list. Binary
    * gain = neighbor shares the query's label; DCG = Σ rel·disc(rank)
    * over [[ndcgDiscMicro]]; the IDEAL normalizer fills ranks
    * 1..min(10, R) where R counts the query's label twins in the
    * WHOLE corpus (self excluded) — an ideal limited to the returned
    * list would flatter every ranker. A twinless query has no
    * defined ideal and reports the −1 sentinel. All integers, so the
    * eval is hash-stable (q148's argument: an eval that isn't
    * reproducible can't gate anything).
    *
    * Scale shape: both inputs are already scale-shaped (q70
    * broadcasts queries; label counts are a label-grain agg the
    * join broadcasts); everything past them is queries×k rows. */
  def q305NdcgAt10(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ndcgAt10Of(q70KnnBruteForce(s, dir),
      Tables.embeddings(s, dir).select($"vec_id", $"label"))
  }

  /** The metric on any ((query_id, neighbor_id, rank) ranking,
    * (vec_id, label) corpus) pair — separated so the spec can plant
    * rankings with hand-computed NDCG and a twinless query. */
  private[ops] def ndcgAt10Of(nn: DataFrame, lab: DataFrame): DataFrame = {
    val s = nn.sparkSession
    import s.implicits._
    val discCase = ndcgDiscMicro.zipWithIndex
      .map { case (d, i) => s"WHEN ${i + 1} THEN ${d}L" }.mkString(" ")
    val cum = ndcgDiscMicro.scanLeft(0L)(_ + _)
    val cumCase = cum.zipWithIndex
      .map { case (c, m) => s"WHEN $m THEN ${c}L" }.mkString(" ")
    val cnt = lab.groupBy($"label").agg(count(lit(1)).as("c"))
    nn.join(lab.select($"vec_id".as("query_id"), $"label".as("q_label")),
        "query_id")
      .join(lab.select($"vec_id".as("neighbor_id"), $"label".as("n_label")),
        "neighbor_id")
      .select($"query_id", $"rank", $"q_label",
        when($"q_label" === $"n_label", 1L).otherwise(0L).as("rel"))
      .groupBy($"query_id", $"q_label")
      .agg(sum($"rel").as("n_rel"),
        sum(expr(s"rel * CASE rank $discCase END")).as("dcg_micro"))
      .join(broadcast(cnt), $"q_label" === $"label")
      .withColumn("idcg_micro",
        expr(s"CASE least(10L, c - 1) $cumCase END"))
      .select($"query_id", $"n_rel", $"dcg_micro", $"idcg_micro",
        expr("CASE WHEN idcg_micro = 0 THEN -1 "
          + "ELSE (1000000 * dcg_micro) div idcg_micro END").as("ndcg_ppm"))
      .orderBy($"query_id")
  }

  private def q305Oracle = {
    val discCase = ndcgDiscMicro.zipWithIndex
      .map { case (d, i) => s"WHEN ${i + 1} THEN $d" }.mkString(" ")
    val cum = ndcgDiscMicro.scanLeft(0L)(_ + _)
    val cumCase = cum.zipWithIndex
      .map { case (c, m) => s"WHEN $m THEN $c" }.mkString(" ")
    s"""WITH nn AS ($q70Oracle),
       |lab AS (SELECT vec_id, label FROM embeddings),
       |cnt AS (SELECT label, CAST(count(*) AS BIGINT) AS c
       |        FROM lab GROUP BY 1),
       |j AS (
       |  SELECT nn.query_id, nn.rank, ql.label AS q_label,
       |    CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END AS rel
       |  FROM nn JOIN lab ql ON nn.query_id = ql.vec_id
       |          JOIN lab nl ON nn.neighbor_id = nl.vec_id),
       |per AS (
       |  SELECT query_id, q_label, CAST(sum(rel) AS BIGINT) AS n_rel,
       |    CAST(sum(rel * CASE rank $discCase END) AS BIGINT) AS dcg_micro
       |  FROM j GROUP BY 1, 2),
       |idc AS (
       |  SELECT p.query_id, p.n_rel, p.dcg_micro,
       |    CAST(CASE least(10, c.c - 1) $cumCase END AS BIGINT)
       |      AS idcg_micro
       |  FROM per p JOIN cnt c ON p.q_label = c.label)
       |SELECT query_id, n_rel, dcg_micro, idcg_micro,
       |  CAST(CASE WHEN idcg_micro = 0 THEN -1
       |    ELSE (1000000 * dcg_micro) // idcg_micro END AS BIGINT)
       |    AS ndcg_ppm
       |FROM idc ORDER BY query_id""".stripMargin
  }

  // ---------------------------------------------------------------- q312
  /** MRR@10 + hit-rate@{1,5,10} of the exact kNN ranking — the
    * FIRST-HIT readout completing the retrieval-eval family: q148's
    * recall counts relevant ids anywhere in the list, q304's AP
    * averages precision over every hit, q305's NDCG discounts by
    * position — MRR answers the single-answer consumer's question
    * ("how deep until the first usable neighbor?"), which is the
    * metric for dedup-canonical lookup and single-shot retrieval.
    * Binary relevance = shares the query's label (q305's
    * convention). Integer-exact: rr_ppm = 10⁶ div first_rel_rank,
    * 0 when no hit lands in the top-10, and the −1 sentinel when
    * the query has NO label twin in the corpus (an undefined metric
    * reported as undefined, not as a zero that drags the mean —
    * q305's posture). The sentinel is CONSISTENT across columns:
    * twinless queries report −1 for hit@k too, so the mean of each
    * hit column over rows with n_twins > 0 IS the hit rate — no
    * column silently counts undefined queries as misses.
    *
    * Scale shape: inherits q70's (queries broadcast, corpus never
    * exchanged); label counts are a label-grain agg broadcast back;
    * everything past the inputs is queries×k rows. */
  def q312MrrAt10(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mrrAt10Of(q70KnnBruteForce(s, dir),
      Tables.embeddings(s, dir).select($"vec_id", $"label"))
  }

  /** The metric on any ((query_id, neighbor_id, rank) ranking,
    * (vec_id, label) corpus) pair — separated so the spec can plant
    * rankings with known first-hit positions, a no-hit query, and a
    * twinless query. */
  private[ops] def mrrAt10Of(nn: DataFrame, lab: DataFrame): DataFrame = {
    val s = nn.sparkSession
    import s.implicits._
    val cnt = lab.groupBy($"label").agg(count(lit(1)).as("c"))
    nn.join(lab.select($"vec_id".as("query_id"), $"label".as("q_label")),
        "query_id")
      .join(lab.select($"vec_id".as("neighbor_id"), $"label".as("n_label")),
        "neighbor_id")
      .select($"query_id", $"rank", $"q_label",
        when($"q_label" === $"n_label", 1L).otherwise(0L).as("rel"))
      .groupBy($"query_id", $"q_label")
      .agg(min(when($"rel" === 1L, $"rank")).as("fr_raw"),
        max(when($"rel" === 1L && $"rank" <= 1, 1L).otherwise(0L)).as("hit_1"),
        max(when($"rel" === 1L && $"rank" <= 5, 1L).otherwise(0L)).as("hit_5"),
        max(when($"rel" === 1L && $"rank" <= 10, 1L).otherwise(0L)).as("hit_10"))
      .join(broadcast(cnt), $"q_label" === $"label")
      .select($"query_id", ($"c" - 1L).as("n_twins"),
        coalesce($"fr_raw".cast("long"), lit(0L)).as("first_rel_rank"),
        expr("""CASE WHEN c - 1 = 0 THEN -1
          |  WHEN fr_raw IS NULL THEN 0
          |  ELSE 1000000 div CAST(fr_raw AS BIGINT) END""".stripMargin)
          .as("rr_ppm"),
        expr("CASE WHEN c - 1 = 0 THEN -1 ELSE hit_1 END").as("hit_1"),
        expr("CASE WHEN c - 1 = 0 THEN -1 ELSE hit_5 END").as("hit_5"),
        expr("CASE WHEN c - 1 = 0 THEN -1 ELSE hit_10 END").as("hit_10"))
      .orderBy($"query_id")
  }

  private def q312Oracle =
    s"""WITH nn AS ($q70Oracle),
       |lab AS (SELECT vec_id, label FROM embeddings),
       |cnt AS (SELECT label, CAST(count(*) AS BIGINT) AS c
       |        FROM lab GROUP BY 1),
       |per AS (
       |  SELECT nn.query_id, ql.label AS q_label,
       |    min(CASE WHEN nl.label = ql.label THEN nn.rank END) AS fr_raw,
       |    CAST(max(CASE WHEN nl.label = ql.label AND nn.rank <= 1
       |      THEN 1 ELSE 0 END) AS BIGINT) AS hit_1,
       |    CAST(max(CASE WHEN nl.label = ql.label AND nn.rank <= 5
       |      THEN 1 ELSE 0 END) AS BIGINT) AS hit_5,
       |    CAST(max(CASE WHEN nl.label = ql.label AND nn.rank <= 10
       |      THEN 1 ELSE 0 END) AS BIGINT) AS hit_10
       |  FROM nn JOIN lab ql ON nn.query_id = ql.vec_id
       |          JOIN lab nl ON nn.neighbor_id = nl.vec_id
       |  GROUP BY 1, 2)
       |SELECT p.query_id, c.c - 1 AS n_twins,
       |  CAST(COALESCE(fr_raw, 0) AS BIGINT) AS first_rel_rank,
       |  CAST(CASE WHEN c.c - 1 = 0 THEN -1
       |    WHEN fr_raw IS NULL THEN 0
       |    ELSE 1000000 // CAST(fr_raw AS BIGINT) END AS BIGINT) AS rr_ppm,
       |  CASE WHEN c.c - 1 = 0 THEN -1 ELSE hit_1 END AS hit_1,
       |  CASE WHEN c.c - 1 = 0 THEN -1 ELSE hit_5 END AS hit_5,
       |  CASE WHEN c.c - 1 = 0 THEN -1 ELSE hit_10 END AS hit_10
       |FROM per p JOIN cnt c ON p.q_label = c.label
       |ORDER BY p.query_id""".stripMargin

  // ---------------------------------------------------------------- q322
  /** PQ geometry: 64 dims split into [[pqSubspaces]] blocks of
    * [[pqSubDim]]; [[pqCodes]] codewords per block ⇒ a vector
    * compresses to 16 six-bit codes = 12 bytes, a 21× cut from the
    * 256-byte float payload — the memory arithmetic that decides
    * whether a 100-TB corpus's index fits a cluster's RAM at all.
    * Geometry chosen by a MEASURED sweep of recall@10 vs q70 on the
    * fixture corpus (uniform synthetic data is PQ-hostile — cosine
    * gaps are the size of quantization noise — so this is the
    * honest floor, not the clustered-corpus ceiling):
    * {{{
    *   M= 8 d=8 K=16 (4B):  sf0.01 0.08  sf0.1 0.22
    *   M=16 d=4 K=16 (8B):  sf0.01 0.28  sf0.1 0.20
    *   M=16 d=4 K=32 (10B): sf0.01 0.32  sf0.1 0.34
    *   M=16 d=4 K=64 (12B): sf0.01 0.46  sf0.1 0.34  <- chosen
    * }}}
    * (normalizing before gridding measured as a no-op: the fixture
    * embeddings are already unit-norm, so grid-L2 is
    * cosine-monotone as-is). */
  val pqSubspaces = 16
  val pqSubDim = 4
  val pqCodes = 64

  /** Product-quantization ADC search (Jégou, Douze & Schmid, TPAMI
    * 2011) — the COMPRESSION member of the ANN family: q71 prunes
    * which vectors to score (IVF), q104 shrinks scalars (int8);
    * PQ replaces each vector by per-subspace codeword ids so the
    * index is 4 bytes/vector, and queries rank candidates by
    * Asymmetric Distance Computation — the query stays unquantized
    * (on the integer grid), distances are sums of per-subspace
    * table lookups. Codebooks here are the K strided seed rows'
    * subvectors on the [[quantScale]] grid (q71's seed device;
    * Lloyd refinement would reuse q71's sampled fixed-point rounds
    * verbatim and is deliberately not duplicated — seeds keep the
    * oracle one CTE chain, and the spec prices the recall this
    * choice buys on THIS corpus rather than assuming it).
    * Everything is exact BIGINT (grid diffs² ×64 terms ≈ 10¹⁴), so
    * the whole model — seeds, encode argmin with ties to the
    * smaller code, tables, ranking — replays bit-for-bit in DuckDB,
    * which rebuilds it RELATIONALLY (explode × codebook join ×
    * argmin) while Spark encodes via a literal projection:
    * different algorithm, identical result, q136's oracle posture.
    *
    * Scale shape: encode is a pure literal-codebook projection over
    * the corpus scan — zero Exchange, embeddings never shuffle
    * (PlanSpec pins the probe); the ADC join broadcasts the query
    * frame and moves only (vec_id, 8 codes) per corpus row — the
    * 64×-smaller payload IS the shuffle win. */
  def q322PqAdc(s: SparkSession, dir: String): DataFrame =
    pqAdcOf(Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")))

  /** The search on any (vec_id, embedding) frame — separated so the
    * spec can plant an exact duplicate of a query (must take rank 1
    * with the minimal-possible ADC) and a seed-equal query (ADC 0
    * against its duplicate). */
  private[ops] def pqAdcOf(emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val cb = pqCodebookOf(emb)
    val gridded = emb
      .select($"vec_id", $"embedding", expr(
        s"transform(embedding, x -> CAST(floor(x * $quantScale.0D) AS BIGINT))")
        .as("qq"))
    val encoded = gridded.select($"vec_id",
      pqEncodeUdf(cb)($"embedding").as("codes"))
    val q = gridded.where($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"qq".as("qv"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"adc_dist".asc, $"vec_id".asc)
    encoded.join(broadcast(q), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        pqAdcUdf(cb)($"qv", $"codes").as("adc_dist"))
      .withColumn("rank", row_number().over(w))
      .where($"rank" <= topK)
      .select($"query_id", $"vec_id".as("neighbor_id"), $"rank", $"adc_dist")
      .orderBy($"query_id", $"rank")
  }

  /** [subspace][code][dim] codewords on the integer grid — the K
    * strided seed rows, collected once (bounded model
    * materialization, q71's centroidModel posture). */
  private def pqCodebookOf(emb: DataFrame): Array[Array[Array[Long]]] = {
    val s = emb.sparkSession
    import s.implicits._
    val stride = math.max(1L, emb.count() / pqCodes)
    val seeds = emb
      .where($"vec_id" % stride === 0 && $"vec_id" < stride * pqCodes)
      .orderBy($"vec_id")
      .select($"embedding").collect()
      .map(_.getSeq[Float](0))
    // effective K clamps to the seed rows a tiny corpus can supply
    // (the oracle's relational derivation clamps identically)
    Array.tabulate(pqSubspaces) { j =>
      Array.tabulate(math.min(pqCodes, seeds.length)) { k =>
        Array.tabulate(pqSubDim) { d =>
          math.floor(seeds(k)(j * pqSubDim + d).toDouble * quantScale).toLong
        }
      }
    }
  }

  /** The encode projection alone, for PlanSpec's zero-Exchange pin
    * (q71's ivfAssignmentPlan device). */
  /** Asymmetric distance as a primitive-loop UDF (shared by q322
    * flat and q328 IVF-pruned): the declarative form — nested
    * aggregate lambdas over a 3-level literal codebook — measured
    * ~25 s for 2.5k candidate pairs at sf0.1 (interpreted HOF
    * overhead plus per-access traversal of the 4096-element nested
    * literal); the loop is microseconds per pair. Same mirrored
    * arithmetic, same DuckDB relational replay. */
  private def pqAdcUdf(cb: Array[Array[Array[Long]]])
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (qv: Seq[Long], codes: Seq[Int]) =>
      var acc = 0L
      var j = 0
      while (j < pqSubspaces) {
        val cw = cb(j)(codes(j))
        var d = 0
        while (d < pqSubDim) {
          val diff = qv(j * pqSubDim + d) - cw(d)
          acc += diff * diff
          d += 1
        }
        j += 1
      }
      acc
    }

  /** Per-row PQ encode as a primitive-loop Scala UDF. Measured
    * alternatives at sf0.1 (500 rows): the compact HOF form costs
    * ~10k interpreted lambda invocations per row (16 subspaces × 64
    * codewords × inner aggregate) ≈ 20 s; the fully unrolled
    * per-codeword expression costs 108 s of pure plan compilation.
    * The UDF is ~4 ms, deterministic (floor + integer compare, ties
    * to the smaller code exactly like the array_min struct order),
    * and the DuckDB oracle replays the identical model relationally
    * — the documented exception to the functions-over-UDFs rule,
    * carried by measurements. */
  private def pqEncodeUdf(cb: Array[Array[Array[Long]]])
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (emb: Seq[Float]) =>
      val out = new Array[Int](pqSubspaces)
      var j = 0
      while (j < pqSubspaces) {
        val cwj = cb(j)
        var best = 0
        var bestD = Long.MaxValue
        var k = 0
        while (k < cwj.length) {
          var dsum = 0L
          var d = 0
          while (d < pqSubDim) {
            val q = math.floor(
              emb(j * pqSubDim + d).toDouble * quantScale).toLong
            val diff = q - cwj(k)(d)
            dsum += diff * diff
            d += 1
          }
          if (dsum < bestD) { bestD = dsum; best = k }
          k += 1
        }
        out(j) = best
        j += 1
      }
      out
    }

  private[graft] def pqEncodePlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cb = pqCodebookOf(Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding")))
    Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding")
      .select($"vec_id", pqEncodeUdf(cb)($"embedding").as("codes"))
  }

  private val q322Oracle =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |st AS (SELECT greatest(1, count(*) // $pqCodes) AS stride FROM e),
       |seeds AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS k, embedding
       |  FROM e, st WHERE vec_id % stride = 0 AND vec_id < stride * $pqCodes),
       |cb AS (
       |  SELECT s.k, j.j, d.d,
       |    CAST(floor(CAST(s.embedding[j.j * $pqSubDim + d.d + 1] AS DOUBLE)
       |      * $quantScale.0) AS BIGINT) AS c
       |  FROM seeds s,
       |    (SELECT unnest(range(0, $pqSubspaces)) AS j) j,
       |    (SELECT unnest(range(0, $pqSubDim)) AS d) d),
       |eq AS (
       |  SELECT vec_id, i - 1 AS idx,
       |    CAST(floor(CAST(embedding[i] AS DOUBLE) * $quantScale.0)
       |      AS BIGINT) AS q
       |  FROM (SELECT vec_id, embedding,
       |          unnest(range(1, len(embedding) + 1)) AS i FROM e)),
       |dist0 AS (
       |  SELECT eq.vec_id, cb.j, cb.k,
       |    CAST(sum((eq.q - cb.c) * (eq.q - cb.c)) AS BIGINT) AS dist
       |  FROM eq JOIN cb ON eq.idx = cb.j * $pqSubDim + cb.d
       |  GROUP BY 1, 2, 3),
       |enc AS (
       |  SELECT vec_id, j, k AS code FROM (
       |    SELECT vec_id, j, k, row_number() OVER (
       |      PARTITION BY vec_id, j ORDER BY dist ASC, k ASC) AS rn
       |    FROM dist0) WHERE rn = 1),
       |qt AS (
       |  SELECT vec_id AS query_id, j, k, dist FROM dist0
       |  WHERE vec_id < $nQueries),
       |adc AS (
       |  SELECT t.query_id, c.vec_id,
       |    CAST(sum(t.dist) AS BIGINT) AS adc_dist
       |  FROM enc c JOIN qt t ON t.j = c.j AND t.k = c.code
       |  WHERE c.vec_id <> t.query_id
       |  GROUP BY 1, 2)
       |SELECT query_id, vec_id AS neighbor_id, rank, adc_dist FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY adc_dist ASC, vec_id ASC) AS rank
       |  FROM adc)
       |WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------- q326
  /** Grid for the PCA pass: coarser than [[quantScale]] because the
    * covariance entries and the matrix-vector products must stay
    * inside BIGINT through eight power-iteration rounds — 2¹⁰ on
    * values ±0.6 keeps every intermediate ≤ ~6·10¹⁵ INDEPENDENT of
    * corpus size (the covariance is mean-divided at cell grain), at
    * ~10-bit precision, plenty for a variance-share diagnostic. */
  val pcaGrid = 1024L
  val pcaRounds = 8

  /** Top principal component + anisotropy share of the embedding
    * corpus — the "is this embedding space degenerate?" diagnostic
    * (contextual embedding spaces are notoriously anisotropic:
    * Ethayarajh 2019; a top component carrying most of the variance
    * means cosine similarities are dominated by one direction and
    * downstream kNN/dedup thresholds mislead). q165 audits norms and
    * dims; this reads the SHAPE: exact-integer covariance on the
    * [[pcaGrid]] grid (centered by the floored mean vector,
    * cell-grain mean division keeps magnitudes corpus-independent),
    * [[pcaRounds]] power-iteration rounds on the 64×64 matrix with
    * per-round max-|component| renormalization to the grid — every
    * operation a truncating integer op both engines replay
    * bit-for-bit — then the Rayleigh quotient λ, trace, explained
    * share in ppm, and the dominant dimension.
    *
    * Scale shape: one pass to the mean vector (64 sums), one
    * covariance pass whose per-row fan-out is the fixed 64×64 cell
    * grid (map-side combined — the shuffle carries 4096 rows per
    * partition regardless of corpus size), and a 64×64
    * control-plane iteration on the collected matrix (bounded model
    * materialization, q71's centroidModel posture). */
  def q326PcaAnisotropy(s: SparkSession, dir: String): DataFrame =
    pcaAnisotropyOf(Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding")))

  /** The diagnostic on any (vec_id, embedding) frame — separated so
    * the spec can plant a rank-1 corpus (explained = 10⁶ exactly)
    * and an isotropic pair of axes. */
  private[ops] def pcaAnisotropyOf(emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val gridded = emb.select($"vec_id", expr(
      s"transform(embedding, x -> CAST(floor(x * $pcaGrid.0D) AS BIGINT))")
      .as("q"))
    val meanRows = gridded
      .select(posexplode($"q").as(Seq("d", "v")))
      .groupBy($"d").agg(sum($"v").as("sv"), count(lit(1)).as("n"))
      .collect()
    val n = if (meanRows.isEmpty) 0L else meanRows(0).getLong(2)
    val mean = meanRows.map(r => r.getInt(0) -> r.getLong(1) / n).toMap
    val dim = mean.size
    val meanLit = (0 until dim).map(mean(_))
    // Covariance via per-partition Gramian accumulation (the
    // RowMatrix.computeGramianMatrix shape): each partition folds its
    // rows into ONE 2080-cell upper-triangle accumulator of exact
    // BIGINT products, and only those fixed-size accumulators move.
    // This is the genuine per-partition-imperative case the RDD
    // carve-out exists for: the declarative alternatives measured
    // 26-88 s on 500 rows (explode of 2080 struct cells per row pays
    // interpreted-HOF overhead per cell; routing through a
    // precomputed grid array additionally re-floors the whole vector
    // per element_at after projection collapse). This fold is ~4 ms.
    val nCells = dim * (dim + 1) / 2
    val meanArr = meanLit.toArray
    val gridC = pcaGrid
    val cellSums = emb.select($"embedding").rdd.mapPartitions { it =>
      val acc = new Array[Long](nCells)
      val c = new Array[Long](dim)
      it.foreach { row =>
        val v = row.getSeq[Float](0)
        var d = 0
        while (d < dim) {
          c(d) = math.floor(v(d).toDouble * gridC).toLong - meanArr(d)
          d += 1
        }
        var i = 0
        var idx = 0
        while (i < dim) {
          var j = i
          while (j < dim) {
            acc(idx) += c(i) * c(j)
            idx += 1; j += 1
          }
          i += 1
        }
      }
      Iterator.single(acc)
    }.reduce { (a, b) =>
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    val cov = Array.ofDim[Long](dim, dim)
    var ci = 0
    var cidx = 0
    while (ci < dim) {
      var cj = ci
      while (cj < dim) {
        val v = cellSums(cidx) / n  // truncating, mirrors div and //
        cov(ci)(cj) = v; cov(cj)(ci) = v
        cidx += 1; cj += 1
      }
      ci += 1
    }
    // integer power iteration: truncating division only (/ in Scala
    // == div in Spark == // in DuckDB on these magnitudes)
    var v = Array.fill(dim)(pcaGrid)
    for (_ <- 1 to pcaRounds) {
      val w = Array.tabulate(dim)(i =>
        (0 until dim).map(j => cov(i)(j) * v(j)).sum)
      val mx = w.map(math.abs).max
      v = if (mx == 0L) v else w.map(x => x * pcaGrid / mx)
    }
    val w9 = Array.tabulate(dim)(i =>
      (0 until dim).map(j => cov(i)(j) * v(j)).sum)
    val num = (0 until dim).map(i => v(i) * w9(i)).sum
    val den = (0 until dim).map(i => v(i) * v(i)).sum
    val lambda = if (den == 0L) 0L else num / den
    val trace = (0 until dim).map(i => cov(i)(i)).sum
    val explained = if (trace == 0L) -1L else 1000000L * lambda / trace
    val topDim = (0 until dim).maxBy(i => (math.abs(v(i)), -i)).toLong
    Seq((n, trace, lambda, explained, topDim))
      .toDF("n_vecs", "trace_cov", "lambda_top", "explained_ppm", "top_dim")
  }

  private val q326Oracle = {
    val rounds = (1 to pcaRounds).map { r =>
      s"""w$r AS MATERIALIZED (
         |  SELECT c.i, CAST(sum(c.cov * v.v) AS BIGINT) AS w
         |  FROM cov c JOIN v${r - 1} v ON c.j = v.i GROUP BY 1),
         |v$r AS MATERIALIZED (
         |  SELECT i, CASE WHEN (SELECT max(abs(w)) FROM w$r) = 0
         |    THEN (SELECT v FROM v${r - 1} p WHERE p.i = w$r.i)
         |    ELSE (w * $pcaGrid) // (SELECT max(abs(w)) FROM w$r)
         |  END AS v
         |  FROM w$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH g AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * $pcaGrid.0) AS BIGINT)) AS q
       |  FROM embeddings),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM g),
       |eq AS (
       |  SELECT vec_id, i - 1 AS d, q[i] AS v
       |  FROM (SELECT vec_id, q, unnest(range(1, len(q) + 1)) AS i FROM g)),
       |m AS (
       |  SELECT d, CAST(sum(v) AS BIGINT) // (SELECT n FROM n) AS m
       |  FROM eq GROUP BY 1),
       |ctr AS MATERIALIZED (
       |  SELECT eq.vec_id, eq.d, eq.v - m.m AS c
       |  FROM eq JOIN m USING (d)),
       |cov AS MATERIALIZED (
       |  SELECT a.d AS i, b.d AS j,
       |    CAST(sum(a.c * b.c) AS BIGINT) // (SELECT n FROM n) AS cov
       |  FROM ctr a JOIN ctr b ON a.vec_id = b.vec_id
       |  GROUP BY 1, 2),
       |v0 AS MATERIALIZED (
       |  SELECT DISTINCT i, CAST($pcaGrid AS BIGINT) AS v FROM cov),
       |$rounds,
       |wf AS (
       |  SELECT c.i, CAST(sum(c.cov * v.v) AS BIGINT) AS w
       |  FROM cov c JOIN v$pcaRounds v ON c.j = v.i GROUP BY 1),
       |ray AS (
       |  SELECT CAST(sum(v.v * wf.w) AS BIGINT) AS num,
       |    CAST(sum(v.v * v.v) AS BIGINT) AS den
       |  FROM v$pcaRounds v JOIN wf ON v.i = wf.i),
       |tr AS (SELECT CAST(sum(cov) AS BIGINT) AS trace
       |       FROM cov WHERE i = j),
       |top AS (
       |  SELECT i AS top_dim FROM v$pcaRounds
       |  ORDER BY abs(v) DESC, i ASC LIMIT 1)
       |SELECT (SELECT n FROM n) AS n_vecs,
       |  (SELECT trace FROM tr) AS trace_cov,
       |  CASE WHEN den = 0 THEN 0 ELSE num // den END AS lambda_top,
       |  CASE WHEN (SELECT trace FROM tr) = 0 THEN -1
       |    ELSE (1000000 * CASE WHEN den = 0 THEN 0 ELSE num // den END)
       |      // (SELECT trace FROM tr)
       |  END AS explained_ppm,
       |  CAST((SELECT top_dim FROM top) AS BIGINT) AS top_dim
       |FROM ray""".stripMargin
  }

  // ---------------------------------------------------------------- q328
  /** IVF-PQ combined index — the production ANN shape (FAISS's
    * IVFPQ; Jégou et al. 2011 §IV): q71's inverted file decides
    * WHICH vectors to score (probe nprobe of C cells), q322's
    * product quantizer decides HOW to score them (12-byte codes,
    * asymmetric distance) — composed here exactly as a serving
    * stack deploys them. ONE projection over ONE corpus scan builds
    * the whole compressed index row (cell id + PQ codes): both
    * models are literal expressions, so the index build is
    * zero-Exchange and the corpus's float payloads are read exactly
    * once and never shuffled — at 100 TB the moving index is
    * (vec_id, cell, 16 codes) ≈ 20 bytes/vector, and query cost is
    * (nprobe/C)·n table lookups instead of n·64 float mults.
    * Recall compounds the two stages' losses (probe miss × code
    * noise) — the spec measures it against q70 and q322, and the
    * oracle replays BOTH models end-to-end (IVF's sampled
    * fixed-point Lloyd chain + PQ's relational encode) in one CTE
    * stack. */
  def q328IvfPq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = corpus(s, dir)
    val cents = centroidModel(s, dir)
    val cb = pqCodebookOf(Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding")))
    // the index build: cell + codes in one pass, no Exchange
    val indexed = c
      .select($"vec_id",
        (-array_max(centroidScores(cents, $"embedding", $"nrm"))
          .getField("negcid")).as("cell"),
        pqEncodeUdf(cb)($"embedding").as("codes"))
    val q = c
      .where($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"), $"nrm".as("qn"),
        expr(s"transform(embedding, x -> CAST(floor(x * $quantScale.0D) AS BIGINT))")
          .as("qv"))
    val probes = q.select($"query_id", $"qv",
      explode(transform(
        slice(reverse(array_sort(centroidScores(cents, $"qe", $"qn"))), 1, nprobe),
        x => -x.getField("negcid"))).as("cell"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"adc_dist".asc, $"vec_id".asc)
    indexed.join(broadcast(probes), Seq("cell"))
      .where($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        pqAdcUdf(cb)($"qv", $"codes").as("adc_dist"))
      .withColumn("rank", row_number().over(w))
      .where($"rank" <= topK)
      .select($"query_id", $"vec_id".as("neighbor_id"), $"rank", $"adc_dist")
      .orderBy($"query_id", $"rank")
  }

  /** The one-pass index build (cell + codes) alone, for PlanSpec's
    * zero-Exchange pin. */
  private[graft] def ivfPqIndexPlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = corpus(s, dir)
    val cents = centroidModel(s, dir)
    val cb = pqCodebookOf(Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding")))
    c.select($"vec_id",
        (-array_max(centroidScores(cents, $"embedding", $"nrm"))
          .getField("negcid")).as("cell"),
        pqEncodeUdf(cb)($"embedding").as("codes"))
  }

  private lazy val q328Oracle =
    s"""WITH $ivfCellsCte,
       |pst AS (SELECT greatest(1, count(*) // $pqCodes) AS stride FROM e),
       |seeds AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS k, embedding
       |  FROM e, pst WHERE vec_id % stride = 0 AND vec_id < stride * $pqCodes),
       |cb AS (
       |  SELECT s.k, j.j, d.d,
       |    CAST(floor(CAST(s.embedding[j.j * $pqSubDim + d.d + 1] AS DOUBLE)
       |      * $quantScale.0) AS BIGINT) AS c
       |  FROM seeds s,
       |    (SELECT unnest(range(0, $pqSubspaces)) AS j) j,
       |    (SELECT unnest(range(0, $pqSubDim)) AS d) d),
       |peq AS (
       |  SELECT vec_id, i - 1 AS idx,
       |    CAST(floor(CAST(embedding[i] AS DOUBLE) * $quantScale.0)
       |      AS BIGINT) AS q
       |  FROM (SELECT vec_id, embedding,
       |          unnest(range(1, len(embedding) + 1)) AS i FROM e)),
       |dist0 AS MATERIALIZED (
       |  SELECT peq.vec_id, cb.j, cb.k,
       |    CAST(sum((peq.q - cb.c) * (peq.q - cb.c)) AS BIGINT) AS dist
       |  FROM peq JOIN cb ON peq.idx = cb.j * $pqSubDim + cb.d
       |  GROUP BY 1, 2, 3),
       |enc AS (
       |  SELECT vec_id, j, k AS code FROM (
       |    SELECT vec_id, j, k, row_number() OVER (
       |      PARTITION BY vec_id, j ORDER BY dist ASC, k ASC) AS rn
       |    FROM dist0) WHERE rn = 1),
       |qt AS (
       |  SELECT vec_id AS query_id, j, k, dist FROM dist0
       |  WHERE vec_id < $nQueries),
       |probes AS (
       |  SELECT vec_id AS query_id, cid AS cell FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY cos DESC, cid ASC) AS rn
       |    FROM sc WHERE vec_id < $nQueries)
       |  WHERE rn <= $nprobe),
       |cand AS (
       |  SELECT p.query_id, ce.vec_id
       |  FROM probes p JOIN cells ce ON p.cell = ce.cell
       |  WHERE ce.vec_id <> p.query_id),
       |adc AS (
       |  SELECT cand.query_id, cand.vec_id,
       |    CAST(sum(t.dist) AS BIGINT) AS adc_dist
       |  FROM cand
       |  JOIN enc c ON cand.vec_id = c.vec_id
       |  JOIN qt t ON t.query_id = cand.query_id
       |    AND t.j = c.j AND t.k = c.code
       |  GROUP BY 1, 2)
       |SELECT query_id, vec_id AS neighbor_id, rank, adc_dist FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY adc_dist ASC, vec_id ASC) AS rank
       |  FROM adc)
       |WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------- q342
  /** Drop threshold for semantic duplicates — q68's cosine cut, so
    * the all-pairs baseline and the bucketed path answer the same
    * question. */
  val semDedupTau = 0.4

  /** SemDeDup (Abbas et al., 2023) — semantic near-dedup at corpus
    * scale: q68 emits the exact cosine pair set ALL-PAIRS (the O(n²)
    * correctness baseline; fine for an eval set, impossible for a
    * corpus), this is the bucketed scale path the paper actually
    * runs — candidate pairs form only WITHIN IVF cells (q71's
    * sample-trained model: assignment is a zero-Exchange literal-
    * centroid projection), so pair volume drops from n²/2 to
    * Σ|cell|²/2 and the in-cell join shuffles on the cell key.
    * Pruning is the paper's keep-one rule made deterministic: a
    * vector is dropped iff some SAME-CELL neighbor above
    * [[semDedupTau]] has a smaller id. Cross-cell duplicate pairs
    * are invisible by construction — SemDeDup's own approximation,
    * disclosed here rather than hidden (the spec measures the q68
    * overlap at the fixture scale). Output: every vector, its cell,
    * and the kept flag; the oracle replays the ENTIRE IVF model
    * (seeds → sampled Lloyd → assignment) plus the in-cell pair join
    * in SQL, so the approximation itself is oracle-checked. */
  def q342SemanticDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = corpus(s, dir)
    val cents = centroidModel(s, dir)
    val cells = c.withColumn("cell",
      -array_max(centroidScores(cents, $"embedding", $"nrm")).getField("negcid"))
    semanticDedupOf(cells)
  }

  /** The in-cell prune on any (vec_id, embedding, nrm, cell) frame —
    * separated so the spec can plant twin vectors in one cell and an
    * identical twin across cells (the disclosed miss). */
  private[ops] def semanticDedupOf(cells: DataFrame): DataFrame = {
    val s = cells.sparkSession
    import s.implicits._
    import graft.functions.VectorOps
    // q68's device: norms once below the join; the streamed side
    // repartitions on the cell key so the in-cell pair join
    // parallelizes instead of inheriting the single-file scan
    val a = cells.repartition(col("cell")).select($"cell",
      $"vec_id".as("va"), $"embedding".as("ea"), $"nrm".as("na"))
    val b = cells.select($"cell",
      $"vec_id".as("vb"), $"embedding".as("eb"), $"nrm".as("nb"))
    val drops = a.join(b, "cell").where($"va" < $"vb")
      .where((VectorOps.dot($"ea", $"eb") / ($"na" * $"nb")) > semDedupTau)
      .select($"vb".as("vec_id")).distinct()
      .withColumn("dropped", lit(true))
    cells.join(drops, Seq("vec_id"), "left")
      .select($"vec_id", $"cell", $"dropped".isNull.as("kept"))
      .orderBy($"vec_id")
  }

  private lazy val q342Oracle =
    s"""WITH $ivfCellsCte,
       |m AS (
       |  SELECT e.vec_id, e.embedding, e.nrm, c.cell
       |  FROM e JOIN cells c ON e.vec_id = c.vec_id),
       |dr AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm)
       |    > $semDedupTau)
       |SELECT m.vec_id, m.cell, dr.vec_id IS NULL AS kept
       |FROM m LEFT JOIN dr ON m.vec_id = dr.vec_id
       |ORDER BY m.vec_id""".stripMargin

  // ---------------------------------------------------------------- q374
  /** Binary (sign-bit) quantization + Hamming-candidate + exact
    * rerank — the fourth compression axis of the ANN family (q71
    * prunes cells, q104 shrinks scalars to int8, q322 codes
    * subspaces; this collapses each float32 dim to ONE BIT, 32×):
    * the binary-quantization shape modern vector stores run as their
    * first-stage filter. Codes are two 32-bit halves packed into
    * BIGINTs (the sign bit of a 64-bit pack would be UB-adjacent in
    * SQL dialects; two halves keep every shift non-negative on both
    * engines); candidate generation ranks the corpus by exact
    * Hamming distance (two xor+popcounts — integer, deterministic,
    * hash-oracle-able), keeps [[bqCandidates]] per query, then
    * reranks ONLY those by true float cosine — the
    * cheap-filter/exact-verify split that makes 100-TB retrieval
    * affordable: 8 bytes/vector move through ranking, floats touch
    * ≤ [[bqCandidates]] rows per query. Queries broadcast; the
    * corpus never exchanges (q70's posture). `in_exact` joins q70's
    * exact top-10 so the recall loss of the 32× compression is read
    * directly off the result. */
  val bqCandidates = 32

  def q374BinaryQuantKnn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bitsLo = expr(
      """aggregate(transform(sequence(0, 31),
        |  i -> IF(element_at(embedding, i + 1) > 0D, shiftleft(1L, i), 0L)),
        |  0L, (a, x) -> a + x)""".stripMargin)
    val bitsHi = expr(
      """aggregate(transform(sequence(32, 63),
        |  i -> IF(element_at(embedding, i + 1) > 0D, shiftleft(1L, i - 32), 0L)),
        |  0L, (a, x) -> a + x)""".stripMargin)
    val h = corpus(s, dir)
      .select($"vec_id", $"embedding", $"nrm",
        bitsLo.as("h_lo"), bitsHi.as("h_hi"))
    val q = h.where($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"),
        $"nrm".as("qn"), $"h_lo".as("q_lo"), $"h_hi".as("q_hi"))
    val wCand = Window.partitionBy($"query_id")
      .orderBy($"hamming".asc, $"vec_id".asc)
    val wRank = Window.partitionBy($"query_id")
      .orderBy($"cosine".desc, $"neighbor_id".asc)
    val ex = q70KnnBruteForce(s, dir)
      .select($"query_id", $"neighbor_id", lit(1L).as("in_ex"))
    h.join(broadcast(q), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id", $"embedding", $"nrm", $"qv", $"qn",
        expr("CAST(bit_count(h_lo ^ q_lo) + bit_count(h_hi ^ q_hi) AS BIGINT)")
          .as("hamming"))
      .withColumn("crank", row_number().over(wCand))
      .where($"crank" <= bqCandidates)
      .select($"query_id", $"vec_id".as("neighbor_id"), $"hamming",
        (VectorOps.dot($"embedding", $"qv") / ($"nrm" * $"qn")).as("cosine"))
      .withColumn("rank", row_number().over(wRank))
      .where($"rank" <= topK)
      .join(ex, Seq("query_id", "neighbor_id"), "left")
      .select($"query_id", $"rank", $"neighbor_id", $"hamming", $"cosine",
        coalesce($"in_ex", lit(0L)).as("in_exact"))
      .orderBy($"query_id", $"rank")
  }

  private val bqBitsSql = (lo: Int, hi: Int, shift: Int) =>
    s"""(SELECT CAST(sum(CASE WHEN embedding[i + 1] > 0
       |  THEN (1::BIGINT << (i - $shift)) ELSE 0 END) AS BIGINT)
       | FROM range($lo, $hi) t(i))""".stripMargin

  private lazy val q374Oracle =
    s"""WITH h AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm,
       |    ${bqBitsSql(0, 32, 0)} AS h_lo,
       |    ${bqBitsSql(32, 64, 32)} AS h_hi
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qn,
       |        h_lo AS q_lo, h_hi AS q_hi
       |      FROM h WHERE vec_id < $nQueries),
       |ham AS (
       |  SELECT query_id, vec_id, embedding, nrm, qv, qn,
       |    CAST(bit_count(xor(h_lo, q_lo)) + bit_count(xor(h_hi, q_hi))
       |      AS BIGINT) AS hamming
       |  FROM h JOIN q ON vec_id <> query_id),
       |cand AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY hamming ASC, vec_id ASC) AS crank
       |  FROM ham),
       |rr AS (
       |  SELECT query_id, vec_id AS neighbor_id, hamming,
       |    ${dotSql("embedding", "qv")} / (nrm * qn) AS cosine
       |  FROM cand WHERE crank <= $bqCandidates),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id ASC) AS rank
       |  FROM rr),
       |ex AS ($q70Oracle)
       |SELECT r.query_id, CAST(r.rank AS BIGINT) AS rank, r.neighbor_id,
       |  r.hamming, r.cosine,
       |  CAST(CASE WHEN ex.neighbor_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
       |    AS in_exact
       |FROM ranked r LEFT JOIN ex
       |  ON r.query_id = ex.query_id AND r.neighbor_id = ex.neighbor_id
       |WHERE r.rank <= $topK
       |ORDER BY r.query_id, r.rank""".stripMargin

  // ---------------------------------------------------------------- q375
  /** Matryoshka truncation eval (MRL, Kusupati et al. 2022): recall
    * and reciprocal rank of the FIRST-[[mrlDims]]-dims cosine ranker
    * against the full-width exact top-10 — the measurement behind
    * the most common embedding cost lever (store/search a prefix of
    * the vector, 4× cheaper at 64→16, rerank later if at all). The
    * synthetic corpus has no MRL training, so the observed recall is
    * the honest uninformative-prefix floor; a real matryoshka model
    * concentrates meaning in the prefix and this same harness reads
    * the gain. q148's harness shape verbatim: both rankers are
    * scale-shaped (queries broadcast, corpus never exchanges),
    * everything downstream is queries×k rows. */
  val mrlDims = 16

  def q375MatryoshkaEval(s: SparkSession, dir: String): DataFrame =
    matryoshkaOf(s, dir, mrlDims)

  private[ops] def matryoshkaOf(s: SparkSession, dir: String,
      dims: Int): DataFrame = {
    import s.implicits._
    val t = Tables.embeddings(s, dir)
      .select($"vec_id", slice($"embedding", 1, dims).as("tv"))
      .select($"vec_id", $"tv", VectorOps.norm($"tv").as("tn"))
    val q = t.where($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"tv".as("qv"), $"tn".as("qn"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"cosine".desc, $"vec_id".asc)
    val trunc = t.join(broadcast(q), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        (VectorOps.dot($"tv", $"qv") / ($"tn" * $"qn")).as("cosine"))
      .withColumn("tr_rank", row_number().over(w))
      .where($"tr_rank" <= topK)
      .select($"query_id", $"vec_id".as("neighbor_id"), $"tr_rank")
    val ex = q70KnnBruteForce(s, dir)
      .select($"query_id", $"neighbor_id", $"rank".as("ex_rank"))
    ex.join(trunc, Seq("query_id", "neighbor_id"), "left")
      .groupBy($"query_id")
      .agg(count(lit(1)).as("k"),
        sum(when($"tr_rank".isNotNull, 1L).otherwise(0L)).as("n_matched"),
        max(when($"ex_rank" === 1, $"tr_rank")).as("top1_tr_rank"))
      .select($"query_id", $"n_matched",
        expr("CAST((1000000 * n_matched) div k AS BIGINT)").as("recall_ppm"),
        expr("CAST(coalesce(1000000 div top1_tr_rank, 0) AS BIGINT)")
          .as("rr_ppm"))
      .orderBy($"query_id")
  }

  private val truncDotSql = (a: String, b: String, d: Int) =>
    s"""list_reduce(list_transform(range(1, ${d + 1}),
       |  i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)""".stripMargin

  private lazy val q375Oracle =
    s"""WITH t AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${truncDotSql("embedding", "embedding", mrlDims)}) AS tn
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, embedding AS qv, tn AS qn
       |      FROM t WHERE vec_id < $nQueries),
       |scored AS (
       |  SELECT query_id, vec_id,
       |    ${truncDotSql("embedding", "qv", mrlDims)} / (tn * qn) AS cosine
       |  FROM t JOIN q ON vec_id <> query_id),
       |trunc AS (
       |  SELECT query_id, vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, vec_id ASC) AS tr_rank
       |  FROM scored),
       |ex AS ($q70Oracle)
       |SELECT ex.query_id,
       |  CAST(sum(CASE WHEN t2.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_matched,
       |  (1000000 * CAST(sum(CASE WHEN t2.neighbor_id IS NOT NULL THEN 1
       |    ELSE 0 END) AS BIGINT)) // CAST(count(*) AS BIGINT) AS recall_ppm,
       |  CAST(COALESCE(1000000 // max(CASE WHEN ex.rank = 1 THEN t2.tr_rank
       |    END), 0) AS BIGINT) AS rr_ppm
       |FROM ex LEFT JOIN (SELECT * FROM trunc WHERE tr_rank <= $topK) t2
       |  ON ex.query_id = t2.query_id AND ex.neighbor_id = t2.neighbor_id
       |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin

  // ---------------------------------------------------------------- q386
  /** Grid cell width reciprocal (cell side = 1/4) and the id-space
    * offset/stride that packs a (cx, cy) cell into one BIGINT key. */
  val gridInvEps = 4.0
  val gridOff = 1024L
  val gridStride = 4096L

  /** Grid-density clustering (STING/CLIQUE family — the cell-grain
    * approximation of DBSCAN): embeddings project onto their first
    * two dims, quantize to an ε-grid, cells at-or-above the MEAN
    * occupancy are dense, dense cells connect across the
    * 8-neighborhood, clusters are the connected components of that
    * cell graph, and every point inherits its cell's component (or
    * noise −1 in a sparse cell). The scale argument IS the
    * operator: density clustering done pairwise is O(n²) distance
    * work; on the grid, all per-point work is one projection, and
    * the quadratic-ish parts (neighbor edges, CC) run on the
    * OCCUPIED-CELL frame — bounded by the grid, not the corpus. The
    * mean-occupancy threshold keeps both branches live at any scale
    * factor (a fixed minPts dies at sf0.001 and saturates at sf0.1).
    * Sparse-cell points are noise even beside a dense cell — the
    * documented border-point simplification vs true DBSCAN. CC =
    * [[DedupOps.ccFixpoint]]: union-find on the driver while the
    * dense-cell edge set clears the broadcast gate (it is bounded by
    * the grid), else the pointer-jumping loop (rounds ≈ log₂
    * diameter); the oracle replays the grid and closes components
    * with a recursive CTE. Dims 1–2 are a stand-in for a learned 2-D
    * projection (the method is dimension-count-agnostic; the grid
    * count is exponential in grid dims, so real deployments project
    * first). */
  def q386GridDensity(s: SparkSession, dir: String): DataFrame =
    gridDensityOf(Tables.embeddings(s, dir))

  private[ops] def gridDensityOf(emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val pts = emb.select($"vec_id",
      expr(s"CAST(floor(CAST(embedding[0] AS DOUBLE) * $gridInvEps) AS BIGINT)")
        .as("cx"),
      expr(s"CAST(floor(CAST(embedding[1] AS DOUBLE) * $gridInvEps) AS BIGINT)")
        .as("cy"))
      .select($"vec_id", $"cx", $"cy",
        (($"cx" + gridOff) * gridStride + ($"cy" + gridOff)).as("cell"))
      .localCheckpoint()
    val cells = pts.groupBy($"cell").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val tot = cells.agg(sum($"n").as("t"), count(lit(1)).as("o"))
      .head()
    val (total, occupied) = (tot.getLong(0), tot.getLong(1))
    // dense ⇔ n ≥ mean occupancy (exact integer compare, no division)
    val dense = cells.where($"n" * occupied >= total)
      .select($"cell").localCheckpoint()
    val offsets = for (dx <- -1L to 1L; dy <- -1L to 1L
      if dx != 0L || dy != 0L) yield (dx, dy)
    val probes = dense.select($"cell", explode(typedlit(offsets)).as("o"))
      .select($"cell".as("a"),
        ($"cell" + $"o._1" * gridStride + $"o._2").as("b"))
    val edges = probes
      .join(dense.select($"cell".as("b")), "b")
      .where($"a" < $"b")
      .select($"a".as("doc_a"), $"b".as("doc_b"))
    val labels = DedupOps.ccFixpoint(s, edges)
      .toDF("cell", "cluster")
    // singleton dense cells never enter an edge — they are their own
    // cluster; sparse cells are noise
    pts.join(dense.select($"cell", lit(1L).as("is_core")), Seq("cell"), "left")
      .join(labels, Seq("cell"), "left")
      .select($"vec_id", $"cx", $"cy",
        coalesce($"is_core", lit(0L)).as("is_core"),
        when($"is_core".isNull, lit(-1L))
          .otherwise(coalesce($"cluster", $"cell")).as("cluster"))
      .orderBy($"vec_id")
  }

  private lazy val q386Oracle =
    s"""WITH pts AS (
       |  SELECT vec_id,
       |    CAST(floor(CAST(embedding[1] AS DOUBLE) * $gridInvEps) AS BIGINT)
       |      AS cx,
       |    CAST(floor(CAST(embedding[2] AS DOUBLE) * $gridInvEps) AS BIGINT)
       |      AS cy
       |  FROM embeddings),
       |keyed AS (
       |  SELECT vec_id, cx, cy,
       |    (cx + $gridOff) * $gridStride + (cy + $gridOff) AS cell
       |  FROM pts),
       |cells AS (SELECT cell, CAST(count(*) AS BIGINT) AS n
       |          FROM keyed GROUP BY 1),
       |stats AS (SELECT CAST(sum(n) AS BIGINT) AS t,
       |                 CAST(count(*) AS BIGINT) AS o FROM cells),
       |dense AS (SELECT cell FROM cells, stats WHERE n * o >= t),
       |edges AS (
       |  SELECT a.cell AS ca, b.cell AS cb
       |  FROM dense a JOIN dense b
       |    ON b.cell IN (a.cell - $gridStride - 1, a.cell - $gridStride,
       |      a.cell - $gridStride + 1, a.cell - 1, a.cell + 1,
       |      a.cell + $gridStride - 1, a.cell + $gridStride,
       |      a.cell + $gridStride + 1)),
       |closure AS (
       |  WITH RECURSIVE reach(cell, r) AS (
       |    SELECT cell, cell FROM dense
       |    UNION
       |    SELECT e.ca, r.r FROM reach r JOIN edges e ON e.cb = r.cell)
       |  SELECT cell, min(r) AS cluster FROM reach GROUP BY 1)
       |SELECT k.vec_id, k.cx, k.cy,
       |  CAST(CASE WHEN d.cell IS NULL THEN 0 ELSE 1 END AS BIGINT)
       |    AS is_core,
       |  CASE WHEN d.cell IS NULL THEN CAST(-1 AS BIGINT)
       |       ELSE c.cluster END AS cluster
       |FROM keyed k
       |LEFT JOIN dense d ON k.cell = d.cell
       |LEFT JOIN closure c ON k.cell = c.cell
       |ORDER BY k.vec_id""".stripMargin

  // ---------------------------------------------------------------- q392
  /** HBOS bins per dimension. 16 over the milli-quantized [min, max]
    * span of each dim: coarse enough that a 500-vector fixture keeps
    * most bins populated (density estimates stay meaningful), fine
    * enough that a far-out point lands alone. */
  val hbosBins = 16

  /** How many top outliers the readout keeps. */
  val hbosTopK = 20

  /** HBOS — Histogram-Based Outlier Score (Goldstein & Dengel 2012):
    * the embarrassingly-parallel outlier detector for embedding
    * spaces. Per dimension, an equi-width histogram over the
    * quantized span; a vector's score is Σ_d −ln(density of its bin)
    * — high when its coordinates sit in sparse bins. Everything an
    * isolation forest needs trees and randomness for, HBOS gets from
    * ONE fan-out pass at the price of assuming feature independence
    * (disclosed; correlated-cluster outliers need q342's semantic
    * route). Exact integers throughout: coordinates quantize to
    * milli-units (the q147 grid), bin = (q−qmin)·B div (span+1) on
    * integers, and the score is Σ (⌊ln N·10⁶⌋ − ⌊ln cnt·10⁶⌋)
    * micro-nats — the per-step-floored ln device (q208), identical
    * in both engines. A constant dimension puts everything in bin 0
    * at density 1 and contributes exactly 0 (spec-pinned).
    *
    * Scale shape: the component table (N·64 rows) never joins
    * itself — per-dim ranges (64 rows) and histograms (≤ 64·B rows)
    * BROADCAST back onto it, then one groupBy(vec_id) sums the
    * score. Top-k is a TakeOrdered, never a global sort. */
  def q392HbosOutliers(s: SparkSession, dir: String): DataFrame =
    hbosOf(Tables.embeddings(s, dir), hbosBins, hbosTopK)

  /** HBOS on any (vec_id, embedding) frame — separated so the spec
    * can plant a tight cluster + one far point (the plant must rank
    * first), a uniform frame (all scores equal), and the
    * constant-dimension zero-contribution pin. */
  private[ops] def hbosOf(emb: DataFrame, bins: Int, topK: Int): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val pts = emb.select($"vec_id", posexplode($"embedding").as(Seq("dim", "x")))
      .select($"vec_id", $"dim",
        expr("CAST(round(CAST(x AS DOUBLE) * 1000D) AS BIGINT)").as("q"))
    val ranges = pts.groupBy($"dim")
      .agg(min($"q").as("qmin"), max($"q").as("qmax"))
    val binned = pts.join(broadcast(ranges), "dim")
      .select($"vec_id", $"dim",
        expr(s"((q - qmin) * $bins) div (qmax - qmin + 1)").as("bin"))
    val hist = binned.groupBy($"dim", $"bin").agg(count(lit(1)).as("cnt"))
    val n = emb.agg(count(lit(1)).as("n"))
    binned.join(broadcast(hist), Seq("dim", "bin"))
      .crossJoin(broadcast(n))
      .groupBy($"vec_id")
      .agg(sum(
        expr("CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000D) AS BIGINT)") -
          expr("CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000000D) AS BIGINT)"))
        .as("hbos_micro"))
      .orderBy($"hbos_micro".desc, $"vec_id")
      .limit(topK)
  }

  private val q392Oracle =
    s"""WITH pts AS (
       |  SELECT vec_id, i AS dim,
       |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS q
       |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
       |rg AS (
       |  SELECT dim, CAST(min(q) AS BIGINT) AS qmin,
       |    CAST(max(q) AS BIGINT) AS qmax
       |  FROM pts GROUP BY 1),
       |bn AS (
       |  SELECT vec_id, pts.dim,
       |    ((q - qmin) * $hbosBins) // (qmax - qmin + 1) AS bin
       |  FROM pts JOIN rg ON pts.dim = rg.dim),
       |h AS (
       |  SELECT dim, bin, CAST(count(*) AS BIGINT) AS cnt
       |  FROM bn GROUP BY 1, 2),
       |t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings)
       |SELECT vec_id,
       |  CAST(sum(CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000) AS BIGINT)
       |    - CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000000) AS BIGINT))
       |    AS BIGINT) AS hbos_micro
       |FROM bn JOIN h ON bn.dim = h.dim AND bn.bin = h.bin, t
       |GROUP BY vec_id
       |ORDER BY hbos_micro DESC, vec_id LIMIT $hbosTopK""".stripMargin

  // ---------------------------------------------------------------- q406
  /** Anchors mined per run — a fixed slice, the q70 convention. */
  val tripletAnchors = 24L

  /** Hard-triplet mining for contrastive training (FaceNet, Schroff
    * et al. 2015; the data-engineering stage of every embedding
    * fine-tune): for each anchor, the HARDEST positive (least-similar
    * same-label vector — the pair the model most needs to pull
    * together is actually the standard semi-hard choice's ceiling;
    * here: highest-cosine positive and highest-cosine negative, the
    * margin readout curators actually gate on) and the hardest
    * negative (most-similar other-label vector), with margin =
    * pos_cos − neg_cos and a violation flag (negative closer than
    * the positive — the triplets worth training on). One broadcast
    * of the anchor slice against the corpus scan (q70's shape: the
    * corpus is never exchanged), two per-anchor top-1 windows over
    * anchor-grain frames. At 100 TB anchors stream in bounded
    * slices; the corpus-side cost is one scan per slice, and the
    * IVF route (q71) pre-filters candidates when the corpus itself
    * is the bottleneck (disclosed, not composed here). */
  def q406TripletMining(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    tripletsOf(Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding", $"label",
        VectorOps.norm($"embedding").as("nrm")), tripletAnchors)
  }

  /** Mining on any (vec_id, embedding, label, nrm) frame — separated
    * so the spec can plant a geometry where the violation flag and
    * both argmaxes are hand-checkable. */
  private[ops] def tripletsOf(emb: DataFrame, nAnchors: Long): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val anchors = emb.where($"vec_id" < nAnchors)
      .select($"vec_id".as("anchor_id"), $"embedding".as("av"),
        $"label".as("albl"), $"nrm".as("an"))
    val scored = emb.join(broadcast(anchors), $"vec_id" =!= $"anchor_id")
      .select($"anchor_id", $"albl", $"vec_id", $"label",
        (VectorOps.dot($"embedding", $"av") / ($"nrm" * $"an")).as("cosine"))
    def top1(sameLabel: Boolean, idName: String, cosName: String) = {
      val side = if (sameLabel) scored.where($"label" === $"albl")
        else scored.where($"label" =!= $"albl")
      val w = Window.partitionBy($"anchor_id")
        .orderBy($"cosine".desc, $"vec_id".asc)
      side.withColumn("rn", row_number().over(w)).where($"rn" === 1)
        .select($"anchor_id", $"vec_id".as(idName), $"cosine".as(cosName))
    }
    top1(sameLabel = true, "pos_id", "pos_cos")
      .join(top1(sameLabel = false, "neg_id", "neg_cos"), Seq("anchor_id"))
      .select($"anchor_id", $"pos_id", $"pos_cos", $"neg_id", $"neg_cos",
        ($"pos_cos" - $"neg_cos").as("margin"),
        ($"pos_cos" < $"neg_cos").as("violated"))
      .orderBy($"anchor_id")
  }

  private val q406Oracle =
    s"""WITH c AS (
       |  SELECT vec_id, embedding, label,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |a AS (
       |  SELECT vec_id AS anchor_id, embedding AS av, label AS albl,
       |    nrm AS an
       |  FROM c WHERE vec_id < $tripletAnchors),
       |scored AS (
       |  SELECT anchor_id, albl, vec_id, label,
       |    ${dotSql("embedding", "av")} / (nrm * an) AS cosine
       |  FROM c JOIN a ON vec_id <> anchor_id),
       |pos AS (
       |  SELECT anchor_id, vec_id AS pos_id, cosine AS pos_cos,
       |    row_number() OVER (PARTITION BY anchor_id
       |      ORDER BY cosine DESC, vec_id ASC) AS rn
       |  FROM scored WHERE label = albl),
       |neg AS (
       |  SELECT anchor_id, vec_id AS neg_id, cosine AS neg_cos,
       |    row_number() OVER (PARTITION BY anchor_id
       |      ORDER BY cosine DESC, vec_id ASC) AS rn
       |  FROM scored WHERE label <> albl)
       |SELECT anchor_id, pos_id, pos_cos, neg_id, neg_cos,
       |  pos_cos - neg_cos AS margin, pos_cos < neg_cos AS violated
       |FROM pos JOIN neg USING (anchor_id)
       |WHERE pos.rn = 1 AND neg.rn = 1
       |ORDER BY anchor_id""".stripMargin

  // ---------------------------------------------------------------- q487
  /** MMR diversity reranking (Carbonell & Goldstein 1998 — maximal
    * marginal relevance, the rerank every RAG retrieval stack runs so
    * the k slots aren't k near-duplicates): greedily select
    * [[mmrK]] of each query's top-[[topK]] exact candidates, each
    * step maximizing λ·cos(q, d) − (1−λ)·max_{s∈S} cos(d, s) — the
    * relevance-minus-redundancy tradeoff, λ = 0.5 (exact in binary,
    * so both engines' literals agree bit-for-bit; doubles are only
    * COMPARED, never accumulated across rows).
    *
    * Scale shape: candidate generation is q70's broadcast scan (the
    * corpus never exchanges); everything after runs on the
    * (queries × topK) CANDIDATE GRID — pairwise candidate cosines are
    * topK² per query by construction, and the K greedy rounds are
    * grid-sized joins (checkpointed — bounded frames, lineage never
    * stacks). The same unrolled-rounds discipline as the IPF/BPE
    * fixpoints; the oracle replays each round as CTEs so the greedy
    * trajectories cannot diverge. Spec pins redundancy actually
    * drops: planted near-duplicate candidates de-select. */
  val mmrK = 5
  val mmrLambda = 0.5 // 1 − λ must be exact in binary — see Scaladoc

  def q487MmrRerank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = corpus(s, dir)
    val q = c.where($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"),
        $"nrm".as("qn"))
    val wCos = Window.partitionBy($"query_id")
      .orderBy($"cosine".desc, $"vec_id".asc)
    val cand = c.join(broadcast(q), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id", $"embedding", $"nrm",
        (VectorOps.dot($"embedding", $"qv") / ($"nrm" * $"qn"))
          .as("cosine"))
      .withColumn("rn", row_number().over(wCos))
      .where($"rn" <= topK).drop("rn")
      .localCheckpoint(true) // grid-sized: nQueries × topK rows
    val pairs = cand
      .select($"query_id", $"vec_id".as("a_id"),
        $"embedding".as("av"), $"nrm".as("an"))
      .join(cand.select($"query_id", $"vec_id".as("b_id"),
        $"embedding".as("bv"), $"nrm".as("bn")), Seq("query_id"))
      .where($"a_id" =!= $"b_id")
      .select($"query_id", $"a_id", $"b_id",
        (VectorOps.dot($"av", $"bv") / ($"an" * $"bn")).as("cosab"))
      .localCheckpoint(true) // topK² per query
    val base = cand.select($"query_id", $"vec_id", $"cosine")
    val wPick = Window.partitionBy($"query_id")
      .orderBy($"score".desc, $"vec_id".asc)
    var selAll = base
      .withColumn("score", lit(mmrLambda) * $"cosine")
      .withColumn("rn", row_number().over(wPick)).where($"rn" === 1)
      .select($"query_id", $"vec_id", lit(1).as("rank"),
        $"score".as("mmr"))
      .localCheckpoint(true)
    for (t <- 2 to mmrK) {
      val pen = pairs
        .join(selAll.select($"query_id", $"vec_id".as("b_id")),
          Seq("query_id", "b_id"))
        .groupBy($"query_id", $"a_id".as("vec_id"))
        .agg(max($"cosab").as("pen"))
      val pick = base
        .join(selAll.select($"query_id", $"vec_id"),
          Seq("query_id", "vec_id"), "left_anti")
        .join(pen, Seq("query_id", "vec_id"))
        .withColumn("score",
          lit(mmrLambda) * $"cosine" - lit(1.0 - mmrLambda) * $"pen")
        .withColumn("rn", row_number().over(wPick)).where($"rn" === 1)
        .select($"query_id", $"vec_id", lit(t).as("rank"),
          $"score".as("mmr"))
      selAll = selAll.unionByName(pick).localCheckpoint(true)
    }
    selAll.select($"query_id", $"vec_id".as("neighbor_id"), $"rank",
      $"mmr").orderBy($"query_id", $"rank")
  }

  private lazy val q487Oracle = {
    def selUnion(t: Int) =
      (1 to t).map(i => s"SELECT query_id, vec_id FROM s$i")
        .mkString(" UNION ALL ")
    val rounds = (2 to mmrK).map { t =>
      s"""sel${t - 1} AS (${selUnion(t - 1)}),
         |pen$t AS (
         |  SELECT p.query_id, p.a_id AS vec_id, max(p.cosab) AS pen
         |  FROM pr p JOIN sel${t - 1} sel
         |    ON sel.query_id = p.query_id AND sel.vec_id = p.b_id
         |  GROUP BY 1, 2),
         |sc$t AS (
         |  SELECT r.query_id, r.vec_id,
         |    $mmrLambda * r.cosine - ${1.0 - mmrLambda} * pen$t.pen AS score
         |  FROM cand r
         |  JOIN pen$t USING (query_id, vec_id)
         |  LEFT JOIN sel${t - 1} sl
         |    ON sl.query_id = r.query_id AND sl.vec_id = r.vec_id
         |  WHERE sl.vec_id IS NULL),
         |s$t AS (
         |  SELECT query_id, vec_id, $t AS rank, score AS mmr FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, vec_id ASC) AS rn FROM sc$t)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val out = (1 to mmrK)
      .map(i => s"SELECT query_id, vec_id, rank, mmr FROM s$i")
      .mkString(" UNION ALL ")
    s"""WITH c AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qn
       |      FROM c WHERE vec_id < $nQueries),
       |cand AS (
       |  SELECT query_id, vec_id, embedding, nrm, cosine FROM (
       |    SELECT query_id, vec_id, embedding, nrm,
       |      ${dotSql("embedding", "qv")} / (nrm * qn) AS cosine,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY ${dotSql("embedding", "qv")} / (nrm * qn) DESC,
       |          vec_id ASC) AS rn
       |    FROM c JOIN q ON vec_id <> query_id)
       |  WHERE rn <= $topK),
       |pr AS (
       |  SELECT a.query_id, a.vec_id AS a_id, b.vec_id AS b_id,
       |    ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm)
       |      AS cosab
       |  FROM cand a JOIN cand b
       |    ON a.query_id = b.query_id AND a.vec_id <> b.vec_id),
       |s1 AS (
       |  SELECT query_id, vec_id, 1 AS rank, $mmrLambda * cosine AS mmr
       |  FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY $mmrLambda * cosine DESC, vec_id ASC) AS rn
       |    FROM cand)
       |  WHERE rn = 1),
       |$rounds
       |SELECT query_id, vec_id AS neighbor_id, rank, mmr FROM ($out)
       |ORDER BY query_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------- q505
  /** [NS] IVF NPROBE-SWEEP recall advisor — the ANN-governance twin
    * of q475's LSH banding sweep: before committing an index config,
    * price the recall/cost dial by measuring, per nprobe ∈
    * {1, 2, 4, 8}, exact recall@[[topK]] of q71's IVF against q70's
    * brute-force truth. At nprobe = [[numCells]] the probe covers
    * every cell, so the sweep's last row is PROVABLY recall 1.0 —
    * the built-in self-check — and recall is monotone in nprobe by
    * construction (candidate sets nest). Scale shape: the model and
    * cell assignment are q71's zero-Exchange projections computed
    * once; each arm joins the broadcast probe list and ranks — the
    * brute-truth arm is the only corpus×query pass, and queries are
    * [[nQueries]] broadcast rows. Recall is integer ppm over the
    * truth-set size: hash-exact across engines, no float thresholds
    * in the metric (ranking reuses q70/q71's bit-stable cosine). */
  def q505NprobeSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = corpus(s, dir)
    val cents = centroidModel(s, dir)
    val cells = c.withColumn("cell",
      -array_max(centroidScores(cents, $"embedding", $"nrm"))
        .getField("negcid"))
    val q = c.where($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"),
        $"nrm".as("qn"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"cosine".desc, $"vec_id".asc)
    // materialize the brute truth ONCE (nQueries·topK rows): it feeds
    // tcDf and all four arms' joins, and uncached it would re-run the
    // corpus×query pass per consumer — 5× the documented single pass
    val truth = c.join(broadcast(q), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        (VectorOps.dot($"embedding", $"qv") / ($"nrm" * $"qn"))
          .as("cosine"))
      .withColumn("rank", row_number().over(w)).where($"rank" <= topK)
      .select($"query_id", $"vec_id".as("neighbor_id"))
      .localCheckpoint(true)
    val tcDf = truth.agg(count(lit(1)).as("tc"))
    val arms = Seq(1, 2, 4, 8).map { np =>
      val probes = q.select($"query_id", $"qv", $"qn",
        explode(transform(
          slice(reverse(array_sort(centroidScores(cents, $"qv", $"qn"))),
            1, np),
          x => -x.getField("negcid"))).as("cell"))
      val ivfk = cells.join(broadcast(probes), Seq("cell"))
        .where($"vec_id" =!= $"query_id")
        .select($"query_id", $"vec_id",
          (VectorOps.dot($"embedding", $"qv") / ($"nrm" * $"qn"))
            .as("cosine"))
        .withColumn("rank", row_number().over(w)).where($"rank" <= topK)
        .select($"query_id", $"vec_id".as("neighbor_id"))
      ivfk.join(truth, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(tcDf)
        .select(lit(np.toLong).as("nprobe"), $"n_hits",
          expr("n_hits * 1000000 div tc").as("recall_ppm"))
    }
    arms.reduce(_ unionByName _).orderBy($"nprobe")
  }

  private lazy val q505Oracle = {
    val cos = s"${dotSql("ce.embedding", "qe.embedding")} / (ce.nrm * qe.nrm)"
    s"""WITH $ivfCellsCte,
       |nps AS (SELECT * FROM (VALUES (1), (2), (4), (8)) v(np)),
       |rankc AS (
       |  SELECT vec_id AS query_id, cid AS cell,
       |    row_number() OVER (PARTITION BY vec_id
       |                       ORDER BY cos DESC, cid ASC) AS crank
       |  FROM sc WHERE vec_id < $nQueries),
       |truth AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT qe.vec_id AS query_id, ce.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY qe.vec_id
       |        ORDER BY $cos DESC, ce.vec_id ASC) AS rank
       |    FROM e ce JOIN e qe
       |      ON ce.vec_id <> qe.vec_id AND qe.vec_id < $nQueries)
       |  WHERE rank <= $topK),
       |tc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM truth),
       |cand AS (
       |  SELECT DISTINCT n.np, r.query_id, ce.vec_id
       |  FROM nps n
       |  JOIN rankc r ON r.crank <= n.np
       |  JOIN cells ce ON r.cell = ce.cell
       |  WHERE ce.vec_id <> r.query_id),
       |ranked AS (
       |  SELECT np, cand.query_id, cand.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY np, cand.query_id
       |      ORDER BY $cos DESC, cand.vec_id ASC) AS rank
       |  FROM cand
       |  JOIN e ce ON cand.vec_id = ce.vec_id
       |  JOIN e qe ON cand.query_id = qe.vec_id),
       |hits AS (
       |  SELECT np, CAST(count(*) AS BIGINT) AS n_hits
       |  FROM (SELECT np, query_id, neighbor_id FROM ranked
       |        WHERE rank <= $topK) k
       |  JOIN truth USING (query_id, neighbor_id)
       |  GROUP BY np)
       |SELECT CAST(n.np AS BIGINT) AS nprobe,
       |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       |  CAST(coalesce(h.n_hits, 0) * 1000000 // tc.n AS BIGINT)
       |    AS recall_ppm
       |FROM nps n LEFT JOIN hits h ON n.np = h.np, tc
       |ORDER BY nprobe""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q505_nprobe_sweep" -> (q505NprobeSweep _),
    "q406_triplet_mining" -> (q406TripletMining _),
    "q392_hbos_outliers" -> (q392HbosOutliers _),
    "q386_grid_density" -> (q386GridDensity _),
    "q374_binary_quant_knn" -> (q374BinaryQuantKnn _),
    "q375_matryoshka_eval" -> (q375MatryoshkaEval _),
    "q342_semantic_dedup" -> (q342SemanticDedup _),
    "q328_ivf_pq"        -> (q328IvfPq _),
    "q326_pca_anisotropy" -> (q326PcaAnisotropy _),
    "q322_pq_adc"        -> (q322PqAdc _),
    "q312_mrr_at_10"     -> (q312MrrAt10 _),
    "q305_ndcg_at_10"    -> (q305NdcgAt10 _),
    "q251_knn_loo_eval"  -> (q251KnnLooEval _),
    "q70_knn_bruteforce" -> (q70KnnBruteForce _),
    "q487_mmr_rerank" -> (q487MmrRerank _),
    "q357_semantic_decontam" -> (q357SemanticDecontam _),
    "q71_knn_ivf"        -> (q71KnnIvf _),
    "q165_embedding_audit" -> (q165EmbeddingAudit _),
    "q172_label_noise"   -> (q172LabelNoise _),
    "q188_power_iteration" -> (q188PowerIteration _),
    "q191_ivf_balance"   -> (q191IvfBalance _),
    "q52_knn_lsh"        -> (q52KnnLsh _),
    "q95_filtered_knn"   -> (q95FilteredKnn _),
    "q97_quantize_int8"  -> (q97QuantizeInt8 _),
    "q104_quantized_knn" -> (q104QuantizedKnn _),
    "q137_hybrid_rrf"    -> (q137HybridRrf _),
    "q147_embedding_drift" -> (q147EmbeddingDrift _),
    "q148_retrieval_metrics" -> (q148RetrievalMetrics _),
    "q157_kcenter_diverse" -> (q157KcenterDiverse _),
  )

  val oracles: Map[String, String] = Map(
    "q505_nprobe_sweep" -> q505Oracle,
    "q406_triplet_mining" -> q406Oracle,
    "q392_hbos_outliers" -> q392Oracle,
    "q386_grid_density" -> q386Oracle,
    "q374_binary_quant_knn" -> q374Oracle,
    "q375_matryoshka_eval" -> q375Oracle,
    "q342_semantic_dedup" -> q342Oracle,
    "q328_ivf_pq"        -> q328Oracle,
    "q326_pca_anisotropy" -> q326Oracle,
    "q322_pq_adc"        -> q322Oracle,
    "q312_mrr_at_10"     -> q312Oracle,
    "q305_ndcg_at_10"    -> q305Oracle,
    "q251_knn_loo_eval"  -> q251Oracle,
    "q70_knn_bruteforce" -> q70Oracle,
    "q487_mmr_rerank" -> q487Oracle,
    "q357_semantic_decontam" -> q357Oracle,
    "q71_knn_ivf"        -> q71Oracle,
    "q165_embedding_audit" -> q165Oracle,
    "q172_label_noise"   -> q172Oracle,
    "q188_power_iteration" -> q188Oracle,
    "q191_ivf_balance"   -> q191Oracle,
    "q52_knn_lsh"        -> q52Oracle,
    "q95_filtered_knn"   -> q95Oracle,
    "q97_quantize_int8"  -> q97Oracle,
    "q104_quantized_knn" -> q104Oracle,
    "q137_hybrid_rrf"    -> q137Oracle,
    "q147_embedding_drift" -> q147Oracle,
    "q148_retrieval_metrics" -> q148Oracle,
    "q157_kcenter_diverse" -> q157Oracle,
  )
}
