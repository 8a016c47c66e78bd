package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.expr.TextExprs

/** Text-analysis operators for training-data pipelines over the
  * `documents` table: token statistics, quality scoring, language ID,
  * and document fingerprinting. Everything is built-in-function
  * composition (codegen'd, no UDFs) so it runs at scan speed — the
  * only cost at 100 TB is the scan itself plus one projection.
  */
object TextOps {

  /** Shared stopword list (must match the oracle SQL literally). */
  val stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")

  private def toks(c: Column): Column = split(TextExprs.lower(c), " ")

  // ---------------------------------------------------------------- q60
  /** Per-document token statistics. */
  def q60TextStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("toks", toks($"text"))
      .select(
        $"doc_id", $"lang",
        length($"text").cast("long").as("n_chars_actual"),
        size($"toks").cast("long").as("n_tokens"),
        size(array_distinct($"toks")).cast("long").as("n_distinct_tokens"),
        (length(regexp_replace($"text", " ", "")).cast("double") /
          size($"toks")).as("avg_token_len"),
        (size(filter($"toks", t => t.isin(stopwords: _*))).cast("double") /
          size($"toks")).as("stopword_ratio"))
      .orderBy($"doc_id")
  }

  private val q60Oracle =
    s"""SELECT doc_id, lang,
       |  length(text) AS n_chars_actual,
       |  len(string_split(lower(text), ' ')) AS n_tokens,
       |  len(list_distinct(string_split(lower(text), ' '))) AS n_distinct_tokens,
       |  CAST(length(replace(text, ' ', '')) AS DOUBLE)
       |    / len(string_split(lower(text), ' ')) AS avg_token_len,
       |  CAST(len(list_filter(string_split(lower(text), ' '),
       |        x -> x IN (${stopwords.map(w => s"'$w'").mkString(",")}))) AS DOUBLE)
       |    / len(string_split(lower(text), ' ')) AS stopword_ratio
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q61
  /** Language ID via n-gram/stopword heuristic: CJK character ratio
    * decides zh; otherwise the best stopword-profile overlap wins
    * (ties → lexicographically greatest code — deterministic, which
    * is what makes this exactly oracle-able: Spark's array_max over
    * struct(score, lang) and the oracle's row_number ORDER BY
    * (score DESC, lang DESC) pick the identical winner). Scores are
    * single int/int → double divisions, bit-identical across engines;
    * `length()` counts UTF-16 units in Spark vs code points in
    * DuckDB, which agree on the BMP-only corpus (verified: zero
    * non-BMP chars at every sf). Accuracy on real sentences is
    * asserted in TextOpsSpec. */
  val langProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it", "was", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "una", "los", "es"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "est", "un", "une", "que"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "den", "ein", "eine", "zu"),
  )

  def q61LangId(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val withToks = Tables.documents(s, dir).withColumn("toks", toks($"text"))
    val scored = langProfiles.toSeq.sortBy(_._1).foldLeft(withToks) {
      case (df, (lang, profile)) =>
        df.withColumn(s"score_$lang",
          size(filter(col("toks"), t => t.isin(profile: _*))).cast("double") /
            size(col("toks")))
    }
    val cjkRatio = (length($"text") -
      length(regexp_replace($"text", "[\\x{4e00}-\\x{9fff}]", ""))).cast("double") /
      length($"text")
    val best = array_max(array(langProfiles.keys.toSeq.sorted.map(l =>
      struct(col(s"score_$l").as("score"), lit(l).as("lang"))): _*))
    scored
      .withColumn("cjk_ratio", cjkRatio)
      .withColumn("best", best)
      .select($"doc_id", $"lang".as("labeled_lang"),
        when($"cjk_ratio" > 0.3, "zh").otherwise($"best.lang").as("predicted_lang"),
        when($"cjk_ratio" > 0.3, $"cjk_ratio").otherwise($"best.score").as("confidence"))
      .orderBy($"doc_id")
  }

  private val q61Oracle = {
    val profiles = langProfiles.toSeq.sortBy(_._1).map { case (l, ws) =>
      s"('$l', [${ws.map(w => s"'$w'").mkString(",")}])"
    }.mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id, lang AS labeled_lang, text,
       |    string_split(lower(text), ' ') AS toks
       |  FROM documents),
       |p AS (SELECT * FROM (VALUES $profiles) v(plang, prof)),
       |s AS (
       |  SELECT doc_id, plang,
       |    CAST(len(list_filter(toks, x -> list_contains(prof, x))) AS DOUBLE)
       |      / len(toks) AS score
       |  FROM t CROSS JOIN p),
       |b AS (
       |  SELECT doc_id, plang, score,
       |    row_number() OVER (PARTITION BY doc_id
       |                       ORDER BY score DESC, plang DESC) AS rn
       |  FROM s),
       |c AS (
       |  SELECT doc_id,
       |    CAST(length(text) -
       |         length(regexp_replace(text, '[\\x{4e00}-\\x{9fff}]', '', 'g')) AS DOUBLE)
       |      / length(text) AS cjk
       |  FROM t)
       |SELECT t.doc_id AS doc_id, t.labeled_lang AS labeled_lang,
       |  CASE WHEN c.cjk > 0.3 THEN 'zh' ELSE b.plang END AS predicted_lang,
       |  CASE WHEN c.cjk > 0.3 THEN c.cjk ELSE b.score END AS confidence
       |FROM t JOIN b ON t.doc_id = b.doc_id AND b.rn = 1
       |JOIN c ON t.doc_id = c.doc_id
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q62
  /** Composite quality score from length, lexical diversity, and
    * stopword balance — integer counts divided in fixed order so the
    * double math is engine-identical. */
  def q62QualityScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("toks", toks($"text"))
      .withColumn("len_score",
        least(length($"text").cast("double") / 500.0, lit(1.0)))
      .withColumn("diversity",
        size(array_distinct($"toks")).cast("double") / size($"toks"))
      .withColumn("stop_ratio",
        size(filter($"toks", t => t.isin(stopwords: _*))).cast("double") /
          size($"toks"))
      .withColumn("quality_score",
        $"len_score" * 0.5 + $"diversity" * 0.3 + (lit(1.0) - $"stop_ratio") * 0.2)
      .select($"doc_id", $"len_score", $"diversity", $"stop_ratio",
        $"quality_score", ($"quality_score" >= 0.6).as("is_quality"))
      .orderBy($"doc_id")
  }

  private val q62Oracle =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score,
       |    CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE)
       |      / len(string_split(lower(text), ' ')) AS diversity,
       |    CAST(len(list_filter(string_split(lower(text), ' '),
       |          x -> x IN (${stopwords.map(w => s"'$w'").mkString(",")}))) AS DOUBLE)
       |      / len(string_split(lower(text), ' ')) AS stop_ratio
       |  FROM documents)
       |SELECT doc_id, len_score, diversity, stop_ratio,
       |  len_score * 0.5 + diversity * 0.3 + (1.0 - stop_ratio) * 0.2 AS quality_score,
       |  len_score * 0.5 + diversity * 0.3 + (1.0 - stop_ratio) * 0.2 >= 0.6 AS is_quality
       |FROM t ORDER BY doc_id""".stripMargin

  /** (doc_id, lang, quality_score) — q62's composite (same expression,
    * same evaluation order, so doubles match the oracle bit-for-bit),
    * reused by DedupOps.q74's quality-weighted keeper selection and
    * q88's per-language trim. */
  private[ops] def qualityScores(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("toks", toks($"text"))
      .select($"doc_id", $"lang",
        (least(length($"text").cast("double") / 500.0, lit(1.0)) * 0.5 +
          (size(array_distinct($"toks")).cast("double") / size($"toks")) * 0.3 +
          (lit(1.0) - size(filter($"toks", t => t.isin(stopwords: _*)))
            .cast("double") / size($"toks")) * 0.2).as("quality_score"))
  }

  /** The matching DuckDB snippet (a full SELECT over `documents`),
    * interpolated into q74's oracle. */
  private[ops] val qualityScoresSql: String =
    s"""SELECT doc_id, lang,
       |    LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5
       |    + CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE)
       |        / len(string_split(lower(text), ' ')) * 0.3
       |    + (1.0 - CAST(len(list_filter(string_split(lower(text), ' '),
       |          x -> x IN (${stopwords.map(w => s"'$w'").mkString(",")}))) AS DOUBLE)
       |        / len(string_split(lower(text), ' '))) * 0.2 AS quality_score
       |  FROM documents""".stripMargin

  // ---------------------------------------------------------------- q49
  /** Per-language sampling percentages (pct kept); languages absent
    * here keep 100%. Interpolated into the oracle so query and SQL
    * can never drift. */
  val sampleRates: Seq[(String, Int)] = Seq("en" -> 50, "zh" -> 25)

  /** Deterministic hash-based stratified sampling — mixture control
    * for training corpora (downsample the over-represented language,
    * keep the rest). The keep decision is a pure function of the ROW:
    * bucket = md5("samp:" + doc_id) taken as a 16-bit int mod 100 —
    * never an RNG stream, so the sample is reproducible across
    * retries, repartitioning, and engines (which is also what makes
    * it exactly oracle-able, unlike rand()/sampleBy). A salt in the
    * hash input decorrelates this sample from any other md5-keyed
    * logic over the same ids. Pure projection + filter: the filter
    * evaluates at scan time, zero shuffle at any scale. */
  def q49StratifiedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bucket = conv(substring(md5(concat(lit("samp:"), $"doc_id".cast("string"))),
      1, 4), 16, 10).cast("long") % 100
    val rate = sampleRates.foldLeft(lit(100): Column) {
      case (acc, (l, r)) => when($"lang" === l, r).otherwise(acc)
    }
    Tables.documents(s, dir)
      .withColumn("bucket", bucket)
      .where($"bucket" < rate)
      .select($"doc_id", $"lang", $"bucket")
      .orderBy($"doc_id")
  }

  private val q49Oracle =
    s"""SELECT doc_id, lang, bucket FROM (
       |  SELECT doc_id, lang,
       |    ('0x' || substr(md5('samp:' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 AS bucket
       |  FROM documents)
       |WHERE bucket < CASE lang ${sampleRates.map { case (l, r) => s"WHEN '$l' THEN $r" }.mkString(" ")} ELSE 100 END
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q50
  /** Chunk geometry: 16-token windows every 12 tokens (4-token
    * overlap). Interpolated into the oracle. */
  val chunkSize = 16
  val chunkStride = 12

  /** Fixed-size overlapping token chunking — the operator that turns
    * documents into training-window-sized pieces. Chunks start every
    * `chunkStride` tokens; the final start is capped at
    * n - chunkSize + chunkStride so a tail chunk exists only when it
    * carries tokens no earlier chunk covered (a doc shorter than one
    * window yields exactly one chunk). Projection + explode: the
    * fan-out is bounded by n/stride per doc and carries no state, so
    * at 100 TB this is scan-shaped work. */
  def q50DocChunks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documentsSpread(s, dir)
      .withColumn("toks", toks($"text"))
      .withColumn("n", size($"toks"))
      .withColumn("start", explode(sequence(lit(1),
        greatest(lit(1), $"n" - chunkSize + chunkStride), lit(chunkStride))))
      .select($"doc_id",
        expr(s"CAST((start - 1) DIV $chunkStride AS BIGINT)").as("chunk_id"),
        concat_ws(" ", slice($"toks", $"start", lit(chunkSize))).as("chunk_text"),
        least(lit(chunkSize), $"n" - $"start" + 1).cast("long").as("n_tokens"))
      .orderBy($"doc_id", $"chunk_id")
  }

  private val q50Oracle =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS toks,
       |    len(string_split(lower(text), ' ')) AS n
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, toks, n,
       |    unnest(range(1, greatest(1, n - $chunkSize + $chunkStride) + 1, $chunkStride)) AS start
       |  FROM t)
       |SELECT doc_id, (start - 1) // $chunkStride AS chunk_id,
       |  array_to_string(list_slice(toks, start, least(start + ${chunkSize - 1}, n)), ' ') AS chunk_text,
       |  least($chunkSize, n - start + 1) AS n_tokens
       |FROM c ORDER BY doc_id, chunk_id""".stripMargin

  // ---------------------------------------------------------------- q83
  /** Tokens per packed training sequence and the number of
    * deterministic pack streams, both interpolated into the oracle. */
  val packBudget = 256
  val packBuckets = 16

  /** Sequence packing — the step that turns a chunked/filtered corpus
    * into fixed-length training sequences: concatenate the token
    * stream and slice every [[packBudget]] tokens (GPT-style packing
    * splits documents across sequence boundaries; the emitted
    * [seq_first, seq_last] span tells the consumer exactly which
    * sequences each doc feeds). One global stream would serialize the
    * prefix sum, so the corpus packs into [[packBuckets]] independent
    * streams keyed by the q49 md5-bucket device — a pure row function,
    * so stream membership is reproducible and each stream's running
    * sum is an independent window partition: parallelism = buckets,
    * and at 100 TB you raise the bucket count, not the window size.
    * All integer math — exactly oracle-able. */
  def q83SequencePack(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val bucket = conv(substring(md5(concat(lit("pack:"), $"doc_id".cast("string"))),
      1, 4), 16, 10).cast("long") % packBuckets
    val w = Window.partitionBy($"bucket").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, dir)
      .select($"doc_id", bucket.as("bucket"),
        size(toks($"text")).cast("long").as("n_tokens"))
      .withColumn("start_tok", coalesce(sum($"n_tokens").over(w), lit(0L)))
      .select($"doc_id", $"bucket", $"n_tokens", $"start_tok",
        expr(s"start_tok DIV $packBudget").as("seq_first"),
        expr(s"(start_tok + n_tokens - 1) DIV $packBudget").as("seq_last"))
      .orderBy($"doc_id")
  }

  private val q83Oracle =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
       |      % $packBuckets AS bucket,
       |    len(string_split(lower(text), ' ')) AS n_tokens
       |  FROM documents),
       |w AS (
       |  SELECT doc_id, bucket, n_tokens,
       |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
       |  FROM d)
       |SELECT doc_id, bucket, n_tokens, start_tok,
       |  CAST(start_tok // $packBudget AS BIGINT) AS seq_first,
       |  CAST((start_tok + n_tokens - 1) // $packBudget AS BIGINT) AS seq_last
       |FROM w ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q380
  /** Docs per training batch for the padding report. */
  val batchSize = 32L

  /** Length-bucketed batch planning — the padding-waste report behind
    * dynamic batching (the `group_by_length` switch every trainer
    * exposes): a batch pads every member to its longest sequence, so
    * batching in ARRIVAL order pays max−len per doc, while batching
    * in LENGTH order packs near-equal lengths together and the pad
    * collapses. Both policies priced on the same corpus in exact
    * integers: batch = ⌈rank/B⌉ under the policy's order, padded =
    * n·max per batch, waste_ppm = 10⁶·(padded−tokens) div padded.
    * The measured gap is the report's point — the sf corpus reads
    * ~30% waste unbucketed vs ~2% bucketed.
    *
    * Both rankings run through [[Ranks.withGlobalRank]] (hierarchical
    * two-tier rank — no single-partition WindowExec anywhere; the
    * verdict-flagged global-window trap), then reduce to
    * batch-cardinality frames. Oracle states the plain global
    * windows. */
  def q380LengthBuckets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .select($"doc_id", size(toks($"text")).cast("long").as("n_tokens"))
      .localCheckpoint()
    def policy(name: String, ranked: DataFrame): DataFrame =
      ranked
        .withColumn("batch", expr(s"(rn - 1) div $batchSize"))
        .groupBy($"batch")
        .agg(count(lit(1)).as("n"), max($"n_tokens").as("mx"),
          sum($"n_tokens").as("toks"))
        .agg(count(lit(1)).as("n_batches"),
          sum($"toks").as("total_tokens"),
          sum($"n" * $"mx").as("padded_tokens"))
        .select(lit(name).as("policy"), $"n_batches", $"total_tokens",
          $"padded_tokens",
          expr("(1000000 * (padded_tokens - total_tokens)) div padded_tokens")
            .as("waste_ppm"))
    policy("arrival",
      Ranks.withGlobalRank(docs, $"doc_id", $"doc_id", "rn",
        materialize = false))
      .unionByName(policy("length_sorted",
        Ranks.withGlobalRank(docs, $"n_tokens", $"doc_id", "rn",
          materialize = false)))
      .orderBy($"policy")
  }

  private val q380Oracle =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |ranked AS (
       |  SELECT n_tokens,
       |    row_number() OVER (ORDER BY doc_id) AS rn_a,
       |    row_number() OVER (ORDER BY n_tokens, doc_id) AS rn_l
       |  FROM d),
       |pa AS (
       |  SELECT (rn_a - 1) // $batchSize AS batch, count(*) AS n,
       |    max(n_tokens) AS mx, sum(n_tokens) AS toks
       |  FROM ranked GROUP BY 1),
       |pl AS (
       |  SELECT (rn_l - 1) // $batchSize AS batch, count(*) AS n,
       |    max(n_tokens) AS mx, sum(n_tokens) AS toks
       |  FROM ranked GROUP BY 1),
       |fa AS (
       |  SELECT 'arrival' AS policy, CAST(count(*) AS BIGINT) AS n_batches,
       |    CAST(sum(toks) AS BIGINT) AS total_tokens,
       |    CAST(sum(n * mx) AS BIGINT) AS padded_tokens
       |  FROM pa),
       |fl AS (
       |  SELECT 'length_sorted', CAST(count(*) AS BIGINT),
       |    CAST(sum(toks) AS BIGINT), CAST(sum(n * mx) AS BIGINT)
       |  FROM pl)
       |SELECT policy, n_batches, total_tokens, padded_tokens,
       |  (1000000 * (padded_tokens - total_tokens)) // padded_tokens
       |    AS waste_ppm
       |FROM (SELECT * FROM fa UNION ALL SELECT * FROM fl)
       |ORDER BY policy""".stripMargin

  // ---------------------------------------------------------------- q382
  /** Autocorrelation lags probed for the loop detector. */
  val loopMaxLag = 8
  /** Minimum token overlap for a lag to be judged. */
  val loopMinOverlap = 8
  /** Loop verdict threshold (match share, ppm). */
  val loopTauPpm = 900000L

  /** Crawler-loop / template-repetition detector: per-document token
    * autocorrelation — the share of positions where tok[i] equals
    * tok[i+k], maximized over lags k = 1..8 — catches the
    * period-k repetition loops (navigation rings, paginated template
    * echoes, generation loops) that q107's duplicate-LINE share
    * misses when the repeat never hits a line boundary and q59's
    * verbatim-run rule misses when the period is long. Everything is
    * IN-ARRAY: the token array is built once in the scan projection
    * and each lag is a higher-order-function fold over it — zero
    * joins, zero shuffles before the final ORDER BY, text never
    * leaves the scan (the oracle states the positioned-token
    * self-join form of the same counts). Ties across lags break to
    * the SMALLEST lag (struct-max on (ppm, −lag)); docs shorter than
    * lag+[[loopMinOverlap]] tokens report lag −1 honestly. A
    * period-3 loop document is planted in-query (q57's device) so
    * the verdict branch is oracle-exercised. */
  def q382LoopDetect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = Seq(
      (-1L, Array.fill(30)("walk run jump").mkString(" ")),
      (-2L, "too short to judge"))
      .toDF("doc_id", "text")
    val lagPpm = (1 to loopMaxLag).map { k =>
      s"""IF(n >= ${k + loopMinOverlap},
         |  named_struct(
         |    'ppm', (1000000 * CAST(size(filter(sequence(1, CAST(n - $k AS INT)),
         |      i -> element_at(t, i) = element_at(t, i + $k))) AS BIGINT))
         |      div (n - $k),
         |    'neg_lag', ${-k}L),
         |  named_struct('ppm', -1L, 'neg_lag', 1L))""".stripMargin
    }.mkString("array(", ",\n", ")")
    Tables.documents(s, dir).select($"doc_id", $"text")
      .unionByName(planted)
      .select($"doc_id", toks($"text").as("t"))
      .withColumn("n", size($"t").cast("long"))
      .select($"doc_id", $"n",
        expr(s"array_max($lagPpm)").as("m"))
      .select($"doc_id", $"n".as("n_tokens"),
        (-$"m.neg_lag").as("best_lag"),
        $"m.ppm".as("match_ppm"),
        when($"m.ppm" >= loopTauPpm, 1L).otherwise(0L).as("looping"))
      .orderBy($"doc_id")
  }

  private val q382Oracle = {
    val lagRows = (1 to loopMaxLag)
      .map(k => s"SELECT $k AS k").mkString("\n  UNION ALL ")
    s"""WITH base AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT -1, trim(repeat('walk run jump ', 30))
       |  UNION ALL SELECT -2, 'too short to judge'),
       |d AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS t,
       |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n
       |  FROM base),
       |tok AS (
       |  SELECT doc_id, t, n,
       |    unnest(range(1, CAST(n AS INT) + 1)) AS pos
       |  FROM d),
       |lags AS ($lagRows),
       |m AS (
       |  SELECT p.doc_id, l.k,
       |    (1000000 * CAST(sum(CASE WHEN p.t[pos] = p.t[pos + l.k]
       |      THEN 1 ELSE 0 END) AS BIGINT)) // (p.n - l.k) AS ppm
       |  FROM lags l
       |  JOIN tok p ON p.n >= l.k + $loopMinOverlap AND p.pos <= p.n - l.k
       |  GROUP BY 1, 2, p.n),
       |best AS (
       |  SELECT doc_id, k, ppm,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY ppm DESC, k ASC) AS rn
       |  FROM m)
       |SELECT d.doc_id, d.n AS n_tokens,
       |  CAST(COALESCE(b.k, -1) AS BIGINT) AS best_lag,
       |  CAST(COALESCE(b.ppm, -1) AS BIGINT) AS match_ppm,
       |  CAST(CASE WHEN COALESCE(b.ppm, -1) >= $loopTauPpm THEN 1 ELSE 0 END
       |    AS BIGINT) AS looping
       |FROM d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
       |  ON d.doc_id = b.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q384
  /** RE2-safe markup patterns (no lookaround/backrefs — identical
    * semantics under Java regex and DuckDB's RE2): script/style
    * blocks drop with their CONTENT, other tags drop tag-only. */
  val scriptRe = "<script[^>]*>[^<]*</script>"
  val styleRe = "<style[^>]*>[^<]*</style>"
  val tagRe = "<[^>]*>"
  val anchorTextRe = "<a[^>]*>([^<]*)</a>"
  /** Link-density drop threshold (ppm) and minimum extracted chars. */
  val htmlLinkTauPpm = 500000L
  val htmlMinChars = 40L

  /** Main-content extraction from raw HTML — the boilerplate-removal
    * stage (jusText/trafilatura shape) every web-crawl corpus runs
    * BEFORE the text filters this file already ships: script/style
    * blocks drop with their payload, remaining tags strip to
    * whitespace, runs collapse, and the page is judged on what
    * survives — too little text, or anchor-text dominating it
    * (link_density ≥ ½ = navigation/boilerplate page), drops with a
    * first-fail verdict (q254's attribution discipline). Everything
    * is scan-side regexp projection — zero joins, zero shuffles
    * before the output order; the corpus (markup-free word soup)
    * flows through as the no-markup baseline and three HTML pages
    * are planted in-query (q57's device) so every verdict branch is
    * oracle-exercised byte-for-byte. DuckDB's regexp_replace is
    * single-match by default — the oracle passes the 'g' flag to
    * mirror Spark's replace-all semantics. */
  def q384HtmlExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = Seq(
      (-1L, "<html><head><script>var nav = 1</script>" +
        "<style>p { color: red }</style></head><body>" +
        "<h1>Deep Learning Guide</h1>" +
        "<p>a long and genuinely informative article body with many " +
        "plain words that survives extraction intact</p>" +
        "<a href=/>home</a></body></html>"),
      (-2L, "<body><a href=a>products catalog</a> <a href=b>about the " +
        "team</a> <a href=c>contact sales</a> <a href=d>terms of " +
        "service</a> <a href=e>privacy notice</a> menu</body>"),
      (-3L, "<body><p>stub</p></body>"))
      .toDF("doc_id", "text")
    Tables.documents(s, dir).select($"doc_id", $"text")
      .unionByName(planted)
      .select($"doc_id",
        length($"text").cast("long").as("raw_chars"),
        length(trim(regexp_replace(
          regexp_replace(
            regexp_replace(regexp_replace($"text", scriptRe, " "),
              styleRe, " "),
            tagRe, " "),
          " +", " "))).cast("long").as("text_chars"),
        length(array_join(
          expr(s"regexp_extract_all(text, '$anchorTextRe', 1)"), ""))
          .cast("long").as("link_chars"),
        size(expr(s"regexp_extract_all(text, '$tagRe', 0)")).cast("long")
          .as("n_tags"))
      .select($"doc_id", $"raw_chars", $"text_chars", $"link_chars",
        $"n_tags",
        when($"text_chars" === 0L, lit(1000000L))
          .otherwise(expr("(1000000 * link_chars) div text_chars"))
          .as("link_density_ppm"))
      .withColumn("verdict",
        when($"text_chars" < htmlMinChars, "drop_short")
          .when($"link_density_ppm" >= htmlLinkTauPpm, "drop_link_heavy")
          .otherwise("keep"))
      .orderBy($"doc_id")
  }

  private val q384Oracle = {
    val plant1 = "<html><head><script>var nav = 1</script>" +
      "<style>p { color: red }</style></head><body>" +
      "<h1>Deep Learning Guide</h1>" +
      "<p>a long and genuinely informative article body with many " +
      "plain words that survives extraction intact</p>" +
      "<a href=/>home</a></body></html>"
    val plant2 = "<body><a href=a>products catalog</a> <a href=b>about the " +
      "team</a> <a href=c>contact sales</a> <a href=d>terms of " +
      "service</a> <a href=e>privacy notice</a> menu</body>"
    val plant3 = "<body><p>stub</p></body>"
    s"""WITH base AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT -1, '$plant1'
       |  UNION ALL SELECT -2, '$plant2'
       |  UNION ALL SELECT -3, '$plant3'),
       |m AS (
       |  SELECT doc_id,
       |    CAST(strlen(text) AS BIGINT) AS raw_chars,
       |    CAST(strlen(trim(regexp_replace(
       |      regexp_replace(
       |        regexp_replace(regexp_replace(text, '$scriptRe', ' ', 'g'),
       |          '$styleRe', ' ', 'g'),
       |        '$tagRe', ' ', 'g'),
       |      ' +', ' ', 'g'))) AS BIGINT) AS text_chars,
       |    CAST(strlen(COALESCE(array_to_string(
       |      regexp_extract_all(text, '$anchorTextRe', 1), ''), '')) AS BIGINT)
       |      AS link_chars,
       |    CAST(len(regexp_extract_all(text, '$tagRe', 0)) AS BIGINT)
       |      AS n_tags
       |  FROM base),
       |d AS (
       |  SELECT doc_id, raw_chars, text_chars, link_chars, n_tags,
       |    CASE WHEN text_chars = 0 THEN 1000000
       |         ELSE (1000000 * link_chars) // text_chars END
       |      AS link_density_ppm
       |  FROM m)
       |SELECT doc_id, raw_chars, text_chars, link_chars, n_tags,
       |  link_density_ppm,
       |  CASE WHEN text_chars < $htmlMinChars THEN 'drop_short'
       |       WHEN link_density_ppm >= $htmlLinkTauPpm THEN 'drop_link_heavy'
       |       ELSE 'keep' END AS verdict
       |FROM d ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q54
  /** PII patterns, shared by the query and (via interpolation) the
    * oracle. Restricted to a regex subset with identical semantics
    * under Java regex (Spark) and RE2 (DuckDB): character classes,
    * `+`, bounded repetition — no backrefs or lookaround. */
  val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val phoneRe = "[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"
  val ipv4Re = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  val longNumRe = "[0-9]{7,}"

  /** Staged redaction columns for a text column: masks applied in a
    * FIXED order (email → separated phone → IPv4 → long digit run),
    * each count computed on the text as masked by the previous stages
    * so no span is double-counted (an email's digits can't also trip
    * the number rule, a phone's groups can't read as an IPv4). Shared
    * by q54 (real corpus) and q57 (planted PII). Pure projection —
    * scan speed at any scale. */
  private def redaction(text: Column): Seq[Column] = {
    val t1 = regexp_replace(text, emailRe, "<EMAIL>")
    val t2 = regexp_replace(t1, phoneRe, "<PHONE>")
    val t3 = regexp_replace(t2, ipv4Re, "<IP>")
    Seq(
      regexp_replace(t3, longNumRe, "<NUM>").as("redacted_text"),
      regexp_count(text, lit(emailRe)).cast("long").as("n_emails"),
      regexp_count(t1, lit(phoneRe)).cast("long").as("n_phones"),
      regexp_count(t2, lit(ipv4Re)).cast("long").as("n_ipv4"),
      regexp_count(t3, lit(longNumRe)).cast("long").as("n_longnums"))
  }

  /** The same staged pipeline as DuckDB CTEs over `src(doc_id, t0)`,
    * plus the shared final projection — interpolated into both
    * oracles so query and SQL stay in lockstep. */
  private val redactionCtesSql =
    s"""r1 AS (SELECT doc_id, t0,
       |  regexp_replace(t0, '$emailRe', '<EMAIL>', 'g') AS t1 FROM src),
       |r2 AS (SELECT *, regexp_replace(t1, '$phoneRe', '<PHONE>', 'g') AS t2 FROM r1),
       |r3 AS (SELECT *, regexp_replace(t2, '$ipv4Re', '<IP>', 'g') AS t3 FROM r2)""".stripMargin
  private val redactionSelectSql =
    s"""SELECT doc_id,
       |  regexp_replace(t3, '$longNumRe', '<NUM>', 'g') AS redacted_text,
       |  len(regexp_extract_all(t0, '$emailRe')) AS n_emails,
       |  len(regexp_extract_all(t1, '$phoneRe')) AS n_phones,
       |  len(regexp_extract_all(t2, '$ipv4Re')) AS n_ipv4,
       |  len(regexp_extract_all(t3, '$longNumRe')) AS n_longnums
       |FROM r3 ORDER BY doc_id""".stripMargin

  /** PII redaction — the scrubbing pass a training pipeline runs
    * before text is retained: mask emails, separated phone numbers,
    * IPv4 addresses, and long digit runs (account shapes) with fixed
    * placeholders and count the replacements per document (the counts
    * feed removal-rate monitoring). TextOpsSpec asserts the masking on
    * planted PII; the fixture corpus is clean, so this oracle proves
    * the no-op path byte-identical — q57 proves the replacement path
    * cross-engine. */
  def q54RedactPii(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(($"doc_id" +: redaction($"text")): _*)
      .orderBy($"doc_id")
  }

  private val q54Oracle =
    s"""WITH src AS (SELECT doc_id, text AS t0 FROM documents),
       |$redactionCtesSql
       |$redactionSelectSql""".stripMargin

  // ---------------------------------------------------------------- q57
  /** What q57 appends to every 5th document (identically in Spark and
    * SQL): one of each PII shape, so the replacement branch of every
    * pattern is exercised by the oracle's cross-engine hash compare. */
  val plantedPiiSuffix =
    "@example.com or 555-867-5309 from 10.20.30.40 acct 900310012345"

  /** q54's redaction with PII deterministically PLANTED inside the
    * query itself: the fixture corpus is clean, so q54's oracle only
    * ever proves the no-op path byte-identical — a cross-engine
    * divergence in the REPLACEMENT path (Java regex in Spark, RE2 in
    * DuckDB) would go undetected. Here every 5th doc gets an email,
    * a separated phone, an IPv4, and a long account number appended
    * (same expression in the oracle SQL), so the driver's hash
    * compare verifies actual substitutions on every pattern. */
  def q57RedactPlanted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = when($"doc_id" % 5 === 0,
      concat($"text", lit(" contact user"), $"doc_id".cast("string"),
        lit(plantedPiiSuffix))).otherwise($"text")
    Tables.documents(s, dir)
      .select(($"doc_id" +: redaction(planted)): _*)
      .orderBy($"doc_id")
  }

  private val q57Oracle =
    s"""WITH src AS (
       |  SELECT doc_id, CASE WHEN doc_id % 5 = 0
       |    THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '$plantedPiiSuffix'
       |    ELSE text END AS t0
       |  FROM documents),
       |$redactionCtesSql
       |$redactionSelectSql""".stripMargin

  // ---------------------------------------------------------------- q59
  /** Intra-document repetition stats — the "repetitious text" quality
    * rule (high duplicate-n-gram share marks template spam, keyboard
    * mash, decoding loops): per doc, total positional 3-grams,
    * distinct 3-grams, the hottest 3-gram's count, and
    * repetition_ratio = 1 − distinct/total. Unlike q55 this is
    * WITHIN-doc: a doc repeating its own phrase scores high even if
    * no other doc shares it.
    *
    * Plan shape mirrors q73's tf pipeline: explode → two hash
    * aggregates with map-side partial combine; the per-(doc, gram)
    * counts are the only shuffled payload. */
  def q59Repetition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tri = Tables.documentsSpread(s, dir)
      .select($"doc_id", explode(DedupOps.spansN($"text", 3)).as("g"))
      .groupBy($"doc_id", $"g").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_3grams"),
        count(lit(1)).as("n_distinct_3grams"),
        max($"c").as("max_3gram_count"))
    Tables.documents(s, dir).select($"doc_id")
      .join(tri, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_3grams", lit(0L)).as("n_3grams"),
        coalesce($"n_distinct_3grams", lit(0L)).as("n_distinct_3grams"),
        coalesce($"max_3gram_count", lit(0L)).as("max_3gram_count"),
        when(coalesce($"n_3grams", lit(0L)) === 0, 0.0)
          .otherwise(lit(1.0) - $"n_distinct_3grams".cast("double") / $"n_3grams")
          .as("repetition_ratio"))
      .orderBy($"doc_id")
  }

  private val q59Oracle =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(lower(text), ' ') toks FROM documents),
       |g AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
       |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
       |  FROM t),
       |c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
       |d AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_3grams,
       |    count(*) AS n_distinct_3grams, CAST(max(c) AS BIGINT) AS mx
       |  FROM c GROUP BY 1)
       |SELECT documents.doc_id AS doc_id,
       |  coalesce(n_3grams, 0) AS n_3grams,
       |  coalesce(n_distinct_3grams, 0) AS n_distinct_3grams,
       |  coalesce(mx, 0) AS max_3gram_count,
       |  CASE WHEN coalesce(n_3grams, 0) = 0 THEN 0.0
       |       ELSE 1.0 - CAST(n_distinct_3grams AS DOUBLE) / n_3grams
       |  END AS repetition_ratio
       |FROM documents LEFT JOIN d ON documents.doc_id = d.doc_id
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q84
  /** URL pattern (RE2/Java-identical subset) and the deterministic
    * in-query planting shared by q84/q85: the synthetic corpus has no
    * URLs, so every 4th doc gets two planted ones (a per-doc-varying
    * domain plus a fixed mirror host) in BOTH engines — the oracle
    * then verifies real extraction, not just the no-op path (same
    * device as q57's planted PII). */
  val urlRe = "https?://[a-zA-Z0-9.-]+(/[a-zA-Z0-9./_-]*)?"
  private val domainRe = "https?://([^/]+)"

  private def plantedUrls(docId: Column, text: Column): Column =
    when(docId % 4 === 0,
      concat(text, lit(" see https://site"), (docId % 7).cast("string"),
        lit(".example.org/page"), docId.cast("string"),
        lit(" and http://mirror.example.net/x"))).otherwise(text)

  // single line: interpolating a multi-line block whose continuation
  // lines start with || into another stripMargin string would strip
  // one pipe of the concat operator
  private val plantedUrlsSql =
    "CASE WHEN doc_id % 4 = 0 THEN text || ' see https://site' || " +
      "CAST(doc_id % 7 AS VARCHAR) || '.example.org/page' || " +
      "CAST(doc_id AS VARCHAR) || ' and http://mirror.example.net/x' " +
      "ELSE text END"

  /** Per-domain URL statistics — the first step of web-corpus
    * curation (domain blocklists, per-domain mixture monitoring):
    * extract every URL, roll up (n_urls, n_docs) per domain. Explode
    * + hash aggregate with map-side combine; only (domain, doc_id)
    * pairs shuffle. */
  def q84UrlDomains(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id",
        explode(regexp_extract_all(plantedUrls($"doc_id", $"text"),
          lit(urlRe), lit(0))).as("url"))
      .select($"doc_id", regexp_extract($"url", domainRe, 1).as("domain"))
      .groupBy($"domain")
      .agg(count(lit(1)).as("n_urls"), countDistinct($"doc_id").as("n_docs"))
      .orderBy($"domain")
  }

  private val q84Oracle =
    s"""WITH p AS (SELECT doc_id, $plantedUrlsSql AS t0 FROM documents),
       |u AS (SELECT doc_id, unnest(regexp_extract_all(t0, '$urlRe')) AS url FROM p),
       |d AS (SELECT doc_id, regexp_extract(url, '$domainRe', 1) AS domain FROM u)
       |SELECT domain, count(*) AS n_urls, count(DISTINCT doc_id) AS n_docs
       |FROM d GROUP BY 1 ORDER BY domain""".stripMargin

  // ---------------------------------------------------------------- q85
  /** Docs kept per domain. */
  val domainCap = 3

  /** Per-domain capping — the RefinedWeb/C4-style retention rule that
    * stops one prolific host from dominating the mixture: within each
    * primary domain (the doc's first URL) keep the [[domainCap]]
    * highest-quality docs (ties → smaller doc_id); docs with no URL
    * bypass the rule entirely. Plan shape mirrors q74's keeper
    * selection: ONLY the domained working set goes through the
    * per-domain window; the URL-less majority takes the anti-join
    * branch and never shuffles on a domain key (at web scale the
    * domained set is the whole corpus but the window partitions are
    * per-domain — bounded — while here the bypass keeps the synthetic
    * corpus scan-shaped). */
  def q85DomainCap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val domained = Tables.documents(s, dir)
      .select($"doc_id",
        // try_element_at: ANSI mode makes element_at throw on the
        // empty array a URL-less doc produces; NULL is the semantics
        try_element_at(regexp_extract_all(plantedUrls($"doc_id", $"text"),
          lit(urlRe), lit(0)), lit(1)).as("url"))
      .where($"url".isNotNull)
      .select($"doc_id", regexp_extract($"url", domainRe, 1).as("domain"))
    val quality = qualityScores(s, dir)
    val w = Window.partitionBy($"domain")
      .orderBy($"quality_score".desc, $"doc_id".asc)
    val ranked = domained.join(quality, "doc_id")
      .withColumn("rn", row_number().over(w).cast("long"))
      .select($"doc_id", $"domain", $"quality_score", $"rn",
        ($"rn" <= domainCap).as("keep"))
    val rest = quality
      .join(domained.select($"doc_id"), Seq("doc_id"), "left_anti")
      .select($"doc_id", lit(null).cast("string").as("domain"),
        $"quality_score", lit(0L).as("rn"), lit(true).as("keep"))
    ranked.union(rest).orderBy($"doc_id")
  }

  private val q85Oracle =
    s"""WITH p AS (SELECT doc_id, $plantedUrlsSql AS t0 FROM documents),
       |u AS (
       |  SELECT doc_id, list_extract(regexp_extract_all(t0, '$urlRe'), 1) AS url
       |  FROM p),
       |d AS (
       |  SELECT doc_id, regexp_extract(url, '$domainRe', 1) AS domain
       |  FROM u WHERE url IS NOT NULL),
       |q AS (
       |  $qualityScoresSql),
       |r AS (
       |  SELECT d.doc_id AS doc_id, domain, quality_score,
       |    row_number() OVER (PARTITION BY domain
       |                       ORDER BY quality_score DESC, d.doc_id ASC) AS rn
       |  FROM d JOIN q ON d.doc_id = q.doc_id)
       |SELECT doc_id, domain, quality_score, rn, rn <= $domainCap AS keep FROM r
       |UNION ALL
       |SELECT q.doc_id, CAST(NULL AS VARCHAR), quality_score,
       |  CAST(0 AS BIGINT), true
       |FROM q WHERE q.doc_id NOT IN (SELECT doc_id FROM d)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q63
  /** Content fingerprint: md5 over canonicalized text (lower +
    * whitespace collapse) — the exact-dedup key at scale. */
  def q63Fingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id",
        md5(regexp_replace(TextExprs.lower($"text"), " +", " ")).as("fingerprint"),
        length($"text").cast("long").as("n_chars_actual"))
      .orderBy($"doc_id")
  }

  private val q63Oracle =
    """SELECT doc_id,
      |  md5(regexp_replace(lower(text), ' +', ' ', 'g')) AS fingerprint,
      |  length(text) AS n_chars_actual
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q72
  /** Token counting two ways: whitespace split vs a BPE-ish lexer
    * regex (letter runs | digit runs | single punctuation) — the
    * cheap proxy for "how many subword tokens will this cost". */
  val bpeishPattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  // ---------------------------------------------------------------- q497
  /** [NS] DISTINCT-n GENERATION-DIVERSITY audit (Li et al. 2016's
    * distinct-1/distinct-2 — Self-BLEU's scan-shaped cousin): per
    * source, corpus-level distinct-unigram and distinct-bigram
    * ratios in exact integer ppm. The MODE-COLLAPSE detector every
    * synthetic-data pipeline runs before training on model
    * generations: a looping generator emits few distinct bigrams per
    * token, and the per-source ratio surfaces it without reading any
    * model. One corpus scan; the distinct shuffle moves (source,
    * gram) pairs bounded by per-source VOCABULARY (Heaps' law), not
    * corpus tokens. Exact distinct counting here because the oracle
    * demands bit-equality; the disclosed 100-TB path swaps
    * `countDistinct` for `approx_count_distinct` (one line — the
    * ratio tolerates the sketch error the way q40 does). */
  def q497DistinctN(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .select($"source", split($"text", " ").as("ts"))
    val uni = toks.select($"source", explode($"ts").as("g"))
      .groupBy($"source")
      .agg(count(lit(1)).as("total_unigrams"),
        countDistinct($"g").as("distinct_unigrams"))
    val bi = toks.where(size($"ts") >= 2)
      .select($"source", explode(expr(
        "transform(sequence(0, size(ts) - 2), " +
          "i -> concat(ts[i], ' ', ts[i + 1]))")).as("g"))
      .groupBy($"source")
      .agg(count(lit(1)).as("total_bigrams"),
        countDistinct($"g").as("distinct_bigrams"))
    uni.join(bi, Seq("source"), "left")
      .select($"source",
        $"total_unigrams".cast("long").as("total_unigrams"),
        $"distinct_unigrams".cast("long").as("distinct_unigrams"),
        expr("distinct_unigrams * 1000000 div total_unigrams")
          .as("uni_ppm"),
        coalesce($"total_bigrams", lit(0L)).cast("long")
          .as("total_bigrams"),
        coalesce($"distinct_bigrams", lit(0L)).cast("long")
          .as("distinct_bigrams"),
        expr("coalesce(distinct_bigrams, 0L) * 1000000 div " +
          "greatest(1L, coalesce(total_bigrams, 0L))").as("bi_ppm"))
      .orderBy($"source")
  }

  private val q497Oracle =
    """WITH toks AS (
      |  SELECT source, string_split(text, ' ') AS ts FROM documents),
      |uni AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS total_unigrams,
      |    CAST(count(DISTINCT g) AS BIGINT) AS distinct_unigrams
      |  FROM (SELECT source, unnest(ts) AS g FROM toks) GROUP BY source),
      |bi AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS total_bigrams,
      |    CAST(count(DISTINCT g) AS BIGINT) AS distinct_bigrams
      |  FROM (
      |    SELECT source, ts[i] || ' ' || ts[i + 1] AS g
      |    FROM (SELECT source, ts,
      |            unnest(generate_series(1, len(ts) - 1)) AS i
      |          FROM toks WHERE len(ts) >= 2))
      |  GROUP BY source)
      |SELECT u.source, total_unigrams, distinct_unigrams,
      |  CAST(distinct_unigrams * 1000000 // total_unigrams AS BIGINT)
      |    AS uni_ppm,
      |  CAST(coalesce(total_bigrams, 0) AS BIGINT) AS total_bigrams,
      |  CAST(coalesce(distinct_bigrams, 0) AS BIGINT) AS distinct_bigrams,
      |  CAST(coalesce(distinct_bigrams, 0) * 1000000 //
      |    greatest(1, coalesce(total_bigrams, 0)) AS BIGINT) AS bi_ppm
      |FROM uni u LEFT JOIN bi USING (source) ORDER BY source""".stripMargin

  def q72TokenCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id",
        size(split($"text", " ")).cast("long").as("n_ws_tokens"),
        size(regexp_extract_all(TextExprs.lower($"text"), lit(bpeishPattern), lit(0)))
          .cast("long").as("n_bpe_tokens"),
        (size(regexp_extract_all(TextExprs.lower($"text"), lit(bpeishPattern), lit(0))).cast("double") /
          size(split($"text", " "))).as("bpe_per_word"))
      .orderBy($"doc_id")
  }

  private val q72Oracle =
    s"""SELECT doc_id,
       |  len(string_split(text, ' ')) AS n_ws_tokens,
       |  len(regexp_extract_all(lower(text), '$bpeishPattern')) AS n_bpe_tokens,
       |  CAST(len(regexp_extract_all(lower(text), '$bpeishPattern')) AS DOUBLE)
       |    / len(string_split(text, ' ')) AS bpe_per_word
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q77
  /** Rolling (Rabin-Karp) content fingerprint: polynomial hash
    * `h = Σ c·31^i mod 1e9+7` over the printable-ascii character
    * stream — an order-sensitive complement to q63's md5-of-canon
    * (detects reordering that bag-of-words hashing misses). */
  val rollMod = 1000000007L

  def q77RollingFingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val asciiOnly = regexp_replace($"text", "[^\\x20-\\x7e]", "")
    Tables.documents(s, dir)
      .select($"doc_id", asciiOnly.as("a"))
      .select($"doc_id",
        when(length($"a") === 0, 0L).otherwise(
          aggregate(split($"a", ""), lit(0L),
            (acc, c) => (acc * 31 + ascii(c)) % rollMod)).as("roll_hash"),
        length($"a").cast("long").as("n_ascii_chars"))
      .orderBy($"doc_id")
  }

  private val q77Oracle =
    s"""WITH t AS (
       |  SELECT doc_id, regexp_replace(text, '[^\\x20-\\x7e]', '', 'g') AS a
       |  FROM documents)
       |SELECT doc_id,
       |  CASE WHEN strlen(a) = 0 THEN 0 ELSE
       |    list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(range(1, strlen(a) + 1),
       |          i -> CAST(ascii(substr(a, CAST(i AS INT), 1)) AS BIGINT))),
       |      (acc, c) -> (acc * 31 + c) % $rollMod)
       |  END AS roll_hash,
       |  strlen(a) AS n_ascii_chars
       |FROM t ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q73
  /** TF-IDF keywords: top-3 terms per document. Term frequencies
    * reduce via a codegen'd hash aggregate (map-side combine on
    * (doc, term)); document frequency is `count(*) over (partition by
    * term)` on the SAME tf rows — the tokenize+aggregate pipeline
    * runs exactly once (no second pipeline to build a broadcast from,
    * no recompute). The corpus size joins in as a broadcast 1-row
    * aggregate, so the whole query is one lazy plan with zero
    * driver-side actions — at 100 TB there is no extra full-table
    * scan just to learn `n_docs`.
    * Ranking uses the INTEGER key (tf desc, df asc, term asc) — the
    * float score is display-only, so a last-ulp ln() divergence
    * between engines can never reorder results. */
  def q73TfIdf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documentsSpread(s, dir)
    val tf = docs
      .select($"doc_id", explode(toks($"text")).as("term"))
      .where(!$"term".isin(stopwords: _*) && length($"term") > 1)
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val withDf = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy($"term")))
    val w = Window.partitionBy($"doc_id")
      .orderBy($"tf".desc, $"df".asc, $"term".asc)
    val n = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    withDf
      .withColumn("rnk", row_number().over(w))
      .where($"rnk" <= 3)
      .crossJoin(broadcast(n))
      .select($"doc_id", $"rnk".cast("long").as("rnk"), $"term", $"tf", $"df",
        round($"tf" * log($"n_docs".cast("double") / $"df"), 4).as("tfidf"))
      .orderBy($"doc_id", $"rnk")
  }

  private def q73Oracle =
    s"""WITH tf AS (
       |  SELECT doc_id, t AS term, count(*) AS tf FROM (
       |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
       |    FROM documents)
       |  WHERE t NOT IN (${stopwords.map(w => s"'$w'").mkString(",")})
       |    AND length(t) > 1
       |  GROUP BY 1, 2),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |r AS (
       |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
       |    row_number() OVER (PARTITION BY tf.doc_id
       |                       ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rnk
       |  FROM tf JOIN df USING (term))
       |SELECT doc_id, rnk, term, tf, df,
       |  round(tf * ln((SELECT n_docs FROM n) * 1.0 / df), 4) AS tfidf
       |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin

  // ---------------------------------------------------------------- q78
  /** Inverted index: sorted posting list per term (df ≥ 2, stopwords
    * and single chars dropped). (doc, term) pairs dedupe first, then
    * one aggregation builds the postings — at 100 TB the posting
    * arrays are the only shuffled payload and partial aggregation
    * combines map-side. */
  def q78InvertedIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documentsSpread(s, dir)
      .select($"doc_id", explode(toks($"text")).as("term"))
      .where(!$"term".isin(stopwords: _*) && length($"term") > 1)
      .distinct()
      .repartition(s.sparkContext.defaultParallelism, $"term")
      .groupBy($"term")
      // postings serialized to CSV text (sorted numerically first):
      // a scalar surface hashes identically across engines, where a
      // raw array column cannot be compared by the oracle harness.
      .agg(array_join(transform(sort_array(collect_list($"doc_id")),
          _.cast("string")), ",").as("postings"),
        count(lit(1)).as("df"))
      .where($"df" >= 2)
      .orderBy($"term")
  }

  private val q78Oracle =
    s"""WITH p AS (
       |  SELECT DISTINCT doc_id, t AS term FROM (
       |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
       |    FROM documents)
       |  WHERE t NOT IN (${stopwords.map(w => s"'$w'").mkString(",")})
       |    AND length(t) > 1)
       |SELECT term,
       |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings,
       |  count(*) AS df
       |FROM p GROUP BY term HAVING count(*) >= 2 ORDER BY term""".stripMargin

  // ---------------------------------------------------------------- q88
  /** Per-language quality-percentile trim — "keep the top 75% of each
    * language by quality" is the standard mixture-preserving corpus
    * cut (a single global threshold would gut low-resource languages
    * whose score distribution sits lower). Two aggregations, no
    * per-language window: the cutoff dim is #langs rows, broadcast
    * back onto the corpus, so the corpus itself never shuffles and
    * never sorts — the per-lang `percent_rank` window formulation
    * would funnel each language through ONE task, which is exactly
    * the shape that dies on a 40-language 100-TB corpus.
    *
    * `percentile` is the exact interpolated quantile and hash-matches
    * DuckDB's `quantile_cont` (q43 proves this cross-engine); its
    * buffer holds each language's score list, fine at test scale —
    * at 100 TB swap in `percentile_approx` (same plan, bounded
    * sketch memory; q43 pins the error envelope). Ties at the cutoff
    * are kept on both engines (`>=` on bit-identical doubles). */
  val trimQuantile = 0.25

  def q88QualityTrim(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = qualityScores(s, dir)
    val cutoffs = scored.groupBy($"lang")
      .agg(expr(s"percentile(quality_score, $trimQuantile)").as("cutoff"))
    scored.join(broadcast(cutoffs), "lang")
      .where($"quality_score" >= $"cutoff")
      .select($"doc_id", $"lang")
      .orderBy($"doc_id")
  }

  private val q88Oracle =
    s"""WITH s AS ($qualityScoresSql),
       |c AS (SELECT lang, quantile_cont(quality_score, $trimQuantile) AS cutoff
       |      FROM s GROUP BY lang)
       |SELECT s.doc_id, s.lang FROM s JOIN c ON s.lang = c.lang
       |WHERE quality_score >= cutoff ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q91
  /** Deterministic train/val/test split — every doc labeled by a pure
    * hash of its id (q49's md5-bucket trick with a distinct salt, so
    * the split is independent of the sampling decision). No RNG
    * stream: the assignment is reproducible across retries,
    * repartitioning, and engines, and disjoint+exhaustive by
    * construction (one bucket, three half-open ranges). Pure
    * projection — evaluates at the scan, zero shuffle before the
    * oracle ORDER BY. */
  val splitPcts: (Int, Int) = (80, 10) // train 80, val 10, test 10

  def q91TrainValTest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (tr, va) = splitPcts
    val bucket = conv(substring(md5(concat(lit("split:"), $"doc_id".cast("string"))),
      1, 4), 16, 10).cast("long") % 100
    Tables.documents(s, dir)
      .withColumn("bucket", bucket)
      .select($"doc_id", $"lang", $"bucket",
        when($"bucket" < tr, "train")
          .when($"bucket" < tr + va, "val")
          .otherwise("test").as("split"))
      .orderBy($"doc_id")
  }

  private val q91Oracle = {
    val (tr, va) = splitPcts
    s"""SELECT doc_id, lang, bucket,
       |  CASE WHEN bucket < $tr THEN 'train'
       |       WHEN bucket < ${tr + va} THEN 'val'
       |       ELSE 'test' END AS split
       |FROM (
       |  SELECT doc_id, lang,
       |    ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 AS bucket
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q92
  /** Per-language trigram counts with a frequency floor — the n-gram
    * LM corpus statistic behind contamination scoring, perplexity
    * filters, and boilerplate detection. Explode fans each doc out to
    * n_tokens-2 trigram rows (token text shuffles once, as short
    * grams); the count aggregate runs partial map-side, so the
    * exchange carries only (lang, gram, partial_n). The HAVING floor
    * keeps the result (and at 100 TB, the LM table) bounded to grams
    * seen at least [[trigramMinCount]] times. documentsSpread gives
    * the explode full-core parallelism on the single-row-group
    * fixture (real many-file inputs get it from the scan). */
  val trigramMinCount = 3L

  /** (lang, trigram) rows for any (lang, text) frame. The start-index
    * range is guarded with CASE, not greatest(): `sequence(0, -1)`
    * COUNTS DOWN in Spark ([0, -1]), so a sub-3-token doc would emit
    * phantom partial grams (concat_ws silently drops the null
    * lookups) — the guard makes short docs contribute nothing, like
    * the oracle's `range(0, greatest(n-2, 0))` (empty when n < 3). */
  private[ops] def trigramsOf(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    df.withColumn("toks", toks($"text"))
      .select($"lang", explode(expr(
        "transform(CASE WHEN size(toks) >= 3 THEN sequence(0, size(toks) - 3) ELSE array() END, " +
          "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))")).as("trigram"))
  }

  def q92TrigramCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    trigramsOf(Tables.documentsSpread(s, dir).select($"lang", $"text"))
      .groupBy($"lang", $"trigram")
      .agg(count(lit(1)).as("n"))
      .where($"n" >= trigramMinCount)
      .orderBy($"lang", $"trigram")
  }

  private val q92Oracle =
    s"""WITH t AS (
       |  SELECT lang, string_split(lower(text), ' ') AS toks FROM documents),
       |g AS (
       |  SELECT lang, toks, unnest(range(0, greatest(len(toks) - 2, 0))) AS i
       |  FROM t),
       |tg AS (
       |  SELECT lang, toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] AS trigram
       |  FROM g)
       |SELECT lang, trigram, count(*) AS n
       |FROM tg GROUP BY lang, trigram
       |HAVING count(*) >= $trigramMinCount
       |ORDER BY lang, trigram""".stripMargin

  // ---------------------------------------------------------------- q96
  /** Domain blocklist — drop every document that cites a blocked
    * host (licensing, spam, PII-heavy domains): the membership test
    * every web-corpus pipeline applies right after q84's extraction.
    * The blocklist is a LITERAL `isin` on the exploded (doc_id,
    * domain) pairs — no join to find offenders — and offending doc
    * ids come back as one LEFT ANTI join on doc_id. Only (doc_id)
    * keys shuffle; document text never does. A real pipeline reads
    * the blocklist as a (small) table — same plan with a broadcast
    * anti-join. Reuses q84's planted URLs so the oracle exercises
    * real drops: docs citing a blocked domain exist at every sf. */
  val blockedDomains: Seq[String] =
    Seq("site1.example.org", "site4.example.org")

  def q96DomainBlocklist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .select($"doc_id", $"lang", plantedUrls($"doc_id", $"text").as("t0"))
    val blockedIds = docs
      .select($"doc_id",
        explode(regexp_extract_all($"t0", lit(urlRe), lit(0))).as("url"))
      .select($"doc_id", regexp_extract($"url", domainRe, 1).as("domain"))
      .where($"domain".isin(blockedDomains: _*))
      .select($"doc_id").distinct()
    docs.join(blockedIds, Seq("doc_id"), "left_anti")
      .select($"doc_id", $"lang")
      .orderBy($"doc_id")
  }

  private val q96Oracle =
    s"""WITH p AS (SELECT doc_id, lang, $plantedUrlsSql AS t0 FROM documents),
       |u AS (SELECT doc_id, unnest(regexp_extract_all(t0, '$urlRe')) AS url FROM p),
       |b AS (SELECT DISTINCT doc_id FROM u
       |      WHERE regexp_extract(url, '$domainRe', 1)
       |        IN (${blockedDomains.map(d => s"'$d'").mkString(",")}))
       |SELECT doc_id, lang FROM p
       |WHERE doc_id NOT IN (SELECT doc_id FROM b)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q105
  /** Vocabulary build + token-id encoding — the tokenization step
    * between counting (q72) and packing (q83): rank the corpus's
    * tokens by frequency (ties → lexicographic, so the vocab is
    * deterministic), keep the top [[vocabSize]] as ids 1..V, and
    * re-encode every document as its id sequence with 0 for
    * out-of-vocab. Plan shape: one token count agg, then the top-V
    * candidates are cut by TakeOrderedAndProject (per-partition
    * partial top-k — the single-partition ranking window only ever
    * sees V rows, never the full distinct-token set, so a web-scale
    * 10M-token vocabulary costs no global sort); the vocab then
    * BROADCASTS onto the positioned tokens and each doc reassembles
    * with one array_sort(collect_list) — corpus text shuffles once,
    * as (doc_id, pos, tok) triples. */
  val vocabSize = 16

  def q105VocabEncode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val positioned = Tables.documentsSpread(s, dir)
      .select($"doc_id", posexplode(toks($"text")))
      .select($"doc_id", $"pos", $"col".as("tok"))
    val vocab = positioned.groupBy($"tok")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"tok".asc).limit(vocabSize)
      .withColumn("id",
        row_number().over(Window.orderBy($"n".desc, $"tok".asc)).cast("long"))
      .select($"tok", $"id")
    positioned.join(broadcast(vocab), Seq("tok"), "left")
      .select($"doc_id", $"pos", coalesce($"id", lit(0L)).as("id"))
      .groupBy($"doc_id")
      .agg(expr("transform(array_sort(collect_list(struct(pos, id))), x -> x.id)")
        .as("ids"))
      .select($"doc_id",
        // CSV-serialized id sequence: the driver's comparator hashes
        // scalar cells, not arrays; ids is never empty (split of any
        // text yields ≥1 token), so the Spark-""-vs-DuckDB-NULL
        // empty-array divergence can't occur.
        expr("array_join(transform(ids, i -> CAST(i AS STRING)), ',')")
          .as("ids"),
        size($"ids").cast("long").as("n_tokens"),
        size(expr("filter(ids, i -> i = 0)")).cast("long").as("n_oov"))
      .orderBy($"doc_id")
  }

  private val q105Oracle =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
       |p AS (
       |  SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS pos FROM t),
       |tok AS (SELECT doc_id, pos, toks[pos] AS tok FROM p),
       |v AS (
       |  SELECT tok, id FROM (
       |    SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok ASC) AS id
       |    FROM tok GROUP BY tok)
       |  WHERE id <= $vocabSize),
       |enc AS (
       |  SELECT doc_id, pos, COALESCE(id, 0) AS id
       |  FROM tok LEFT JOIN v ON tok.tok = v.tok)
       |SELECT doc_id, array_to_string(list(id ORDER BY pos), ',') AS ids,
       |  CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(count(*) FILTER (id = 0) AS BIGINT) AS n_oov
       |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q107
  /** Gopher-style composition rules (Rae et al. 2021's public
    * quality-filter family, complementing q59's repetition and q62's
    * lexical score): per-doc word-shape stats (word count, mean word
    * length) plus line-structure stats (bullet-line share,
    * duplicate-line share) and the combined pass/fail verdict. The
    * corpus is single-line, so line structure is planted in-query on
    * every 3rd doc (same device as q57's PII / q84's URLs) — planted
    * docs gain 4 footer lines (2 bullets, 1 repeated pair) and FAIL
    * the duplicate-line rule, so the oracle exercises both verdicts,
    * not just the no-op path. Word stats run on the real text.
    *
    * Pure per-row projection — no shuffle, no window, whole-stage
    * codegen end to end; at 100 TB this is the cheap first-pass gate
    * run before any pairwise dedup. */
  private val plantedFooterLines =
    Seq("- planted bullet", "- planted bullet", "repeated footer", "repeated footer")
  private val footerLit = plantedFooterLines.map("\n" + _).mkString
  private val footerSql = plantedFooterLines.map(l => s"chr(10)||'$l'").mkString("||")

  def q107GopherRules(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documentsSpread(s, dir)
      .withColumn("lines", split(
        when($"doc_id" % 3 === 0, concat($"text", lit(footerLit)))
          .otherwise($"text"), "\n"))
      .withColumn("n_words", size(toks($"text")).cast("long"))
      .withColumn("mean_word_len",
        (length($"text") - $"n_words" + 1).cast("double") / $"n_words")
      .withColumn("n_lines", size($"lines").cast("long"))
      .withColumn("frac_bullet_lines",
        size(filter($"lines", l => l.startsWith("- "))).cast("double") / $"n_lines")
      .withColumn("frac_dup_lines",
        lit(1.0) - size(array_distinct($"lines")).cast("double") / $"n_lines")
      .select($"doc_id", $"n_words", $"mean_word_len", $"n_lines",
        $"frac_bullet_lines", $"frac_dup_lines",
        ($"n_words" >= 50 && $"mean_word_len" >= 3.0 && $"mean_word_len" <= 10.0 &&
          $"frac_bullet_lines" <= 0.9 && $"frac_dup_lines" < 0.3)
          .as("passes_gopher"))
      .orderBy($"doc_id")
  }

  private val q107Oracle =
    s"""WITH t AS (
       |  SELECT doc_id, text,
       |    string_split(CASE WHEN doc_id % 3 = 0 THEN text || $footerSql
       |                      ELSE text END, chr(10)) AS lines,
       |    len(string_split(text, ' ')) AS nw
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(nw AS BIGINT) AS n_words,
       |  CAST(length(text) - nw + 1 AS DOUBLE) / nw AS mean_word_len,
       |  CAST(len(lines) AS BIGINT) AS n_lines,
       |  CAST(len(list_filter(lines, x -> starts_with(x, '- '))) AS DOUBLE)
       |    / len(lines) AS frac_bullet_lines,
       |  1.0 - CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines)
       |    AS frac_dup_lines,
       |  (nw >= 50 AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
       |    AND frac_bullet_lines <= 0.9 AND frac_dup_lines < 0.3)
       |    AS passes_gopher
       |FROM t ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q109
  /** PMI collocation mining — the classic phrase detector (Church &
    * Hanks 1990; word2vec's phrase pass uses the same score): for
    * every adjacent token pair, pmi = ln(P(xy) / (P(x)·P(y))) from
    * exact corpus counts, min support 5, top 100 by score. Plan
    * shape: one bigram hash-agg (map-side partial, the only
    * corpus-sized shuffle), unigram counts are VOCAB-sized so both
    * probability joins broadcast, corpus totals ride along as a
    * broadcast scalar, and the top-100 is TakeOrdered — no global
    * sort. ln() is rounded to 4 decimals (q73's device) so a
    * last-ulp libm divergence can't flip the oracle hash. */
  def q109PmiCollocations(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documentsSpread(s, dir)
    val uni = docs.select(explode(toks($"text")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("c"))
    val totals = uni.agg(sum($"c").cast("double").as("n"))
    val bi = docs.select(explode(DedupOps.spansN($"text", 2)).as("g"))
      .groupBy($"g").agg(count(lit(1)).as("c_pair"))
      .withColumn("w1", split($"g", " ").getItem(0))
      .withColumn("w2", split($"g", " ").getItem(1))
    val btotal = bi.agg(sum($"c_pair").cast("double").as("b"))
    bi.where($"c_pair" >= 5)
      .join(broadcast(uni.select($"w".as("w1"), $"c".as("c1"))), Seq("w1"))
      .join(broadcast(uni.select($"w".as("w2"), $"c".as("c2"))), Seq("w2"))
      .crossJoin(broadcast(totals)).crossJoin(broadcast(btotal))
      .select($"w1", $"w2", $"c_pair",
        expr("round(ln((CAST(c_pair AS DOUBLE) * n * n) / (b * c1 * c2)), 4)")
          .as("pmi"))
      .orderBy($"pmi".desc, $"w1", $"w2")
      .limit(100)
  }

  private val q109Oracle =
    """WITH t AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      |uc AS (
      |  SELECT w, count(*) AS c FROM (SELECT unnest(toks) AS w FROM t)
      |  GROUP BY w),
      |n AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM uc),
      |bc AS (
      |  SELECT bg['w1'] AS w1, bg['w2'] AS w2, count(*) AS c_pair FROM (
      |    SELECT unnest(list_transform(range(1, len(toks)),
      |      i -> {'w1': toks[i], 'w2': toks[i+1]})) AS bg
      |    FROM t)
      |  GROUP BY 1, 2),
      |b AS (SELECT CAST(sum(c_pair) AS DOUBLE) AS b FROM bc)
      |SELECT w1, w2, c_pair,
      |  round(ln((CAST(c_pair AS DOUBLE) * n * n) / (b * u1.c * u2.c)), 4) AS pmi
      |FROM bc, n, b, uc u1, uc u2
      |WHERE c_pair >= 5 AND bc.w1 = u1.w AND bc.w2 = u2.w
      |ORDER BY pmi DESC, w1, w2 LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- q110
  /** Weighted sampling without replacement (Efraimidis & Spirakis
    * 2006) — "sample k docs proportional to length/quality", the
    * mixture-construction primitive q49's uniform sampler can't
    * express. Each doc draws u ~ U(0,1] from a salted md5 of its id
    * and scores key = ln(u)/weight; the k LARGEST keys are exactly a
    * weight-proportional sample without replacement. Deterministic:
    * same ids → same sample on any cluster size or partitioning, so
    * the DuckDB oracle reproduces the draw bit-for-bit (md5 → same
    * 32-bit u → same double math). Plan: pure projection +
    * TakeOrderedAndProject(k) — partial top-k per partition, no
    * global sort, no shuffle beyond k rows/partition. Keys are
    * rounded to 6 decimals WITH a doc_id tiebreak so a last-ulp ln()
    * divergence can't reorder the cut (q73's device). */
  val q110K = 200

  def q110WeightedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("h", expr(
        "CAST(conv(substring(md5(concat('q110:', CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT)"))
      .withColumn("es_key", expr(
        "round(ln((CAST(h AS DOUBLE) + 1) / 4294967296.0) / n_chars, 6)"))
      .select($"doc_id", $"source", $"n_chars", $"es_key")
      .orderBy($"es_key".desc, $"doc_id")
      .limit(q110K)
  }

  private val q110Oracle =
    s"""SELECT doc_id, source, n_chars,
       |  round(ln((CAST(('0x' || substr(md5('q110:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS DOUBLE) + 1)
       |    / 4294967296.0) / n_chars, 6) AS es_key
       |FROM documents
       |ORDER BY es_key DESC, doc_id LIMIT $q110K""".stripMargin

  // ---------------------------------------------------------------- q111
  /** Cross-source quantile normalization — calibrate every source's
    * length distribution onto the reference source's: each doc gets
    * its percentile WITHIN its source (integer grid 0..100, computed
    * with pure integer math so both engines agree exactly), and the
    * calibrated value is the reference source's interpolated
    * quantile at that grid point. The reference's quantile vector is
    * ONE aggregate row (101 doubles) — broadcast — so the mapping
    * join is free; the per-source ranking shuffles once on source.
    * At 100 TB the exact per-source row_number becomes
    * approx-quantile bucketing (same grid, sketch memory) — same
    * plan shape. Exact `percentile` hash-matches DuckDB
    * `quantile_cont` (q43's result). */
  private val gridFracs = (0 to 100).map(i => f"${i / 100.0}%.2f").mkString(", ")

  def q111QuantileNorm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"source").orderBy($"n_chars", $"doc_id")
    val ranked = Tables.documents(s, dir)
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy($"source")))
      .withColumn("grid_i", expr(
        "CASE WHEN cnt = 1 THEN 100L ELSE ((rn - 1) * 100) DIV (cnt - 1) END"))
    val ref = Tables.documents(s, dir).where($"source" === "src0")
      .agg(expr(s"percentile(n_chars, array($gridFracs))").as("qs"))
      .select(posexplode($"qs").as(Seq("grid_i", "calib_chars")))
    ranked.join(broadcast(ref), Seq("grid_i"))
      .select($"doc_id", $"source", $"n_chars",
        $"grid_i".cast("long").as("grid_i"), $"calib_chars")
      .orderBy($"doc_id")
  }

  private val q111Oracle =
    s"""WITH d AS (
       |  SELECT doc_id, source, n_chars,
       |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
       |    count(*) OVER (PARTITION BY source) AS cnt
       |  FROM documents),
       |q AS (
       |  SELECT quantile_cont(n_chars, [$gridFracs]) AS qs
       |  FROM documents WHERE source = 'src0'),
       |g AS (
       |  SELECT i, qs[i + 1] AS calib_chars
       |  FROM q, (SELECT unnest(range(0, 101)) AS i))
       |SELECT doc_id, source, n_chars,
       |  CAST(CASE WHEN cnt = 1 THEN 100 ELSE ((rn - 1) * 100) // (cnt - 1) END
       |    AS BIGINT) AS grid_i,
       |  calib_chars
       |FROM d JOIN g
       |  ON (CASE WHEN cnt = 1 THEN 100 ELSE ((rn - 1) * 100) // (cnt - 1) END) = g.i
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q112
  /** Mixture rebalance — enforce a DECLARED target source mixture on
    * the corpus: per-source keep rate = min(1, target_share · N /
    * n_source), applied with q49's deterministic md5 coin so the
    * sample is reproducible on any partitioning. The target share is
    * derived in-query from the source's numeric suffix (share_k ∝
    * k+1, so the rebalance is genuinely non-uniform) the way q90
    * derives its change set — a real pipeline reads a tiny declared
    * dim table; identical plan (counts agg → broadcast rates → scan
    * filter). Reports per-source before/after so the achieved
    * mixture is auditable. */
  def q112MixtureRebalance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val counts = docs.groupBy($"source").agg(count(lit(1)).as("n_before"))
    val total = docs.agg(count(lit(1)).as("n_total"))
    val rates = counts.crossJoin(broadcast(total))
      .withColumn("k", expr("CAST(substring(source, 4) AS INT)"))
      // 210.0D: a bare 210.0 literal parses as DECIMAL in Spark SQL and
      // the division would truncate at scale 6 (DuckDB's stays double)
      .withColumn("target_share", expr("(k + 1) / 210.0D"))
      .withColumn("keep_rate", expr(
        "least(1.0, target_share * CAST(n_total AS DOUBLE) / n_before)"))
    val kept = docs.join(broadcast(rates.select($"source", $"keep_rate")), Seq("source"))
      .where(expr(
        "CAST(conv(substring(md5(concat('q112:', CAST(doc_id AS STRING))), 1, 4), 16, 10) AS BIGINT) % 10000" +
          " < CAST(floor(keep_rate * 10000) AS BIGINT)"))
      .groupBy($"source").agg(count(lit(1)).as("n_after"))
    rates.join(kept, Seq("source"), "left")
      .select($"source", $"n_before",
        coalesce($"n_after", lit(0L)).as("n_after"),
        round($"target_share", 6).as("target_share"),
        round($"keep_rate", 6).as("keep_rate"))
      .orderBy($"source")
  }

  private val q112Oracle =
    """WITH c AS (
      |  SELECT source, count(*) AS n_before FROM documents GROUP BY source),
      |t AS (SELECT count(*) AS n_total FROM documents),
      |r AS (
      |  SELECT source, n_before,
      |    (CAST(substring(source, 4) AS INT) + 1) / 210.0 AS target_share,
      |    least(1.0, (CAST(substring(source, 4) AS INT) + 1) / 210.0
      |      * CAST(n_total AS DOUBLE) / n_before) AS keep_rate
      |  FROM c, t),
      |kept AS (
      |  SELECT d.source, count(*) AS n_after
      |  FROM documents d JOIN r ON d.source = r.source
      |  WHERE ('0x' || substr(md5('q112:' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 10000
      |    < CAST(floor(keep_rate * 10000) AS BIGINT)
      |  GROUP BY d.source)
      |SELECT r.source, n_before, COALESCE(n_after, 0) AS n_after,
      |  round(target_share, 6) AS target_share, round(keep_rate, 6) AS keep_rate
      |FROM r LEFT JOIN kept ON r.source = kept.source
      |ORDER BY r.source""".stripMargin

  // ---------------------------------------------------------------- q116
  /** URL canonicalization + canonical-URL dedup — the crawl-side
    * twin of q114's content dedup: the same page arrives as
    * `HTTPS://Site.Example.org/Page7/?utm=1` and
    * `https://site.example.org/Page7#frag`, and re-crawl decisions
    * need them to collapse. Canonical form: lowercased scheme+host,
    * path kept case-sensitive, query/fragment stripped, trailing
    * slashes trimmed. The corpus has no URLs, so every 4th doc gets
    * two raw variants that canonicalize to the SAME url plus a
    * shared cross-doc mirror link (q84's planting device, with
    * casing/query/fragment noise so every canonicalization rule is
    * oracle-exercised). Regexes stay in the RE2-and-Java-identical
    * subset (no lookaround, no backrefs). Pure
    * projection+explode, then one hash-agg on the canonical key —
    * text never shuffles, canonical urls do. */
  private val q116UrlRe =
    "[hH][tT][tT][pP][sS]?://[a-zA-Z0-9.-]+(/[a-zA-Z0-9./_-]*)?([?#][a-zA-Z0-9=._-]*)?"

  private def q116Planted(docId: Column, text: Column): Column =
    when(docId % 4 === 0,
      concat(text,
        lit(" HTTPS://Site"), (docId % 7).cast("string"),
        lit(".Example.org/Page"), docId.cast("string"), lit("/?utm=1"),
        lit(" https://site"), (docId % 7).cast("string"),
        lit(".example.org/Page"), docId.cast("string"), lit("#frag"),
        lit(" http://Mirror.example.net/x/"))).otherwise(text)

  private val q116PlantedSql =
    "CASE WHEN doc_id % 4 = 0 THEN text" +
      " || ' HTTPS://Site' || CAST(doc_id % 7 AS VARCHAR)" +
      " || '.Example.org/Page' || CAST(doc_id AS VARCHAR) || '/?utm=1'" +
      " || ' https://site' || CAST(doc_id % 7 AS VARCHAR)" +
      " || '.example.org/Page' || CAST(doc_id AS VARCHAR) || '#frag'" +
      " || ' http://Mirror.example.net/x/'" +
      " ELSE text END"

  def q116CanonicalUrls(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documentsSpread(s, dir)
      .select($"doc_id", q116Planted($"doc_id", $"text").as("t0"))
      .select($"doc_id",
        explode(expr(s"regexp_extract_all(t0, '$q116UrlRe', 0)")).as("url"))
      .select($"doc_id", $"url",
        concat(
          TextExprs.lower(expr("regexp_extract(url, '^([a-zA-Z]+)://', 1)")), lit("://"),
          TextExprs.lower(expr("regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1)")),
          expr("regexp_replace(regexp_extract(url, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1), '/+$', '')"))
          .as("canon_url"))
      .groupBy($"canon_url")
      .agg(countDistinct($"url").as("n_variants"),
        countDistinct($"doc_id").as("n_docs"),
        count(lit(1)).as("n_mentions"))
      .orderBy($"canon_url")
  }

  private val q116Oracle =
    s"""WITH p AS (SELECT doc_id, $q116PlantedSql AS t0 FROM documents),
       |u AS (
       |  SELECT doc_id, unnest(regexp_extract_all(t0, '$q116UrlRe', 0)) AS url
       |  FROM p),
       |c AS (
       |  SELECT doc_id, url,
       |    lower(regexp_extract(url, '^([a-zA-Z]+)://', 1)) || '://'
       |    || lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1))
       |    || regexp_replace(regexp_extract(url, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1), '/+$$', '')
       |      AS canon_url
       |  FROM u)
       |SELECT canon_url, count(DISTINCT url) AS n_variants,
       |  count(DISTINCT doc_id) AS n_docs, count(*) AS n_mentions
       |FROM c GROUP BY canon_url ORDER BY canon_url""".stripMargin

  // ---------------------------------------------------------------- q119
  /** Exact-k stratified sampling — eval-set construction: draw
    * EXACTLY k docs from every (source, lang) stratum (q49's
    * rate-based sampler controls the expectation, not the count).
    * Each stratum is shuffled by a salted md5 of the doc id (hex
    * strings compare identically in both engines) and the first k
    * survive; doc_id completes the total order. One shuffle on the
    * stratum key; the per-stratum sort is the honest cost — at
    * 100 TB strata are large, and the window's sort spills rather
    * than breaks (or pre-thin with q49 at a loose rate first, then
    * exact-k the survivors — same plan, bounded sort). */
  val q119K = 3

  def q119ExactKSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"source", $"lang")
      .orderBy(md5(concat(lit("q119:"), $"doc_id".cast("string"))), $"doc_id")
    Tables.documents(s, dir)
      .withColumn("draw", row_number().over(w).cast("long"))
      .where($"draw" <= q119K)
      .select($"doc_id", $"source", $"lang", $"draw")
      .orderBy($"source", $"lang", $"draw")
  }

  private val q119Oracle =
    s"""SELECT doc_id, source, lang, draw FROM (
       |  SELECT doc_id, source, lang,
       |    CAST(row_number() OVER (PARTITION BY source, lang
       |      ORDER BY md5('q119:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
       |      AS draw
       |  FROM documents)
       |WHERE draw <= $q119K
       |ORDER BY source, lang, draw""".stripMargin

  // ---------------------------------------------------------------- q124
  /** Corpus curation funnel — the END-to-end keep/drop gate a
    * training pipeline actually ships: every doc flows through the
    * rule cascade too_short → bad_composition (q107's
    * duplicate-line share) → repetitious (q59's 3-gram ratio) →
    * low_quality (q62's composite) → keep, and the verdict names the
    * FIRST failing rule so attrition is attributable per stage. All
    * signals are computed over one shared planted view t0 (q107's
    * footer for line structure, plus a repeated-token tail on every
    * 25th doc so the repetition branch fires — the fixture corpus
    * has no naturally repetitious doc that isn't already too
    * short). One projection pass + one 3-gram aggregate (q59's
    * shape) joined back on the primary key — the funnel adds no
    * shuffle beyond what its signals individually cost. */
  val q124RepTail: String = " spark" * 10
  val q124RepThreshold = 0.05

  def q124CurationFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.documentsSpread(s, dir)
      .withColumn("t1",
        when($"doc_id" % 25 === 1, concat($"text", lit(q124RepTail)))
          .otherwise($"text"))
      .withColumn("t0",
        when($"doc_id" % 3 === 0, concat($"t1", lit(footerLit)))
          .otherwise($"t1"))
    val tri = base
      .select($"doc_id", explode(DedupOps.spansN($"t0", 3)).as("g"))
      .groupBy($"doc_id", $"g").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg((lit(1.0) - count(lit(1)).cast("double") / sum($"c"))
        .as("repetition_ratio"))
    base
      .withColumn("toks", toks($"t0"))
      .withColumn("lines", split($"t0", "\n"))
      .withColumn("n_chars_cur", length($"t0").cast("long"))
      .withColumn("len_score",
        least(length($"t0").cast("double") / 500.0, lit(1.0)))
      .withColumn("diversity",
        size(array_distinct($"toks")).cast("double") / size($"toks"))
      .withColumn("stop_ratio",
        size(filter($"toks", t => t.isin(stopwords: _*))).cast("double") /
          size($"toks"))
      .withColumn("quality_score",
        $"len_score" * 0.5 + $"diversity" * 0.3 + (lit(1.0) - $"stop_ratio") * 0.2)
      .withColumn("frac_dup_lines",
        lit(1.0) - size(array_distinct($"lines")).cast("double") / size($"lines"))
      .join(tri, Seq("doc_id"), "left")
      .withColumn("repetition_ratio", coalesce($"repetition_ratio", lit(0.0)))
      .select($"doc_id", $"n_chars_cur", $"quality_score",
        $"repetition_ratio", $"frac_dup_lines",
        when($"n_chars_cur" < 100, "too_short")
          .when($"frac_dup_lines" >= 0.3, "bad_composition")
          .when($"repetition_ratio" >= q124RepThreshold, "repetitious")
          .when($"quality_score" < 0.6, "low_quality")
          .otherwise("keep").as("verdict"))
      .orderBy($"doc_id")
  }

  private val q124Oracle =
    s"""WITH p AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 3 = 0 THEN t1 || $footerSql ELSE t1 END AS t0
       |  FROM (
       |    SELECT doc_id,
       |      CASE WHEN doc_id % 25 = 1 THEN text || '$q124RepTail'
       |           ELSE text END AS t1
       |    FROM documents)),
       |sv AS (
       |  SELECT doc_id, t0, string_split(lower(t0), ' ') AS toks,
       |    string_split(t0, chr(10)) AS lines
       |  FROM p),
       |q AS (
       |  SELECT doc_id,
       |    CAST(length(t0) AS BIGINT) AS n_chars_cur,
       |    LEAST(CAST(length(t0) AS DOUBLE) / 500.0, 1.0) AS len_score,
       |    CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS diversity,
       |    CAST(len(list_filter(toks,
       |        x -> x IN (${stopwords.map(w => s"'$w'").mkString(",")}))) AS DOUBLE)
       |      / len(toks) AS stop_ratio,
       |    1.0 - CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines)
       |      AS frac_dup_lines
       |  FROM sv),
       |g AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
       |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
       |  FROM sv),
       |c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
       |r AS (
       |  SELECT doc_id,
       |    1.0 - CAST(count(*) AS DOUBLE) / CAST(sum(c) AS BIGINT)
       |      AS repetition_ratio
       |  FROM c GROUP BY doc_id)
       |SELECT q.doc_id, n_chars_cur,
       |  len_score * 0.5 + diversity * 0.3 + (1.0 - stop_ratio) * 0.2
       |    AS quality_score,
       |  COALESCE(repetition_ratio, 0.0) AS repetition_ratio,
       |  frac_dup_lines,
       |  CASE WHEN n_chars_cur < 100 THEN 'too_short'
       |       WHEN frac_dup_lines >= 0.3 THEN 'bad_composition'
       |       WHEN COALESCE(repetition_ratio, 0.0) >= $q124RepThreshold
       |         THEN 'repetitious'
       |       WHEN len_score * 0.5 + diversity * 0.3 + (1.0 - stop_ratio) * 0.2 < 0.6
       |         THEN 'low_quality'
       |       ELSE 'keep' END AS verdict
       |FROM q LEFT JOIN r ON q.doc_id = r.doc_id
       |ORDER BY q.doc_id""".stripMargin

  // ---------------------------------------------------------------- q125
  /** LM-fluency scoring (perplexity-filtering, CCNet-style): score
    * every doc by its average trigram negative log-likelihood under
    * a corpus-trained trigram LM — rare-trigram (disfluent,
    * garbled, off-distribution) docs score HIGH and are the drop
    * candidates. The per-trigram NLL ln(T/c) is floored into
    * fixed-point MICRO-NATS before the per-doc sum, so the
    * cross-row aggregation is pure integer arithmetic —
    * order-independent under any partitioning, hence
    * hash-oracle-able where a double sum would not be (q122's
    * device); all values are positive, where Spark's `div` and
    * DuckDB's `//` trivially agree. Plan: one trigram-count agg
    * (the LM), totals broadcast, one join of positioned trigrams to
    * the LM on the trigram key, one per-doc agg. At 100 TB the LM
    * prunes to a frequency floor + OOV default and broadcasts
    * (q92's floor); scoring is leave-one-in on the fixture — a
    * held-out LM is the same plan over a q91 split. */
  def q125LmScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r15 probe: folding to (doc_id, g, k) counts + localCheckpoint
    // was MEASURED 4× WORSE (1.04 → 4.48 s isolated at sf0.1): AQE
    // exchange reuse already shares the explode's by-g exchange
    // between the lm branch and the scoring join, so the static
    // plan's "second explode" never runs, and the checkpoint's
    // materialization is pure added cost. Left as-is deliberately —
    // see OPTIMIZATION_r15.md.
    val tri = Tables.documentsSpread(s, dir)
      .select($"doc_id", explode(DedupOps.spansN($"text", 3)).as("g"))
    val lm = tri.groupBy($"g").agg(count(lit(1)).as("c"))
    val total = lm.agg(sum($"c").cast("long").as("t"))
    val scored = tri.join(lm, Seq("g")).crossJoin(broadcast(total))
      .select($"doc_id",
        expr("CAST(floor(ln(CAST(t AS DOUBLE) / c) * 1000000.0) AS BIGINT)")
          .as("nll_micro"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_trigrams"), sum($"nll_micro").as("sum_nll"))
    Tables.documents(s, dir).select($"doc_id")
      .join(scored, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_trigrams", lit(0L)).as("n_trigrams"),
        when($"n_trigrams".isNull, 0L)
          .otherwise(expr("sum_nll div n_trigrams")).as("avg_nll_micro"))
      .orderBy($"doc_id")
  }

  private val q125Oracle =
    """WITH t AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      |g AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
      |  FROM t),
      |lm AS (SELECT g, count(*) AS c FROM g GROUP BY g),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM lm),
      |sc AS (
      |  SELECT doc_id, count(*) AS n_trigrams,
      |    CAST(sum(CAST(floor(ln(CAST(t AS DOUBLE) / c) * 1000000.0) AS BIGINT))
      |      AS BIGINT) AS sum_nll
      |  FROM g JOIN lm USING (g), tot
      |  GROUP BY doc_id)
      |SELECT d.doc_id,
      |  COALESCE(n_trigrams, 0) AS n_trigrams,
      |  CASE WHEN n_trigrams IS NULL THEN 0
      |       ELSE sum_nll // n_trigrams END AS avg_nll_micro
      |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- q128
  /** BM25 retrieval — the ranked-search counterpart of q78's
    * inverted index: score every document against a fixed query-term
    * set with the Okapi BM25 formula (k1=1.2, b=0.75, the
    * +1-smoothed idf that keeps all weights positive) and return the
    * top 20. With literal query terms the per-doc term frequencies
    * are pure scan-side projections (size(filter(toks, = term)) —
    * no explode, no join); document frequencies and the average
    * length are one broadcast scalar row; the top-20 is
    * TakeOrdered. Exactly the plan you want at 100 TB for a bounded
    * query: one scan, one tiny agg, k rows out. Scores round to 4
    * decimals (ln in idf — q73's device). */
  val bm25Terms: Seq[String] = Seq("spark", "window", "merge")
  val bm25K1 = 1.2
  val bm25B = 0.75

  def q128Bm25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bm25Scored(s, dir)
      .where($"bm25" > 0.0)
      .orderBy($"bm25".desc, $"doc_id")
      .limit(20)
  }

  /** The full scored set (doc_id, dl, bm25) before filter/top-k —
    * shared with q137's hybrid fusion so both rankers score
    * identically. */
  private[ops] def bm25Scored(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val withTf = Tables.documentsSpread(s, dir)
      .withColumn("toks", toks($"text"))
      .withColumn("dl", size($"toks").cast("long"))
    val tf = bm25Terms.zipWithIndex.foldLeft(withTf) { case (df, (t, i)) =>
      df.withColumn(s"tf$i",
        size(filter($"toks", x => x === t)).cast("long"))
    }
    val statCols = Seq(
      count(lit(1)).cast("double").as("n_docs"),
      (sum($"dl").cast("double") / count(lit(1))).as("avgdl")) ++
      bm25Terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).cast("double").as(s"df$i"))
    val stats = tf.agg(statCols.head, statCols.tail: _*)
    // D-suffixed literals: bare 0.5/1.2 parse as DECIMAL in Spark SQL
    // and would drag the whole score into truncating decimal math
    // (the q112 lesson); DuckDB keeps the same literals double.
    def scoreSql(lit: Double => String) = bm25Terms.indices.map { i =>
      s"ln((n_docs - df$i + ${lit(0.5)}) / (df$i + ${lit(0.5)}) + ${lit(1.0)})" +
        s" * (tf$i * (${lit(bm25K1)} + ${lit(1.0)}))" +
        s" / (tf$i + ${lit(bm25K1)} * (${lit(1.0)} - ${lit(bm25B)}" +
        s" + ${lit(bm25B)} * dl / avgdl))"
    }.mkString(" + ")
    tf.crossJoin(broadcast(stats))
      .select($"doc_id", $"dl",
        expr(s"round(${scoreSql(d => s"${d}D")}, 4)").as("bm25"))
  }

  /** Oracle CTE body producing `scored(doc_id, dl, bm25)` — shared
    * verbatim by q128's oracle and q137's fusion oracle. */
  private[ops] val bm25ScoredCte: String = {
    val tfCols = bm25Terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(toks, x -> x = '$t')) AS tf$i"
    }.mkString(", ")
    val dfCols = bm25Terms.indices.map(i =>
      s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df$i")
      .mkString(", ")
    val score = bm25Terms.indices.map { i =>
      s"ln((n_docs - df$i + 0.5) / (df$i + 0.5) + 1.0)" +
        s" * (tf$i * ($bm25K1 + 1.0))" +
        s" / (tf$i + $bm25K1 * (1.0 - $bm25B + $bm25B * dl / avgdl))"
    }.mkString(" + ")
    s"""t AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
       |tf AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, $tfCols FROM t),
       |st AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
       |    CAST(CAST(sum(dl) AS BIGINT) AS DOUBLE) / count(*) AS avgdl,
       |    $dfCols
       |  FROM tf),
       |scored AS (
       |  SELECT doc_id, dl, round($score, 4) AS bm25 FROM tf, st)""".stripMargin
  }

  private val q128Oracle =
    s"""WITH $bm25ScoredCte
       |SELECT doc_id, dl, bm25 FROM scored
       |WHERE bm25 > 0.0
       |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q129
  /** Per-source LM divergence — KL(source ‖ corpus) over trigram
    * distributions: how far each source's language drifts from the
    * corpus mixture (high divergence marks machine-generated,
    * templated, or off-domain feeds — the source-level sibling of
    * q125's per-doc fluency). Per-trigram log-ratios are floored to
    * integer micro-nats and weighted by EXACT integer counts before
    * the per-source sum (q125's device — order-independent,
    * hash-oracle-able); the single final division happens once per
    * source on exact integers. Every source trigram occurs in the
    * corpus by construction, so no smoothing epsilon is needed.
    * Plan: one (source, gram) agg, the global LM derived from it by
    * a second partial agg, two broadcast-sized scalar joins. */
  def q129SourceDivergence(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r15: the (source, g) count frame feeds THREE consumers (gc, ts
    // and the divergence join) — without a cut each re-runs the
    // corpus explode + count (the plan carried 8 scans / 4 Generate
    // subtrees); one pin collapses them (q273's bounded-frame idiom —
    // vocab-grain here, disclosed in OPTIMIZATION_r15.md)
    val sc = Tables.documentsSpread(s, dir)
      .select($"source", explode(DedupOps.spansN($"text", 3)).as("g"))
      .groupBy($"source", $"g").agg(count(lit(1)).as("cs"))
      .localCheckpoint(true)
    val gc = sc.groupBy($"g").agg(sum($"cs").as("cg"))
    val tg = gc.agg(sum($"cg").cast("long").as("tg"))
    val ts = sc.groupBy($"source").agg(sum($"cs").as("ts"))
    sc.join(gc, Seq("g"))
      .crossJoin(broadcast(tg))
      .join(broadcast(ts), Seq("source"))
      .select($"source", $"cs", $"ts",
        expr("""CAST(floor(ln((CAST(cs AS DOUBLE) * tg)
               / (CAST(ts AS DOUBLE) * cg)) * 1000000.0D) AS BIGINT)""")
          .as("l"))
      .groupBy($"source")
      .agg(max($"ts").as("n_trigrams"), sum($"l" * $"cs").as("sum_micro"))
      .select($"source", $"n_trigrams",
        expr("round(CAST(sum_micro AS DOUBLE) / n_trigrams / 1000000.0D, 6)")
          .as("kl_nats"))
      .orderBy($"source")
  }

  private val q129Oracle =
    """WITH t AS (
      |  SELECT source, string_split(lower(text), ' ') AS toks FROM documents),
      |g AS (
      |  SELECT source, unnest(list_transform(range(1, len(toks) - 1),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
      |  FROM t),
      |sc AS (SELECT source, g, count(*) AS cs FROM g GROUP BY 1, 2),
      |gc AS (SELECT g, CAST(sum(cs) AS BIGINT) AS cg FROM sc GROUP BY g),
      |tg AS (SELECT CAST(sum(cg) AS BIGINT) AS tg FROM gc),
      |ts AS (SELECT source, CAST(sum(cs) AS BIGINT) AS ts FROM sc GROUP BY source),
      |l AS (
      |  SELECT sc.source, cs, ts.ts,
      |    CAST(floor(ln((CAST(cs AS DOUBLE) * tg)
      |      / (CAST(ts AS DOUBLE) * cg)) * 1000000.0) AS BIGINT) AS l
      |  FROM sc JOIN gc USING (g) JOIN ts ON sc.source = ts.source, tg)
      |SELECT source, max(ts) AS n_trigrams,
      |  round(CAST(CAST(sum(l * cs) AS BIGINT) AS DOUBLE) / max(ts)
      |    / 1000000.0, 6) AS kl_nats
      |FROM l GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q130
  /** Text normalization pipeline — the cleanup pass that runs before
    * ANY fingerprinting or dedup: Unicode NFC composition (via the
    * custom codegen'd [[graft.expr.NfcNormalize]] — Spark SQL has no
    * normalize function, and 'é' vs 'e'+combining-acute silently
    * splits exact dedup), control-character strip, whitespace
    * collapse, trim. The fixture corpus is pure ASCII, so every rule
    * is exercised by planting (q57's device): every 5th doc gains a
    * decomposed accent, a control char, and doubled spaces — and
    * the oracle (DuckDB `nfc_normalize` + the same RE2/Java-common
    * regexes) must reproduce the repaired string byte-for-byte.
    * Pure projection; whole-stage codegen end to end. */
  // decomposed accent + a bell control char + doubled spaces: must
  // be byte-identical to the oracle chr() concatenation
  private val q130PlantedTail = " cafe\u0301 x\u0007y  z"

  def q130Normalize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documentsSpread(s, dir)
      .withColumn("t0",
        when($"doc_id" % 5 === 2, concat($"text", lit(q130PlantedTail)))
          .otherwise($"text"))
      .select($"doc_id",
        length($"t0").cast("long").as("n_chars_raw"),
        trim(regexp_replace(regexp_replace(
          graft.expr.TextExprs.nfc($"t0"),
          "[\\x01-\\x1f]", ""), " +", " ")).as("norm_text"))
      .withColumn("n_chars_norm", length($"norm_text").cast("long"))
      .select($"doc_id", $"norm_text", $"n_chars_raw", $"n_chars_norm")
      .orderBy($"doc_id")
  }

  private val q130Oracle =
    """WITH p AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 5 = 2
      |      THEN text || ' cafe' || chr(769) || ' x' || chr(7) || 'y  z'
      |      ELSE text END AS t0
      |  FROM documents)
      |SELECT doc_id,
      |  trim(regexp_replace(regexp_replace(
      |    nfc_normalize(t0), '[\x01-\x1f]', '', 'g'), ' +', ' ', 'g'))
      |    AS norm_text,
      |  CAST(length(t0) AS BIGINT) AS n_chars_raw,
      |  CAST(length(trim(regexp_replace(regexp_replace(
      |    nfc_normalize(t0), '[\x01-\x1f]', '', 'g'), ' +', ' ', 'g'))) AS BIGINT)
      |    AS n_chars_norm
      |FROM p ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q140
  /** BPE merge learning — the vocabulary-induction step of tokenizer
    * training: K rounds of "count adjacent symbol pairs weighted by
    * word frequency, merge the most frequent pair everywhere,
    * repeat". Output: the learned merge table (round, pair, weighted
    * count) — the artifact a tokenizer ships.
    *
    * Scale shape: the corpus collapses ONCE to the distinct-word
    * frequency table (Heaps'-law-bounded vocabulary — 100 TB of text
    * is still ~millions of distinct words, and the full corpus is
    * never touched again); each round is one pair-count aggregation
    * over that working set plus a 1-row argmax collect — the same
    * driver-coordinated fixpoint discipline as the CC/Lloyd loops
    * (localCheckpoint per round, lineage never stacks). Real
    * training runs ~30k rounds of this exact dataflow;
    * [[bpeMerges]] keeps the checked artifact small.
    *
    * Merging is a left-to-right greedy fold over each word's symbol
    * array (`functions.aggregate` with Column lambdas — no SQL
    * string escaping on corpus-derived symbols). The oracle applies
    * the SAME merge as a delimiter-wrapped string replace
    * (chr(1)/chr(2) wraps make token boundaries unambiguous and
    * non-overlapping), and DuckDB `replace` is left-to-right greedy
    * exactly like the fold — equivalence the hash check proves every
    * run. Ties on the argmax break lexicographically in both
    * engines (binary collation). */
  val bpeMerges = 3

  def q140BpeMerges(s: SparkSession, dir: String): DataFrame =
    bpeMergesOf(Tables.documentsSpread(s, dir), bpeMerges)

  /** The learner on any frame with a `text` column — separated so
    * the spec can plant corpora whose merges are hand-derivable,
    * including the overlapping-run greedy case and a merged symbol
    * that wins a later round. */
  private[ops] def bpeMergesOf(docs: DataFrame, k: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    var wf = docs
      .select(explode(toks($"text")).as("w"))
      .where(length($"w") > 0)
      .groupBy($"w").agg(count(lit(1)).as("freq"))
      .select(split($"w", "").as("syms"), $"freq")
      .localCheckpoint(true)
    val learned = (1 to k).map { round =>
      val top = wf
        .select($"freq", explode(arrays_zip(
          slice($"syms", lit(1), size($"syms") - 1).as("a"),
          slice($"syms", lit(2), size($"syms") - 1).as("b"))).as("p"))
        .groupBy($"p.a".as("a"), $"p.b".as("b"))
        .agg(sum($"freq").as("cnt"))
        .orderBy($"cnt".desc, $"a", $"b")
        .limit(1).collect()(0)
      val (a, b, cnt) = (top.getString(0), top.getString(1), top.getLong(2))
      val merged = concat(lit(a), lit(b))
      val prev = wf
      wf = wf.select(aggregate($"syms",
          array().cast("array<string>"),
          (acc, x) => when(
            try_element_at(acc, lit(-1)) === lit(a) && x === lit(b),
            concat(slice(acc, lit(1), size(acc) - 1), array(merged)))
            .otherwise(concat(acc, array(x)))).as("syms"),
        $"freq")
        .localCheckpoint(true)
      prev.unpersist(blocking = false)
      (round, a, b, cnt)
    }
    wf.unpersist(blocking = false)
    learned.toDF("round", "sym_a", "sym_b", "weighted_count")
      .select($"round", $"sym_a", $"sym_b", $"weighted_count")
      .orderBy($"round")
  }

  /** One BPE learning round as oracle CTEs — shared by q140 (the
    * learner) and q385 (the serve path refits the identical model). */
  private def bpeRoundCte(i: Int) =
    s"""toks$i AS (
       |  SELECT freq, string_split(ltrim(rtrim(seq, chr(2)), chr(1)),
       |    chr(2) || chr(1)) AS ts
       |  FROM wf$i),
       |pairs$i AS (
       |  SELECT t.a, t.b, CAST(sum(freq) AS BIGINT) AS cnt FROM (
       |    SELECT freq, ts[i] AS a, ts[i + 1] AS b
       |    FROM toks$i, unnest(range(1, len(ts))) AS u(i)) t
       |  GROUP BY 1, 2),
       |m$i AS (
       |  SELECT a, b, cnt,
       |    chr(1) || a || chr(2) || chr(1) || b || chr(2) AS pat,
       |    chr(1) || a || b || chr(2) AS rep
       |  FROM pairs$i ORDER BY cnt DESC, a, b LIMIT 1),
       |wf${i + 1} AS (
       |  SELECT freq, replace(seq, pat, rep) AS seq FROM wf$i, m$i)""".stripMargin

  private val bpeWrapSql = "chr(1) || c || chr(2)"

  private val q140Oracle = {
    val rounds = (0 until bpeMerges).map(bpeRoundCte).mkString(",\n")
    val wrap = bpeWrapSql
    val merges = (0 until bpeMerges).map(i =>
      s"SELECT ${i + 1} AS round, a AS sym_a, b AS sym_b, cnt AS weighted_count FROM m$i")
      .mkString(" UNION ALL ")
    s"""WITH wf0 AS (
       |  SELECT CAST(count(*) AS BIGINT) AS freq,
       |    list_aggregate(list_transform(split(w, ''), c -> $wrap),
       |      'string_agg', '') AS seq
       |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
       |  WHERE len(w) > 0 GROUP BY w),
       |$rounds,
       |merges AS ($merges)
       |SELECT round, sym_a, sym_b, weighted_count FROM merges ORDER BY round""".stripMargin
  }

  // ---------------------------------------------------------------- q385
  /** BPE serve-time application — q363's train-then-serve discipline
    * for the tokenizer: the q140 learner refits on the TRAIN split
    * (salted-md5 buckets, q91's device; identical passes ⇒ identical
    * merge table), and the learned merges then apply IN ROUND ORDER
    * to the untouched held-out split, reporting per-doc symbol
    * counts before/after and the compression ratio — the
    * generalization readout of a tokenizer (merges learned on train
    * must compress unseen text, and a merge table that only
    * compresses its own training words is the overfit this
    * measures). Serving is a chain of the SAME left-to-right greedy
    * folds the learner used — one fold per merge over each word's
    * symbol array, no SQL-escaping of corpus-derived symbols; the
    * oracle refits the model with q140's shared round CTEs and
    * applies the merges as the chained delimiter-wrapped replaces,
    * so train/serve cannot drift between engines. Per-doc chars are
    * invariant under merging (a merge concatenates) — the
    * denominator needs no second tokenization pass. */
  def q385BpeApply(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documentsSpread(s, dir)
    val bucket = conv(substring(md5(concat(lit("bpe:"),
      $"doc_id".cast("string"))), 1, 4), 16, 10).cast("long") % 100
    bpeApplyOf(docs.where(bucket < 80), docs.where(bucket >= 80),
      bpeMerges)
  }

  /** Refit on `train`, tokenize `serve` — separated so the spec can
    * plant a corpus whose learned merge and serve-side compression
    * are hand-derivable. */
  private[ops] def bpeApplyOf(train: DataFrame, serve: DataFrame,
      k: Int): DataFrame = {
    val s = train.sparkSession
    import s.implicits._
    val merges = bpeMergesOf(train, k).collect()
      .map(r => (r.getString(1), r.getString(2)))
    var words = serve
      .select($"doc_id", explode(toks($"text")).as("w"))
      .where(length($"w") > 0)
      .select($"doc_id", split($"w", "").as("syms"))
    for ((a, b) <- merges) {
      words = words.select($"doc_id", aggregate($"syms",
        array().cast("array<string>"),
        (acc, x) => when(
          try_element_at(acc, lit(-1)) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1),
            array(concat(lit(a), lit(b)))))
          .otherwise(concat(acc, array(x)))).as("syms"))
    }
    words
      .groupBy($"doc_id")
      .agg(sum(length(array_join($"syms", ""))).as("n_chars"),
        sum(size($"syms")).cast("long").as("n_tokens"))
      .select($"doc_id", $"n_chars", $"n_tokens",
        expr("(1000000 * n_tokens) div n_chars").as("compression_ppm"))
      .orderBy($"doc_id")
  }

  private val q385Oracle = {
    val rounds = (0 until bpeMerges).map(bpeRoundCte).mkString(",\n")
    val applied = (0 until bpeMerges)
      .foldLeft("seq") { (e, i) => s"replace($e, m$i.pat, m$i.rep)" }
    val fromMs = (0 until bpeMerges).map(i => s"m$i").mkString(", ")
    s"""WITH tagged AS (
       |  SELECT doc_id, text,
       |    ('0x' || substr(md5('bpe:' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
       |      % 100 AS bucket
       |  FROM documents),
       |wf0 AS (
       |  SELECT CAST(count(*) AS BIGINT) AS freq,
       |    list_aggregate(list_transform(split(w, ''), c -> $bpeWrapSql),
       |      'string_agg', '') AS seq
       |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
       |        FROM tagged WHERE bucket < 80)
       |  WHERE len(w) > 0 GROUP BY w),
       |$rounds,
       |sw AS (
       |  SELECT doc_id, w FROM (
       |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
       |    FROM tagged WHERE bucket >= 80)
       |  WHERE len(w) > 0),
       |seqs AS (
       |  SELECT doc_id, CAST(strlen(w) AS BIGINT) AS wl,
       |    list_aggregate(list_transform(split(w, ''), c -> $bpeWrapSql),
       |      'string_agg', '') AS seq
       |  FROM sw),
       |ap AS (
       |  SELECT doc_id, wl, $applied AS fseq
       |  FROM seqs, $fromMs),
       |cnt AS (
       |  SELECT doc_id, CAST(sum(wl) AS BIGINT) AS n_chars,
       |    CAST(sum(len(string_split(ltrim(rtrim(fseq, chr(2)), chr(1)),
       |      chr(2) || chr(1)))) AS BIGINT) AS n_tokens
       |  FROM ap GROUP BY 1)
       |SELECT doc_id, n_chars, n_tokens,
       |  (1000000 * n_tokens) // n_chars AS compression_ppm
       |FROM cnt ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q145
  /** Pareto frontier (skyline) for data selection: the documents no
    * other document beats on BOTH content volume (n_chars) and
    * lexical diversity (distinct-token ratio) — multi-objective
    * curation without collapsing objectives into one weighted score
    * (q62's approach; the frontier is what you keep when you refuse
    * to pick the weights).
    *
    * The O(n²) dominance test never runs: for the 2-D case a point
    * is dominated iff a strictly-longer document has ≥ its diversity
    * (one RANGE window ordered by n_chars desc, frame ending at -1 —
    * i.e. "all strictly larger x"), or an equal-length document has
    * strictly higher diversity (one partition-by-x max). Two
    * windows, one shuffle each over (x)-ordered data; at 100 TB the
    * global range window shards by x-bucket first (q133's
    * hierarchical-prefix device) — the sweep is associative. Doubles
    * are only COMPARED, never accumulated, so the frontier is
    * engine-exact. */
  def q145ParetoFrontier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val pts = Tables.documentsSpread(s, dir)
      .withColumn("toks", toks($"text"))
      .select($"doc_id", $"n_chars",
        (size(array_distinct($"toks")).cast("double") / size($"toks"))
          .as("diversity"))
    val wGt = Window.orderBy($"n_chars".desc)
      .rangeBetween(Window.unboundedPreceding, -1)
    val wEq = Window.partitionBy($"n_chars")
    pts
      .withColumn("best_longer", max($"diversity").over(wGt))
      .withColumn("best_same", max($"diversity").over(wEq))
      .where(($"best_longer".isNull || $"best_longer" < $"diversity") &&
        $"best_same" <= $"diversity")
      .select($"doc_id", $"n_chars", $"diversity")
      .orderBy($"n_chars".desc, $"doc_id")
  }

  private val q145Oracle =
    """WITH pts AS (
      |  SELECT doc_id, n_chars,
      |    CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE)
      |      / len(string_split(lower(text), ' ')) AS diversity
      |  FROM documents),
      |sw AS (
      |  SELECT *,
      |    max(diversity) OVER (ORDER BY n_chars DESC
      |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_longer,
      |    max(diversity) OVER (PARTITION BY n_chars) AS best_same
      |  FROM pts)
      |SELECT doc_id, n_chars, diversity FROM sw
      |WHERE (best_longer IS NULL OR best_longer < diversity)
      |  AND best_same <= diversity
      |ORDER BY n_chars DESC, doc_id""".stripMargin

  // ---------------------------------------------------------------- q167
  /** CCNet-style perplexity bucketing: tag every doc `head` /
    * `middle` / `tail` by per-LANGUAGE tertile of its q125 LM score
    * (head = most fluent third under the trigram LM) — the curation
    * grain CCNet popularized: train preferentially on head, sample
    * middle, audit tail. Buckets are per-language because fluency
    * scores are only comparable within a language's LM mass;
    * a global cut would brand every low-resource language "tail".
    *
    * ntile over (score, doc_id) — the doc_id tie-break makes the
    * tertile assignment a pure function of the data, so the bucket
    * column is hash-stable cross-engine. The window partitions by
    * lang (bounded fan-in per partition at any corpus size ≈ docs
    * per language; a skew-heavy corpus would pre-aggregate to
    * (score, count) runs first). Composes q125's scoring pipeline
    * verbatim; its oracle embeds q125's oracle as a CTE, so the two
    * can never diverge. */
  def q167LmBuckets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"lang").orderBy($"avg_nll_micro", $"doc_id")
    q125LmScore(s, dir)
      .join(Tables.documents(s, dir).select($"doc_id", $"lang"), "doc_id")
      .withColumn("t", ntile(3).over(w))
      .select($"doc_id", $"lang", $"avg_nll_micro",
        when($"t" === 1, "head").when($"t" === 2, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy($"doc_id")
  }

  private val q167Oracle =
    s"""WITH lm_scored AS (${q125Oracle.replace("ORDER BY d.doc_id", "")}),
       |b AS (
       |  SELECT s.doc_id, d.lang, s.avg_nll_micro,
       |    ntile(3) OVER (PARTITION BY d.lang
       |      ORDER BY s.avg_nll_micro, s.doc_id) AS t
       |  FROM lm_scored s JOIN documents d ON s.doc_id = d.doc_id)
       |SELECT doc_id, lang, avg_nll_micro,
       |  CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
       |    AS bucket
       |FROM b ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q168
  /** Dataset card: the one-row release summary a corpus ships with —
    * document/source/language counts, exact char and whitespace-token
    * totals, distinct-content count (by 128-bit text fingerprint, so
    * the dedup stage's headline number is reproduced independently),
    * and the duplicate ratio in ppm. Everything is an exact integer,
    * so the card is hash-stable — a release artifact you can diff
    * between corpus versions to see drift at a glance (doc growth vs
    * dup growth is the first question every dataset review asks).
    *
    * One pass: all counters reduce in a single map-side-combining
    * global aggregate; distinct-text counts shuffle 16-byte md5s,
    * never text. The global agg's single reducer sees ONE partial
    * row per map task (not rows), which is why a one-row result is
    * scale-safe. */
  def q168DatasetCard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", $"source", $"lang", $"n_chars",
        size(split($"text", " ")).cast("long").as("n_toks"),
        md5($"text").as("fp"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct($"source").as("n_sources"),
        countDistinct($"lang").as("n_langs"),
        sum($"n_chars").as("total_chars"),
        sum($"n_toks").as("total_tokens"),
        countDistinct($"fp").as("distinct_texts"))
      .select($"n_docs", $"n_sources", $"n_langs", $"total_chars",
        $"total_tokens", $"distinct_texts",
        expr("(1000000 * (n_docs - distinct_texts)) div n_docs")
          .as("dup_ratio_ppm"))
  }

  private val q168Oracle =
    """SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
      |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
      |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS distinct_texts,
      |  CAST((1000000 * (count(*) - count(DISTINCT md5(text)))) // count(*)
      |    AS BIGINT) AS dup_ratio_ppm
      |FROM documents""".stripMargin

  // ---------------------------------------------------------------- q175
  /** Volume-weighted median document length per language: the char
    * count at which half the corpus BYTES sit in shorter docs — the
    * honest "typical document" number for capacity planning and
    * chunking policy (the plain median is dominated by the many
    * short docs that carry almost no volume; token budgets are spent
    * by VOLUME). Weighted-median-by-own-value via one cumulative-sum
    * window under the (n_chars, doc_id) total order, then the first
    * row crossing half the total — exact integers end to end, no
    * percentile interpolation, hence hash-stable. Window fan-in is
    * docs-per-language; the metadata column is all that shuffles
    * (text is never read — the scan prunes to (lang, n_chars,
    * doc_id)). */
  def q175VolMedian(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val wCum = Window.partitionBy($"lang").orderBy($"n_chars", $"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy($"lang")
    Tables.documents(s, dir)
      .select($"lang", $"doc_id", $"n_chars")
      .withColumn("cum", sum($"n_chars").over(wCum))
      .withColumn("total", sum($"n_chars").over(wAll))
      .withColumn("n_docs", count(lit(1)).over(wAll))
      .groupBy($"lang")
      .agg(max($"n_docs").as("n_docs"), max($"total").as("total_chars"),
        min(when(lit(2) * $"cum" >= $"total", $"n_chars"))
          .as("vol_median_chars"))
      .orderBy($"lang")
  }

  private val q175Oracle =
    """WITH c AS (
      |  SELECT lang, doc_id, n_chars,
      |    CAST(sum(n_chars) OVER (PARTITION BY lang ORDER BY n_chars, doc_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
      |    CAST(sum(n_chars) OVER (PARTITION BY lang) AS BIGINT) AS total,
      |    CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n_docs
      |  FROM documents)
      |SELECT lang, max(n_docs) AS n_docs, max(total) AS total_chars,
      |  CAST(min(CASE WHEN 2 * cum >= total THEN n_chars END) AS BIGINT)
      |    AS vol_median_chars
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q176
  /** Corpus coverage / independence matrix over (lang × source): the
    * full grid (cross join of OBSERVED margins), each cell's doc
    * count, and a flag — `missing` (zero cell: a scrape gap or
    * pipeline drop), `under`/`over` (cell deviates ≥2× from the
    * independence expectation row·col/total, by exact integer
    * cross-multiplication — a source that only publishes one
    * language, a language funneled through one source), else `ok`.
    * This is the mixture-monitoring report behind q112's rebalance
    * decisions: rebalance needs the matrix first.
    *
    * One cell aggregate (domain-bounded), margins via two windows on
    * the grid (margin-cardinality input), zero float arithmetic. */
  def q176CoverageMatrix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val cells = docs.groupBy($"lang", $"source").agg(count(lit(1)).as("n"))
    val grid = docs.select($"lang").distinct()
      .crossJoin(docs.select($"source").distinct())
    val full = grid.join(cells, Seq("lang", "source"), "left")
      .withColumn("n", coalesce($"n", lit(0L)))
      .withColumn("row_total", sum($"n").over(Window.partitionBy($"lang")))
      .withColumn("col_total", sum($"n").over(Window.partitionBy($"source")))
      .withColumn("total", sum($"n").over(Window.partitionBy()))
    full.select($"lang", $"source", $"n", $"row_total", $"col_total",
      when($"n" === 0L, "missing")
        .when(lit(2) * $"n" * $"total" < $"row_total" * $"col_total", "under")
        .when($"n" * $"total" > lit(2) * $"row_total" * $"col_total", "over")
        .otherwise("ok").as("flag"))
      .orderBy($"lang", $"source")
  }

  private val q176Oracle =
    """WITH cells AS (
      |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n
      |  FROM documents GROUP BY 1, 2),
      |grid AS (
      |  SELECT l.lang, s.source
      |  FROM (SELECT DISTINCT lang FROM documents) l,
      |       (SELECT DISTINCT source FROM documents) s),
      |f AS (
      |  SELECT g.lang, g.source, COALESCE(n, 0) AS n
      |  FROM grid g LEFT JOIN cells
      |    ON g.lang = cells.lang AND g.source = cells.source),
      |m AS (
      |  SELECT lang, source, n,
      |    CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS row_total,
      |    CAST(sum(n) OVER (PARTITION BY source) AS BIGINT) AS col_total,
      |    CAST(sum(n) OVER () AS BIGINT) AS total
      |  FROM f)
      |SELECT lang, source, n, row_total, col_total,
      |  CASE WHEN n = 0 THEN 'missing'
      |       WHEN 2 * n * total < row_total * col_total THEN 'under'
      |       WHEN n * total > 2 * row_total * col_total THEN 'over'
      |       ELSE 'ok' END AS flag
      |FROM m ORDER BY lang, source""".stripMargin

  // ---------------------------------------------------------------- q196
  /** AUC of the q125 LM-fluency score as a detector of non-English
    * documents — scorer evaluation INSIDE the engine, the check a
    * filtering pipeline runs before trusting a score as a gate
    * (q118 calibrates a similarity threshold; this evaluates a
    * ranking). The trigram LM is trained on the mixed corpus, so
    * majority-language text scores fluent and other languages rank
    * high on NLL: AUC quantifies exactly how separable they are.
    *
    * Exact Mann–Whitney with midranks, all integers: doubled ranks
    * `2·minrank + ties − 1` keep tie-averaged ranks integral, and
    * AUC_ppm = 10⁶·(Σdr⁺ − n⁺(n⁺+1)) div (2·n⁺·n⁻) — a rank-sum,
    * not a trapezoid sweep, so no float accumulation anywhere.
    * Ranking costs one global sort of (score, label) PAIRS — eval
    * sets are sample-bounded by design (score on the corpus, AUC on
    * a labeled sample); per-group AUC would partition the same
    * windows. */
  def q196ScoreAuc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    aucOf(q125LmScore(s, dir)
      .join(Tables.documents(s, dir).select($"doc_id", $"lang"), "doc_id")
      .select($"avg_nll_micro".as("score"),
        when($"lang" =!= "en", 1L).otherwise(0L).as("label")))
  }

  /** Mann–Whitney AUC on any (score BIGINT, label 0/1) frame —
    * optionally PER SLICE (`grpCols`): ranking windows partition by
    * the slice, so each slice's AUC is independent and the global
    * sort becomes per-slice sorts. Separated so the spec can plant
    * perfect, inverted, and random separations. */
  private[ops] def aucOf(scored: DataFrame,
      grpCols: Seq[String] = Nil): DataFrame = {
    val s = scored.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val g = grpCols.map(col)
    val wRank = Window.partitionBy(g: _*).orderBy($"score")
    val wTies = Window.partitionBy(g :+ $"score": _*)
    val agged = scored
      .withColumn("dr",
        lit(2) * rank().over(wRank) + count(lit(1)).over(wTies) - 1)
      .groupBy(g: _*)
      .agg(
        sum(when($"label" === 1L, $"dr").otherwise(0L)).as("sr2"),
        sum($"label").as("np"), count(lit(1)).as("n"))
    agged.select(g ++ Seq($"np".as("n_pos"), ($"n" - $"np").as("n_neg"),
      expr("(1000000 * (sr2 - np * (np + 1))) div (2 * np * (n - np))")
        .as("auc_ppm")): _*)
  }

  private val q196Oracle =
    s"""WITH lm_scored AS (${q125Oracle.replace("ORDER BY d.doc_id", "")}),
       |sl AS (
       |  SELECT s.avg_nll_micro AS score,
       |    CASE WHEN d.lang <> 'en' THEN 1 ELSE 0 END AS label
       |  FROM lm_scored s JOIN documents d ON s.doc_id = d.doc_id),
       |r AS (
       |  SELECT label,
       |    CAST(2 * rank() OVER (ORDER BY score)
       |      + count(*) OVER (PARTITION BY score) - 1 AS BIGINT) AS dr
       |  FROM sl),
       |agg AS (
       |  SELECT CAST(sum(CASE WHEN label = 1 THEN dr ELSE 0 END) AS BIGINT)
       |      AS sr2,
       |    CAST(sum(label) AS BIGINT) AS np, CAST(count(*) AS BIGINT) AS n
       |  FROM r)
       |SELECT np AS n_pos, n - np AS n_neg,
       |  CAST((1000000 * (sr2 - np * (np + 1))) // (2 * np * (n - np))
       |    AS BIGINT) AS auc_ppm
       |FROM agg""".stripMargin

  // ---------------------------------------------------------------- q198
  /** Frequency floor for q198's capped vocabulary (q105's pruning
    * discipline at a tighter budget). */
  val oovVocabFloor = 20

  /** Out-of-vocabulary coverage audit: build a frequency-capped
    * vocabulary from the training split (even doc ids — q91's
    * convention), then measure per-language OOV token rates on the
    * held-out split — the tokenizer/vocab QA every multilingual
    * pipeline runs before committing to a vocab budget, because OOV
    * cost is never uniform across languages (the report that
    * catches "the 32k vocab is fine on average and terrible for
    * zh"). Training tokens reduce to a vocab relation (hash agg +
    * HAVING); the held-out side LEFT-joins it on the token — at
    * scale the vocab is budget-bounded and broadcasts. Exact
    * integer counts and ppm rates. */
  def q198OovCoverage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documentsSpread(s, dir)
    val vocab = docs.where($"doc_id" % 2 === 0)
      .select(explode(split(TextExprs.lower($"text"), " ")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("c"))
      .where($"c" >= oovVocabFloor)
      .select($"tok", lit(1).as("known"))
    docs.where($"doc_id" % 2 === 1)
      .select($"lang", explode(split(TextExprs.lower($"text"), " ")).as("tok"))
      .join(broadcast(vocab), Seq("tok"), "left")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when($"known".isNull, 1L).otherwise(0L)).as("n_oov"))
      .select($"lang", $"n_tokens", $"n_oov",
        expr("(1000000 * n_oov) div n_tokens").as("oov_ppm"))
      .orderBy($"lang")
  }

  private val q198Oracle =
    s"""WITH tr AS (
       |  SELECT unnest(string_split(lower(text), ' ')) AS tok
       |  FROM documents WHERE doc_id % 2 = 0),
       |vocab AS (
       |  SELECT tok FROM tr GROUP BY tok HAVING count(*) >= $oovVocabFloor),
       |ev AS (
       |  SELECT lang, unnest(string_split(lower(text), ' ')) AS tok
       |  FROM documents WHERE doc_id % 2 = 1)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN vocab.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_oov,
       |  CAST((1000000 * sum(CASE WHEN vocab.tok IS NULL THEN 1 ELSE 0 END))
       |    // count(*) AS BIGINT) AS oov_ppm
       |FROM ev LEFT JOIN vocab USING (tok)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q199
  /** Calibration (reliability) bins for the q125 LM score as a
    * non-English detector — q196 says HOW SEPARABLE (one AUC
    * number); this says WHERE the score is trustworthy: docs
    * bucketed into score deciles under a total order, each decile's
    * observed positive rate in ppm. A monotone rate curve means the
    * score orders risk correctly even where it is miscalibrated;
    * flat segments tell a gating pipeline which score range is
    * uninformative. Integer counts/ppm; decile cut = the exact
    * ntile(10) under the (score, doc_id) total order, computed via
    * [[Ranks.withGlobalRank]] — the hierarchical rank, so the
    * population-grain sort never funnels through one task (the
    * single-partition WindowExec a bare ntile window would plan). */
  def q199CalibrationBins(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = q125LmScore(s, dir)
      .join(Tables.documents(s, dir).select($"doc_id", $"lang"), "doc_id")
      .select($"doc_id", $"avg_nll_micro",
        when($"lang" =!= "en", 1L).otherwise(0L).as("pos"))
    Ranks.withGlobalRank(scored, $"avg_nll_micro", $"doc_id", "__gr",
      nName = "__gn")
      .withColumn("decile", Ranks.ntileExpr(10, "__gr", "__gn"))
      .groupBy($"decile")
      .agg(count(lit(1)).as("n"), sum($"pos").as("n_pos"),
        min($"avg_nll_micro").as("score_lo"),
        max($"avg_nll_micro").as("score_hi"))
      .select($"decile", $"n", $"score_lo", $"score_hi", $"n_pos",
        expr("(1000000 * n_pos) div n").as("pos_ppm"))
      .orderBy($"decile")
  }

  private val q199Oracle =
    s"""WITH lm_scored AS (${q125Oracle.replace("ORDER BY d.doc_id", "")}),
       |sl AS (
       |  SELECT s.doc_id, s.avg_nll_micro,
       |    CASE WHEN d.lang <> 'en' THEN 1 ELSE 0 END AS pos,
       |    ntile(10) OVER (ORDER BY s.avg_nll_micro, s.doc_id) AS decile
       |  FROM lm_scored s JOIN documents d ON s.doc_id = d.doc_id)
       |SELECT CAST(decile AS BIGINT) AS decile, CAST(count(*) AS BIGINT) AS n,
       |  min(avg_nll_micro) AS score_lo, max(avg_nll_micro) AS score_hi,
       |  CAST(sum(pos) AS BIGINT) AS n_pos,
       |  CAST((1000000 * sum(pos)) // count(*) AS BIGINT) AS pos_ppm
       |FROM sl GROUP BY decile ORDER BY decile""".stripMargin

  // ---------------------------------------------------------------- q304
  /** Average precision (PR-AUC) of the q125 LM score as a non-English
    * detector — the ranking metric that matches how a CURATION
    * pipeline actually consumes the score: "review/drop the top-k",
    * where what matters is precision among the flagged, not q196's
    * P(pos ranks above neg) over ALL pairs. Under class imbalance
    * the two disagree badly (ROC-AUC is blind to the negative flood
    * at the top; AP is exactly the area under precision-recall).
    * AP = mean over positives of precision@their-rank, under the
    * PINNED total order (score desc, doc_id) — q199's determinism
    * device: reproducibility beats tie-neutrality, and the tie term
    * is at most one midrank's worth. Per-positive terms are
    * (10⁶·cum_pos) div rank, floors mirrored; headline precision@10
    * and recall@10 come from the same cumulative window. Empty
    * classes report −1 sentinels (q270's convention), never NULL
    * from a division.
    *
    * Scale shape: AP is a rank-walk over the EVAL frame — inherently
    * a total order over what it scores. An eval set is bounded by
    * construction; a corpus-sized input samples first (q49's trick),
    * exactly like q270's cap convention. One hierarchical-rank pass
    * ([[Ranks.withGlobalRank]]), one agg. */
  def q304AveragePrecision(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    averagePrecisionOf(q125LmScore(s, dir)
      .join(Tables.documents(s, dir).select($"doc_id", $"lang"), "doc_id")
      .select($"doc_id", $"avg_nll_micro".as("score"),
        when($"lang" =!= "en", 1L).otherwise(0L).as("label")))
  }

  /** AP on any (doc_id, score BIGINT, label 0/1) frame — separated so
    * the spec can plant perfect, inverted, and interleaved rankings
    * with hand-computed AP. */
  private[ops] def averagePrecisionOf(scored: DataFrame): DataFrame = {
    val s = scored.sparkSession
    import s.implicits._
    // rank + running positives via the hierarchical device (score
    // DESC = negated-key ASC), never a single-partition window: the
    // eval frame is bounded by construction, but the rank walk should
    // not be the one operator that stops scaling if it isn't.
    Ranks.withGlobalRank(scored, -$"score", $"doc_id", "rn",
        sums = Seq(($"label", "cum_pos")))
      .agg(count(lit(1)).as("n"), sum($"label").as("n_pos"),
        sum(when($"label" === 1L,
          expr("(1000000 * cum_pos) div rn")).otherwise(0L)).as("term_sum"),
        max(when($"rn" <= 10, $"cum_pos")).as("pos_at_10"))
      .select($"n", $"n_pos",
        expr("CASE WHEN n_pos = 0 THEN -1 ELSE term_sum div n_pos END")
          .as("ap_ppm"),
        expr("(1000000 * pos_at_10) div least(n, 10)").as("p_at_10_ppm"),
        expr("CASE WHEN n_pos = 0 THEN -1 "
          + "ELSE (1000000 * pos_at_10) div n_pos END").as("r_at_10_ppm"))
  }

  private val q304Oracle =
    s"""WITH lm_scored AS (${q125Oracle.replace("ORDER BY d.doc_id", "")}),
       |sl AS (
       |  SELECT s.doc_id, s.avg_nll_micro AS score,
       |    CASE WHEN d.lang <> 'en' THEN 1 ELSE 0 END AS label
       |  FROM lm_scored s JOIN documents d ON s.doc_id = d.doc_id),
       |r AS (
       |  SELECT label,
       |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
       |      AS rn,
       |    CAST(sum(label) OVER (ORDER BY score DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_pos
       |  FROM sl),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(label) AS BIGINT) AS n_pos,
       |    CAST(sum(CASE WHEN label = 1
       |      THEN (1000000 * cum_pos) // rn ELSE 0 END) AS BIGINT)
       |      AS term_sum,
       |    CAST(max(CASE WHEN rn <= 10 THEN cum_pos END) AS BIGINT)
       |      AS pos_at_10
       |  FROM r)
       |SELECT n, n_pos,
       |  CAST(CASE WHEN n_pos = 0 THEN -1 ELSE term_sum // n_pos END
       |    AS BIGINT) AS ap_ppm,
       |  CAST((1000000 * pos_at_10) // least(n, 10) AS BIGINT)
       |    AS p_at_10_ppm,
       |  CAST(CASE WHEN n_pos = 0 THEN -1
       |    ELSE (1000000 * pos_at_10) // n_pos END AS BIGINT) AS r_at_10_ppm
       |FROM agg""".stripMargin

  // ---------------------------------------------------------------- q306
  /** Murphy decomposition of the Brier score for the per-source
    * base-rate forecaster, CROSS-FITTED: the forecaster predicts
    * each source's non-English rate learned on the train half (even
    * doc_ids, q91's convention), evaluated on the held-out half —
    * q199 draws the reliability curve for a score; this prices a
    * categorical forecaster in one audited identity
    * Brier = Reliability − Resolution + Uncertainty (Murphy 1973):
    * how miscalibrated (REL, 0 = perfect), how much the grouping
    * actually discriminates (RES), and the label noise floor no
    * forecaster can beat (UNC = p̄(1−p̄)). In-sample evaluation would
    * report REL≈0 by construction — the train/test split is what
    * makes the readout honest (q291's argument at the metric level).
    * A source with no train rows falls back to the global train rate
    * (never NULL forecasts). All terms in micro fixed point with
    * mirrored floors: rates are exact count ratios, squared
    * differences divided down once per bin.
    *
    * Scale shape: two passes to source grain (train rates, test
    * outcomes), a broadcast join of two source-cardinality frames,
    * then bin-grain arithmetic — the corpus is touched twice, never
    * sorted, never widened. */
  def q306BrierDecomposition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    brierDecompositionOf(Tables.documents(s, dir)
      .select($"doc_id", $"source",
        when($"lang" =!= "en", 1L).otherwise(0L).as("pos")))
  }

  /** The decomposition on any (doc_id, source, pos 0/1) frame —
    * separated so the spec can plant a perfectly calibrated
    * forecaster (REL = 0, identity exact) and a train-less source
    * exercising the global-rate fallback. */
  private[ops] def brierDecompositionOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val train = docs.where($"doc_id" % 2 === 0)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_tr"), sum($"pos").as("pos_tr"))
    val globalF = train.agg(
      expr("(1000000 * sum(pos_tr)) div sum(n_tr)").as("f_glob"))
    val test = docs.where($"doc_id" % 2 === 1)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_te"), sum($"pos").as("pos_te"))
    val bins = test
      .join(broadcast(train), Seq("source"), "left")
      .crossJoin(broadcast(globalF))
      .select($"n_te", $"pos_te",
        coalesce(expr("(1000000 * pos_tr) div n_tr"), $"f_glob").as("f"),
        expr("(1000000 * pos_te) div n_te").as("o"))
    val tot = bins
      .agg(sum($"n_te").as("n_test"), count(lit(1)).as("n_sources"),
        sum($"pos_te").as("pos_test"))
      .select($"n_test", $"n_sources",
        expr("(1000000 * pos_test) div n_test").as("pbar_micro"))
    bins.crossJoin(broadcast(tot))
      .agg(max($"n_test").as("n_test"), max($"n_sources").as("n_sources"),
        max($"pbar_micro").as("pbar_micro"),
        sum(expr("n_te * (((f - o) * (f - o)) div 1000000)")).as("rel_num"),
        sum(expr("n_te * (((o - pbar_micro) * (o - pbar_micro)) div 1000000)"))
          .as("res_num"))
      .select($"n_test", $"n_sources", $"pbar_micro",
        expr("rel_num div n_test").as("rel_micro"),
        expr("res_num div n_test").as("res_micro"),
        expr("(pbar_micro * (1000000 - pbar_micro)) div 1000000")
          .as("unc_micro"))
      .withColumn("brier_micro",
        $"rel_micro" - $"res_micro" + $"unc_micro")
  }

  private val q306Oracle =
    """WITH d AS (
      |  SELECT doc_id, source,
      |    CASE WHEN lang <> 'en' THEN 1 ELSE 0 END AS pos
      |  FROM documents),
      |tr AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_tr,
      |    CAST(sum(pos) AS BIGINT) AS pos_tr
      |  FROM d WHERE doc_id % 2 = 0 GROUP BY source),
      |gtr AS (
      |  SELECT (1000000 * CAST(sum(pos_tr) AS BIGINT))
      |    // CAST(sum(n_tr) AS BIGINT) AS f_glob FROM tr),
      |te AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_te,
      |    CAST(sum(pos) AS BIGINT) AS pos_te
      |  FROM d WHERE doc_id % 2 = 1 GROUP BY source),
      |bins AS (
      |  SELECT n_te, pos_te,
      |    COALESCE((1000000 * pos_tr) // n_tr, f_glob) AS f,
      |    (1000000 * pos_te) // n_te AS o
      |  FROM te LEFT JOIN tr USING (source), gtr),
      |tot AS (
      |  SELECT CAST(sum(n_te) AS BIGINT) AS n_test,
      |    CAST(count(*) AS BIGINT) AS n_sources,
      |    (1000000 * CAST(sum(pos_te) AS BIGINT))
      |      // CAST(sum(n_te) AS BIGINT) AS pbar_micro
      |  FROM bins),
      |terms AS (
      |  SELECT max(n_test) AS n_test, max(n_sources) AS n_sources,
      |    max(pbar_micro) AS pbar_micro,
      |    CAST(sum(n_te * (((f - o) * (f - o)) // 1000000)) AS BIGINT)
      |      AS rel_num,
      |    CAST(sum(n_te * (((o - pbar_micro) * (o - pbar_micro))
      |      // 1000000)) AS BIGINT) AS res_num
      |  FROM bins, tot)
      |SELECT n_test, n_sources, pbar_micro,
      |  rel_num // n_test AS rel_micro,
      |  res_num // n_test AS res_micro,
      |  (pbar_micro * (1000000 - pbar_micro)) // 1000000 AS unc_micro,
      |  rel_num // n_test - res_num // n_test
      |    + (pbar_micro * (1000000 - pbar_micro)) // 1000000 AS brier_micro
      |FROM terms""".stripMargin

  // ---------------------------------------------------------------- q206
  /** Per-SOURCE AUC of the q125 LM score as a non-English detector —
    * the slice-level evaluation that catches what q196's single
    * corpus AUC averages away: a scorer can look fine globally while
    * being useless (or inverted) on one source's text. Slices whose
    * label is constant (no positives or no negatives) have no
    * defined AUC and are reported with NULL rather than dropped —
    * the honest posture; a dashboard needs to see WHICH slices were
    * unevaluable. Same integer midrank machinery as q196 with
    * per-slice ranking windows (bounded fan-in per source). */
  def q206SliceAuc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = q125LmScore(s, dir)
      .join(Tables.documents(s, dir).select($"doc_id", $"lang", $"source"),
        "doc_id")
      .select($"source", $"avg_nll_micro".as("score"),
        when($"lang" =!= "en", 1L).otherwise(0L).as("label"))
    aucOf(scored, Seq("source"))
      .select($"source", $"n_pos", $"n_neg",
        when($"n_pos" > 0 && $"n_neg" > 0, $"auc_ppm").as("auc_ppm"))
      .orderBy($"source")
  }

  private val q206Oracle =
    s"""WITH lm_scored AS (${q125Oracle.replace("ORDER BY d.doc_id", "")}),
       |sl AS (
       |  SELECT d.source, s.avg_nll_micro AS score,
       |    CASE WHEN d.lang <> 'en' THEN 1 ELSE 0 END AS label
       |  FROM lm_scored s JOIN documents d ON s.doc_id = d.doc_id),
       |r AS (
       |  SELECT source, label,
       |    CAST(2 * rank() OVER (PARTITION BY source ORDER BY score)
       |      + count(*) OVER (PARTITION BY source, score) - 1 AS BIGINT) AS dr
       |  FROM sl),
       |agg AS (
       |  SELECT source,
       |    CAST(sum(CASE WHEN label = 1 THEN dr ELSE 0 END) AS BIGINT) AS sr2,
       |    CAST(sum(label) AS BIGINT) AS np, CAST(count(*) AS BIGINT) AS n
       |  FROM r GROUP BY 1)
       |SELECT source, np AS n_pos, n - np AS n_neg,
       |  CASE WHEN np > 0 AND n - np > 0
       |    THEN CAST((1000000 * (sr2 - np * (np + 1))) // (2 * np * (n - np))
       |      AS BIGINT)
       |    ELSE NULL END AS auc_ppm
       |FROM agg ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q215
  /** Top-N-plus-Other rollup: per language, the top 3 sources by doc
    * count as named rows and everything else collapsed into one
    * `OTHER` row — the presentation rollup every dashboard applies
    * so a 10k-source dimension renders as four bars without lying
    * about the tail's existence (dropping it is how "top sources"
    * charts silently hide half the corpus). Total order (count desc,
    * source) makes the cut deterministic; the rollup is a projection
    * + re-aggregation of the dimension-sized counts, never a second
    * corpus pass. */
  val topnKeep = 3

  def q215TopnOther(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"lang").orderBy($"n".desc, $"source")
    Tables.documents(s, dir)
      .groupBy($"lang", $"source").agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w))
      .select($"lang",
        when($"rn" <= topnKeep, $"source").otherwise("OTHER").as("source"),
        $"n",
        when($"rn" <= topnKeep, $"rn".cast("long")).otherwise(lit(topnKeep + 1L))
          .as("rnk"))
      .groupBy($"lang", $"source", $"rnk")
      .agg(sum($"n").as("n_docs"), count(lit(1)).as("n_sources"))
      .orderBy($"lang", $"rnk", $"source")
  }

  private val q215Oracle =
    s"""WITH c AS (
       |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n
       |  FROM documents GROUP BY 1, 2),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY lang
       |    ORDER BY n DESC, source) AS rn
       |  FROM c),
       |m AS (
       |  SELECT lang,
       |    CASE WHEN rn <= $topnKeep THEN source ELSE 'OTHER' END AS source,
       |    CASE WHEN rn <= $topnKeep THEN CAST(rn AS BIGINT)
       |      ELSE ${topnKeep + 1} END AS rnk,
       |    n
       |  FROM r)
       |SELECT lang, source, rnk, CAST(sum(n) AS BIGINT) AS n_docs,
       |  CAST(count(*) AS BIGINT) AS n_sources
       |FROM m GROUP BY 1, 2, 3 ORDER BY lang, rnk, source""".stripMargin

  // ---------------------------------------------------------------- q216
  /** Percent-rank feature scaling in exact integer ppm: each doc's
    * length percentile WITHIN its language — the rank-based feature
    * transform (robust to outliers and per-group distribution shift,
    * unlike z-scores) a downstream model consumes directly. Spark's
    * `percent_rank` returns a double ratio; the ppm integer
    * `10⁶·(rank−1) div (n−1)` is the same statistic made hash-exact,
    * with single-doc groups pinned to 0 rather than NULL (the honest
    * degenerate: one doc IS its group's minimum). Metadata-only scan
    * (doc_id, lang, n_chars); per-language ranking windows. */
  def q216PctRankFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"lang")
    Tables.documents(s, dir)
      .select($"doc_id", $"lang", $"n_chars")
      .withColumn("rk", rank().over(w.orderBy($"n_chars", $"doc_id")).cast("long"))
      .withColumn("n", count(lit(1)).over(w))
      .select($"doc_id", $"lang", $"n_chars",
        when($"n" === 1L, 0L)
          .otherwise(expr("(1000000 * (rk - 1)) div (n - 1)"))
          .as("len_pct_ppm"))
      .orderBy($"doc_id")
  }

  private val q216Oracle =
    """WITH r AS (
      |  SELECT doc_id, lang, n_chars,
      |    CAST(rank() OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
      |      AS BIGINT) AS rk,
      |    CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n
      |  FROM documents)
      |SELECT doc_id, lang, n_chars,
      |  CASE WHEN n = 1 THEN 0
      |    ELSE CAST((1000000 * (rk - 1)) // (n - 1) AS BIGINT) END
      |    AS len_pct_ppm
      |FROM r ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q193
  /** Source-concentration report: every source ranked by document
    * count with its cumulative share banded head (first half of the
    * corpus) / body (to 90%) / tail, plus the Herfindahl–Hirschman
    * concentration index in ppm riding on every row — the power-law
    * audit behind diversity requirements ("is this corpus secretly
    * three domains?") and q112's rebalance targets. Bands and HHI
    * are exact integer cross-multiplications (2·(cum−n) < total
    * etc.; HHI = 10⁶·Σn² ∕ total² — Σn² ≤ total² keeps the scaled
    * numerator in range while totals fit 10⁹, the comment a 100 TB
    * deployment revisits with a wider grid). Source cardinality is
    * domain-bounded, so ranking windows run on a dimension-sized
    * frame; the corpus contributes one counting shuffle. */
  def q193SourceConcentration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir)
      .groupBy($"source").agg(count(lit(1)).as("n"))
    val t = d.agg(sum($"n").cast("long").as("total"),
      sum($"n" * $"n").cast("long").as("sq"))
    val wRank = Window.orderBy($"n".desc, $"source")
    d.crossJoin(broadcast(t))
      .withColumn("rnk", row_number().over(wRank))
      .withColumn("cum", sum($"n").over(
        wRank.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"source", $"n", $"rnk", $"cum",
        when(lit(2) * ($"cum" - $"n") < $"total", "head")
          .when(lit(10) * ($"cum" - $"n") < lit(9) * $"total", "body")
          .otherwise("tail").as("band"),
        expr("(1000000 * sq) div (total * total)").as("hhi_ppm"))
      .orderBy($"rnk")
  }

  private val q193Oracle =
    """WITH d AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n
      |  FROM documents GROUP BY 1),
      |t AS (
      |  SELECT CAST(sum(n) AS BIGINT) AS total,
      |    CAST(sum(n * n) AS BIGINT) AS sq
      |  FROM d),
      |r AS (
      |  SELECT source, n,
      |    row_number() OVER (ORDER BY n DESC, source) AS rnk,
      |    CAST(sum(n) OVER (ORDER BY n DESC, source
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM d)
      |SELECT r.source, r.n, CAST(r.rnk AS BIGINT) AS rnk, r.cum,
      |  CASE WHEN 2 * (r.cum - r.n) < t.total THEN 'head'
      |       WHEN 10 * (r.cum - r.n) < 9 * t.total THEN 'body'
      |       ELSE 'tail' END AS band,
      |  CAST((1000000 * t.sq) // (t.total * t.total) AS BIGINT) AS hhi_ppm
      |FROM r, t ORDER BY rnk""".stripMargin

  // ---------------------------------------------------------------- q222
  /** Per-document unigram entropy in exact integer micro-nats — the
    * self-information quality signal: boilerplate and keyword-stuffed
    * docs have LOW entropy for their length, q59's repetition ratio
    * catches only verbatim runs, and q125's LM score measures
    * fluency against the CORPUS model rather than the doc's own
    * distribution. H = ln N − (1/N)·Σ c_w·ln c_w over whitespace
    * tokens (q73's tokenizer), computed with the q125/q208 ln
    * discipline: every ln is a single fixed-form `floor(ln(exact
    * integer)·10⁶)` both engines evaluate identically, and all
    * combining arithmetic is BIGINT. The normalized ratio
    * (entropy / ln N, the 0–1 "how close to maximally diverse")
    * guards the N=1 doc explicitly — both engines would otherwise
    * divide by L(1)=0.
    *
    * Scale: tokens explode to (doc_id, tok) pairs and immediately
    * count down to (doc, distinct-tok) grain in a map-side-combining
    * agg — the full text never shuffles; the second agg lands on
    * doc grain. Same two-shuffle shape as q73. */
  def q222DocEntropy(s: SparkSession, dir: String): DataFrame =
    entropyOf(Tables.documentsSpread(s, dir))

  /** The entropy pipeline on any (doc_id, text) frame — separated so
    * the spec can verify the closed-form anchors (uniform doc →
    * ratio 10⁶, constant doc → 0, single token → guarded 0). */
  private[ops] def entropyOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"doc_id", explode(split(TextExprs.lower($"text"), " ")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_tokens"), count(lit(1)).as("n_distinct"),
        sum($"c" * expr("CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000D) AS BIGINT)"))
          .as("sum_clc"))
      .select($"doc_id", $"n_tokens", $"n_distinct",
        (expr("CAST(floor(ln(CAST(n_tokens AS DOUBLE)) * 1000000D) AS BIGINT)")
          - expr("sum_clc div n_tokens")).as("entropy_micro"))
      .withColumn("entropy_ratio_ppm", expr(
        """CASE WHEN n_tokens = 1 THEN 0L ELSE
          |  (1000000 * entropy_micro) div
          |    CAST(floor(ln(CAST(n_tokens AS DOUBLE)) * 1000000D) AS BIGINT)
          |END""".stripMargin))
      .orderBy($"doc_id")
  }

  private val q222Oracle =
    """WITH tk AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      |  FROM documents),
      |ct AS (
      |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
      |  FROM tk GROUP BY 1, 2),
      |ag AS (
      |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
      |    CAST(count(*) AS BIGINT) AS n_distinct,
      |    CAST(sum(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT))
      |      AS BIGINT) AS sum_clc
      |  FROM ct GROUP BY 1),
      |e AS (
      |  SELECT doc_id, n_tokens, n_distinct,
      |    CAST(floor(ln(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT)
      |      - sum_clc // n_tokens AS entropy_micro
      |  FROM ag)
      |SELECT doc_id, n_tokens, n_distinct,
      |  CAST(entropy_micro AS BIGINT) AS entropy_micro,
      |  CAST(CASE WHEN n_tokens = 1 THEN 0 ELSE
      |    (1000000 * entropy_micro) //
      |      CAST(floor(ln(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT)
      |  END AS BIGINT) AS entropy_ratio_ppm
      |FROM e ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q224
  /** Winsorized per-source length statistics — the robust mean the
    * curation dashboards should quote: a handful of megadocs (or
    * empty stubs) drag a plain mean arbitrarily far, q134's MAD
    * FLAGS outliers, but winsorization CLIPS them to the p5/p95
    * fences and reports how many rows hit each fence — a mean with
    * a bounded influence function plus an honest clip count.
    *
    * Exact discrete fences by the first-crossing rank device (q209:
    * smallest value whose rank satisfies 20·rn ≥ n / 20·rn ≥ 19·n),
    * per-source ranking windows; the fence table is source-grain
    * (dimension-bounded) and broadcast-joins back for the clip
    * pass, so the corpus shuffles once for ranking and once for the
    * final source aggregate. All arithmetic BIGINT. */
  def q224WinsorizedStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir).select($"source", $"n_chars")
    val w = Window.partitionBy($"source")
    val fences = d
      .withColumn("rn", row_number().over(w.orderBy($"n_chars")).cast("long"))
      .withColumn("n", count(lit(1)).over(w))
      .groupBy($"source")
      .agg(min(when(lit(20) * $"rn" >= $"n", $"n_chars")).as("p05"),
        min(when(lit(20) * $"rn" >= lit(19) * $"n", $"n_chars")).as("p95"))
    d.join(broadcast(fences), "source")
      .select($"source", $"p05", $"p95",
        greatest($"p05", least($"p95", $"n_chars")).as("clipped"),
        ($"n_chars" < $"p05").cast("long").as("lo"),
        ($"n_chars" > $"p95").cast("long").as("hi"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), max($"p05").as("p05"),
        max($"p95").as("p95"), sum($"lo").as("n_clipped_low"),
        sum($"hi").as("n_clipped_high"),
        expr("sum(clipped) div count(1)").as("winsorized_mean"))
      .orderBy($"source")
  }

  private val q224Oracle =
    """WITH d AS (SELECT source, n_chars FROM documents),
      |r AS (
      |  SELECT source, n_chars,
      |    CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars)
      |      AS BIGINT) AS rn,
      |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
      |  FROM d),
      |f AS (
      |  SELECT source,
      |    min(CASE WHEN 20 * rn >= n THEN n_chars END) AS p05,
      |    min(CASE WHEN 20 * rn >= 19 * n THEN n_chars END) AS p95
      |  FROM r GROUP BY 1),
      |c AS (
      |  SELECT d.source, f.p05, f.p95,
      |    greatest(f.p05, least(f.p95, d.n_chars)) AS clipped,
      |    CASE WHEN d.n_chars < f.p05 THEN 1 ELSE 0 END AS lo,
      |    CASE WHEN d.n_chars > f.p95 THEN 1 ELSE 0 END AS hi
      |  FROM d JOIN f ON d.source = f.source)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  max(p05) AS p05, max(p95) AS p95,
      |  CAST(sum(lo) AS BIGINT) AS n_clipped_low,
      |  CAST(sum(hi) AS BIGINT) AS n_clipped_high,
      |  CAST(sum(clipped) // count(*) AS BIGINT) AS winsorized_mean
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q225
  /** Bucket count for the q225 hashing-trick encoder. */
  val featHashBuckets = 64L

  /** Feature hashing (the hashing trick) — fixed-width sparse
    * features from unbounded categorical domains with NO vocabulary
    * pass: each feature string maps to `md5(feature) % B`, colliding
    * features simply add. q105 builds an explicit vocabulary (exact,
    * two passes, needs a dictionary shuffle); this is the one-pass
    * zero-state encoder a 100 TB featurizer starts with, traded
    * against collisions that the rider `n_features` column lets a
    * consumer audit (w > 1 on a doc's bucket = in-doc collision).
    *
    * Hashing uses the q49 md5-prefix device — engine-identical by
    * construction, no engine-native hash() whose seeds differ.
    * Scale: pure projection → 3-element explode → one (doc, bucket)
    * map-side-combining agg; nothing else shuffles. */
  def q225FeatureHashing(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def h(c: Column): Column =
      conv(substring(md5(c), 1, 4), 16, 10).cast("long") % featHashBuckets
    Tables.documents(s, dir)
      .select($"doc_id", explode(array(
        concat(lit("lang:"), $"lang"),
        concat(lit("src:"), $"source"),
        concat(lit("len:"), expr("CAST(n_chars div 500 AS STRING)"))))
        .as("feat"))
      .select($"doc_id", h($"feat").as("bucket"))
      .groupBy($"doc_id", $"bucket").agg(count(lit(1)).as("w"))
      .orderBy($"doc_id", $"bucket")
  }

  private val q225Oracle =
    s"""WITH feats AS (
       |  SELECT doc_id, unnest([
       |    'lang:' || lang, 'src:' || source,
       |    'len:' || CAST(n_chars // 500 AS VARCHAR)]) AS feat
       |  FROM documents),
       |hashed AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(feat), 1, 4))::BIGINT % $featHashBuckets
       |      AS bucket
       |  FROM feats)
       |SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS w
       |FROM hashed GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin

  // ---------------------------------------------------------------- q239
  /** Ranks fitted by the q239 Zipf regression. */
  val zipfTopN = 1000L

  /** Zipf-slope fit — the corpus-naturalness check: natural language
    * word frequencies follow freq ∝ rank^(−s) with s ≈ 1, and a
    * corpus whose fitted slope is far off (too flat: synthetic /
    * template spam; too steep: near-duplicate collapse) fails the
    * linguistic smell test before any model sees it. OLS on the
    * log–log points of the top-1000 words, every term exact
    * integers: x = floor(ln rank · 10³) (milli-nats), y =
    * floor(ln freq · 10⁶) (micro-nats — the q125 ln discipline),
    * x INTEGER-CENTERED before the q135 closed form so n·Σxy stays
    * ~10¹⁶ ≪ 2⁶³ (uncentered, the cross terms overflow at this
    * scale — the documented reason for the centering step). The
    * milli/micro unit split makes the fitted ratio land in units of
    * 10⁻³ — slope_milli ≈ −1000 for a textbook corpus.
    *
    * Ranking runs on the VOCABULARY-sized word-count table (q105's
    * justification); the corpus contributes one counting shuffle. */
  def q239ZipfFit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documentsSpread(s, dir)
      .select(explode(split(TextExprs.lower($"text"), " ")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("f"))
    val ranked = counts
      .withColumn("r", row_number().over(
        Window.orderBy($"f".desc, $"w")).cast("long"))
      .where($"r" <= zipfTopN)
      .select(
        expr("CAST(floor(ln(CAST(r AS DOUBLE)) * 1000D) AS BIGINT)").as("x"),
        expr("CAST(floor(ln(CAST(f AS DOUBLE)) * 1000000D) AS BIGINT)").as("y"))
    val stats = ranked.agg(count(lit(1)).as("n"), sum($"x").as("sx"))
    ranked.crossJoin(broadcast(stats))
      .select(($"x" - expr("sx div n")).as("xc"), $"y", $"n")
      .groupBy($"n")
      .agg(sum($"xc").as("sxc"), sum($"y").as("sy"),
        sum($"xc" * $"xc").as("sxx"), sum($"xc" * $"y").as("sxy"))
      .select($"n".as("n_points"),
        expr("(n * sxy - sxc * sy) div (n * sxx - sxc * sxc)")
          .as("slope_milli"))
  }

  private val q239Oracle =
    s"""WITH counts AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS f FROM (
       |    SELECT unnest(string_split(lower(text), ' ')) AS w
       |    FROM documents) GROUP BY 1),
       |ranked AS (
       |  SELECT CAST(floor(ln(CAST(r AS DOUBLE)) * 1000) AS BIGINT) AS x,
       |    CAST(floor(ln(CAST(f AS DOUBLE)) * 1000000) AS BIGINT) AS y
       |  FROM (SELECT f, row_number() OVER (ORDER BY f DESC, w) AS r
       |        FROM counts)
       |  WHERE r <= $zipfTopN),
       |st AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx
       |  FROM ranked),
       |c AS (
       |  SELECT x - (st.sx // st.n) AS xc, y, st.n FROM ranked, st),
       |a AS (
       |  SELECT n, CAST(sum(xc) AS BIGINT) AS sxc,
       |    CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(xc * xc) AS BIGINT) AS sxx,
       |    CAST(sum(xc * y) AS BIGINT) AS sxy
       |  FROM c GROUP BY 1)
       |SELECT n AS n_points,
       |  CAST((n * sxy - sxc * sy) // (n * sxx - sxc * sxc) AS BIGINT)
       |    AS slope_milli
       |FROM a""".stripMargin

  // ---------------------------------------------------------------- q241
  /** Shard count for the q241 rendezvous assignment. */
  val rvShards = 8

  /** Rendezvous (highest-random-weight) sharding — STABLE shard
    * assignment: each doc hashes once per candidate shard and lands
    * on its argmax, so adding a shard moves a doc either NOWHERE or
    * to the NEW shard (≈1/(n+1) of docs) — where mod-hashing
    * (q225's bucket = h % B) reshuffles nearly EVERYTHING on a
    * resize. That stability is why real storage routers (Ceph,
    * caches) pay n hashes per key, and the property the spec proves
    * by re-running at 9 shards. md5-prefix weights (the
    * engine-identical q49 device; hex strings compare identically),
    * argmax as max(struct(weight, shard)) with the shard id
    * completing the total order. Pure per-row projection + an
    * 8-element explode; one shard-grain counting shuffle. */
  def q241RendezvousSharding(s: SparkSession, dir: String): DataFrame =
    rendezvousOf(Tables.documents(s, dir), rvShards)

  /** Per-doc argmax assignment at a given shard count — separated so
    * the spec can diff 8 vs 9 shards doc by doc. */
  private[ops] def rendezvousAssign(docs: DataFrame, shards: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select($"doc_id")
      .select($"doc_id", explode(expr(s"sequence(0, ${shards - 1})")).as("sh"))
      .select($"doc_id", struct(
        md5(concat(lit("rv:"), $"doc_id".cast("string"), lit(":"),
          $"sh".cast("string"))).as("w"),
        $"sh".cast("long").as("sh")).as("ws"))
      .groupBy($"doc_id").agg(max($"ws").as("pick"))
      .select($"doc_id", $"pick.sh".as("shard"))
  }

  private[ops] def rendezvousOf(docs: DataFrame, shards: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    rendezvousAssign(docs, shards)
      .groupBy($"shard").agg(count(lit(1)).as("n_docs"))
      .withColumn("share_ppm",
        expr("(1000000 * n_docs) div sum(n_docs) OVER ()"))
      .orderBy($"shard")
  }

  private val q241Oracle =
    s"""WITH w AS (
       |  SELECT doc_id, sh,
       |    md5('rv:' || CAST(doc_id AS VARCHAR) || ':' ||
       |      CAST(sh AS VARCHAR)) AS wt
       |  FROM documents,
       |    (SELECT unnest(generate_series(0, ${rvShards - 1})) AS sh)),
       |pick AS (
       |  SELECT doc_id, CAST(sh AS BIGINT) AS shard FROM (
       |    SELECT doc_id, sh, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY wt DESC, sh DESC) AS rn
       |    FROM w) WHERE rn = 1),
       |g AS (
       |  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs
       |  FROM pick GROUP BY 1)
       |SELECT shard, n_docs,
       |  CAST((1000000 * n_docs) // (sum(n_docs) OVER ()) AS BIGINT)
       |    AS share_ppm
       |FROM g ORDER BY shard""".stripMargin

  // ---------------------------------------------------------------- q242
  /** χ²₀.₀₅ critical values (×10³) by degrees of freedom, 1–24 —
    * interpolated into BOTH engines' CASE so the verdict is shared
    * (q162's constant-table device). */
  val chi2CritMilli: Seq[(Int, Long)] = Seq(
    1 -> 3841L, 2 -> 5991L, 3 -> 7815L, 4 -> 9488L, 5 -> 11070L,
    6 -> 12592L, 7 -> 14067L, 8 -> 15507L, 9 -> 16919L, 10 -> 18307L,
    11 -> 19675L, 12 -> 21026L, 13 -> 22362L, 14 -> 23685L, 15 -> 24996L,
    16 -> 26296L, 17 -> 27587L, 18 -> 28869L, 19 -> 30144L, 20 -> 31410L,
    21 -> 32671L, 22 -> 33924L, 23 -> 35172L, 24 -> 36415L)

  /** R×C chi-square independence test on the lang × source
    * contingency table — "is language mix independent of source?",
    * the generalization of q207's 2×2 A/B readout to full
    * categorical grids (q176 FLAGS under/over cells heuristically;
    * this is the aggregate significance verdict). Integer-exact:
    * each cell contributes 10³·(o·N − r·c)² div (N·r·c) milli-units
    * (cross-multiplied so no expected-value floats exist), dof =
    * (R−1)(C−1), and the verdict compares against the shared
    * critical-value CASE. Bound note: (o·N)² caps the grid at ~10⁹
    * rows per the BIGINT analysis — a 100 TB deployment re-grids to
    * coarser counts first (q193's convention). Contingency cells
    * are DOMAIN-bounded (langs × sources); one counting shuffle. */
  def q242IndependenceTest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables.documents(s, dir)
    val observed = d.groupBy($"lang", $"source").agg(count(lit(1)).as("obs"))
    // the FULL grid: an absent (lang, source) cell has o = 0 but a
    // positive expectation r·c/N — dropping it would understate χ²
    val cells = d.select($"lang").distinct()
      .crossJoin(d.select($"source").distinct())
      .join(observed, Seq("lang", "source"), "left")
      .select($"lang", $"source", coalesce($"obs", lit(0L)).as("o"))
    // beyond the exact table: the classic normal approximation
    // χ²₀.₀₅(d) ≈ d + 1.645·√(2d), in milli with a fixed-form
    // floored sqrt both engines evaluate identically (ln discipline)
    val critCase = chi2CritMilli
      .map { case (d, c) => s"WHEN $d THEN ${c}L" }.mkString(" ")
    val critApprox =
      "1000 * dof + (1645 * CAST(floor(sqrt(CAST(2 * dof AS DOUBLE)) * 1000D) AS BIGINT)) div 1000"
    cells
      .withColumn("r", sum($"o").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"lang")))
      .withColumn("c", sum($"o").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"source")))
      .withColumn("nn", sum($"o").over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .agg(
        max($"nn").as("n"),
        countDistinct($"lang").as("r_cats"),
        countDistinct($"source").as("c_cats"),
        sum(expr("(1000 * (o * nn - r * c) * (o * nn - r * c)) div (nn * r * c)"))
          .as("chi2_milli"))
      .select($"n", $"r_cats", $"c_cats",
        (($"r_cats" - 1) * ($"c_cats" - 1)).as("dof"), $"chi2_milli")
      .withColumn("crit_milli",
        expr(s"CASE dof $critCase ELSE $critApprox END"))
      .withColumn("significant", $"chi2_milli" > $"crit_milli")
  }

  private val q242Oracle = {
    val critCase = chi2CritMilli
      .map { case (d, c) => s"WHEN $d THEN $c" }.mkString(" ")
    s"""WITH obs AS (
       |  SELECT lang, source, CAST(count(*) AS BIGINT) AS obs
       |  FROM documents GROUP BY 1, 2),
       |cells AS (
       |  SELECT g.lang, g.source, COALESCE(obs, 0) AS o
       |  FROM (SELECT l.lang, s.source
       |        FROM (SELECT DISTINCT lang FROM documents) l,
       |             (SELECT DISTINCT source FROM documents) s) g
       |  LEFT JOIN obs ON g.lang = obs.lang AND g.source = obs.source),
       |m AS (
       |  SELECT o,
       |    CAST(sum(o) OVER (PARTITION BY lang) AS BIGINT) AS r,
       |    CAST(sum(o) OVER (PARTITION BY source) AS BIGINT) AS c,
       |    CAST(sum(o) OVER () AS BIGINT) AS nn
       |  FROM cells),
       |agg AS (
       |  SELECT max(nn) AS n,
       |    (SELECT CAST(count(DISTINCT lang) AS BIGINT) FROM documents)
       |      AS r_cats,
       |    (SELECT CAST(count(DISTINCT source) AS BIGINT) FROM documents)
       |      AS c_cats,
       |    CAST(sum((1000 * (o * nn - r * c) * (o * nn - r * c))
       |      // (nn * r * c)) AS BIGINT) AS chi2_milli
       |  FROM m),
       |d2 AS (
       |  SELECT n, r_cats, c_cats,
       |    (r_cats - 1) * (c_cats - 1) AS dof, chi2_milli
       |  FROM agg)
       |SELECT n, r_cats, c_cats, dof, chi2_milli,
       |  CAST(CASE dof $critCase
       |    ELSE 1000 * dof + (1645 *
       |      CAST(floor(sqrt(CAST(2 * dof AS DOUBLE)) * 1000) AS BIGINT))
       |      // 1000 END AS BIGINT) AS crit_milli,
       |  chi2_milli > CASE dof $critCase
       |    ELSE 1000 * dof + (1645 *
       |      CAST(floor(sqrt(CAST(2 * dof AS DOUBLE)) * 1000) AS BIGINT))
       |      // 1000 END AS significant
       |FROM d2""".stripMargin
  }

  // ---------------------------------------------------------------- q246
  /** Decision-stump split search — the supervised-learning primitive
    * IN the engine: the best single threshold on doc length for
    * predicting lang='en', found by exact integer Gini minimization
    * over every candidate split. The shape generalizes to any
    * (feature, label) pair and is the inner loop of tree training —
    * per candidate, left/right class counts come from ONE cumulative
    * window over the feature's value-domain spine (q218's device:
    * candidates are distinct values, never rows), so the whole
    * search is two window passes, no per-split scan.
    *
    * Weighted Gini in exact ppm: side impurity n²−p²−q² over n·N,
    * truncated identically in both engines, so the argmin (tie →
    * smaller threshold) is hash-stable. Count bound: p², n² cap a
    * side at ~3·10⁹ rows before BIGINT — a larger corpus coarsens
    * counts first (q193's convention). */
  def q246DecisionStump(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val pts = Tables.documents(s, dir)
      .select($"n_chars".as("x"),
        ($"lang" === "en").cast("long").as("y"))
    val spine = pts.groupBy($"x")
      .agg(count(lit(1)).as("n"), sum($"y").as("p"))
    val w = Window.orderBy($"x").rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy()
    val cand = spine
      .withColumn("nl", sum($"n").over(w))
      .withColumn("pl", sum($"p").over(w))
      .withColumn("nn", sum($"n").over(wAll))
      .withColumn("pp", sum($"p").over(wAll))
      .where($"nl" < $"nn")   // right side must be non-empty
      .select($"x", $"nl", $"pl", ($"nn" - $"nl").as("nr"),
        ($"pp" - $"pl").as("pr"), $"nn", $"pp")
      .withColumn("gini_ppm", expr(
        """(1000000 * (nl * nl - pl * pl - (nl - pl) * (nl - pl)))
          |  div (nl * nn) +
          |(1000000 * (nr * nr - pr * pr - (nr - pr) * (nr - pr)))
          |  div (nr * nn)""".stripMargin))
    cand
      .groupBy()
      .agg(min(struct($"gini_ppm", $"x", $"nl", $"pl", $"nr", $"pr",
        $"nn", $"pp")).as("b"))
      .select($"b.x".as("split_at"),
        expr("""(1000000 * (b.nn * b.nn - b.pp * b.pp
               |  - (b.nn - b.pp) * (b.nn - b.pp))) div (b.nn * b.nn)"""
          .stripMargin).as("gini_before_ppm"),
        $"b.gini_ppm".as("gini_after_ppm"),
        $"b.nl".as("n_left"), $"b.pl".as("pos_left"),
        $"b.nr".as("n_right"), $"b.pr".as("pos_right"))
      .withColumn("gain_ppm", $"gini_before_ppm" - $"gini_after_ppm")
  }

  private val q246Oracle =
    """WITH pts AS (
      |  SELECT n_chars AS x,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      |  FROM documents),
      |spine AS (
      |  SELECT x, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS p
      |  FROM pts GROUP BY 1),
      |c AS (
      |  SELECT x,
      |    CAST(sum(n) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS BIGINT)
      |      AS nl,
      |    CAST(sum(p) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS BIGINT)
      |      AS pl,
      |    CAST(sum(n) OVER () AS BIGINT) AS nn,
      |    CAST(sum(p) OVER () AS BIGINT) AS pp
      |  FROM spine),
      |cand AS (
      |  SELECT x, nl, pl, nn - nl AS nr, pp - pl AS pr, nn, pp,
      |    (1000000 * (nl * nl - pl * pl - (nl - pl) * (nl - pl)))
      |      // (nl * nn) +
      |    (1000000 * ((nn - nl) * (nn - nl) - (pp - pl) * (pp - pl)
      |      - ((nn - nl) - (pp - pl)) * ((nn - nl) - (pp - pl))))
      |      // ((nn - nl) * nn) AS gini_ppm
      |  FROM c WHERE nl < nn),
      |best AS (
      |  SELECT * FROM cand ORDER BY gini_ppm, x LIMIT 1)
      |SELECT x AS split_at,
      |  CAST((1000000 * (nn * nn - pp * pp - (nn - pp) * (nn - pp)))
      |    // (nn * nn) AS BIGINT) AS gini_before_ppm,
      |  CAST(gini_ppm AS BIGINT) AS gini_after_ppm,
      |  nl AS n_left, pl AS pos_left, nr AS n_right, pr AS pos_right,
      |  CAST((1000000 * (nn * nn - pp * pp - (nn - pp) * (nn - pp)))
      |    // (nn * nn) - gini_ppm AS BIGINT) AS gain_ppm
      |FROM best""".stripMargin

  // ---------------------------------------------------------------- q252
  /** Tokens reported per side of the log-odds ranking — fixed, so
    * the result is two bounded-k TakeOrderedAndProjects at any
    * vocabulary size. */
  val logOddsK = 15

  /** Dirichlet-smoothed log-odds token drift ("fightin' words",
    * Monroe et al. 2008) — WHICH tokens mark one corpus stratum
    * against another, the token-grain complement to q129's
    * per-source KL (a single divergence number) and q203/q228's
    * numeric drift stats: per token, δ = ln-odds(en) − ln-odds(rest)
    * with Haldane ½ smoothing (2a+1 / 2(A−a)+1 keeps every operand a
    * POSITIVE INTEGER, so δ is four fixed-form floored ln micro-nat
    * terms — q222's device — and hash-exact), reporting the top
    * [[logOddsK]] markers of each side. The release question this
    * answers: "what vocabulary did this source/filter shift?"
    *
    * Scale shape: one explode → one token-grain partial agg (the
    * only corpus shuffle), stratum totals as a 1-row broadcast
    * cross join, then two TakeOrderedAndProject(k) — the vocab is
    * never globally sorted. */
  def q252LogOddsTokens(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    logOddsTokensOf(Tables.documents(s, dir)
      .select(($"lang" === "en").as("in_a"), $"text"))
  }

  /** The contrast on any (in_a, text) frame — separated so the spec
    * can plant strata with hand-countable token tables. */
  private[ops] def logOddsTokensOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val lm = (c: Column) =>
      floor(log(c.cast("double")) * lit(1000000.0)).cast("long")
    val counts = docs
      .select($"in_a", explode(toks($"text")).as("token"))
      .groupBy($"token")
      .agg(sum(when($"in_a", 1L).otherwise(0L)).as("a"),
        sum(when(!$"in_a", 1L).otherwise(0L)).as("b"))
    val totals = counts.agg(sum($"a").as("ta"), sum($"b").as("tb"))
    val scored = counts.crossJoin(broadcast(totals))
      .select($"token", $"a", $"b",
        (lm($"a" * 2 + 1) - lm(($"ta" - $"a") * 2 + 1) -
          lm($"b" * 2 + 1) + lm(($"tb" - $"b") * 2 + 1)).as("delta_micro"))
    val top = scored.orderBy($"delta_micro".desc, $"token".asc)
      .limit(logOddsK).withColumn("side", lit("en"))
    val bot = scored.orderBy($"delta_micro".asc, $"token".asc)
      .limit(logOddsK).withColumn("side", lit("rest"))
    top.unionAll(bot)
      .select($"side", $"token", $"a".as("n_en"), $"b".as("n_rest"),
        $"delta_micro")
      .orderBy($"side",
        when($"side" === "en", -$"delta_micro").otherwise($"delta_micro"),
        $"token")
  }

  private val q252Oracle =
    s"""WITH tok AS (
       |  SELECT lang = 'en' AS in_a, unnest(string_split(lower(text), ' ')) AS token
       |  FROM documents),
       |c AS (
       |  SELECT token,
       |    CAST(count(*) FILTER (in_a) AS BIGINT) AS a,
       |    CAST(count(*) FILTER (NOT in_a) AS BIGINT) AS b
       |  FROM tok GROUP BY 1),
       |t AS (SELECT sum(a) AS ta, sum(b) AS tb FROM c),
       |scored AS (
       |  SELECT token, a, b,
       |    CAST(floor(ln(CAST(a * 2 + 1 AS DOUBLE)) * 1000000) AS BIGINT)
       |    - CAST(floor(ln(CAST((ta - a) * 2 + 1 AS DOUBLE)) * 1000000) AS BIGINT)
       |    - CAST(floor(ln(CAST(b * 2 + 1 AS DOUBLE)) * 1000000) AS BIGINT)
       |    + CAST(floor(ln(CAST((tb - b) * 2 + 1 AS DOUBLE)) * 1000000) AS BIGINT)
       |      AS delta_micro
       |  FROM c CROSS JOIN t),
       |top AS (SELECT 'en' AS side, token, a, b, delta_micro FROM scored
       |        ORDER BY delta_micro DESC, token ASC LIMIT $logOddsK),
       |bot AS (SELECT 'rest' AS side, token, a, b, delta_micro FROM scored
       |        ORDER BY delta_micro ASC, token ASC LIMIT $logOddsK)
       |SELECT side, token, a AS n_en, b AS n_rest, delta_micro
       |FROM (SELECT * FROM top UNION ALL SELECT * FROM bot)
       |ORDER BY side,
       |  CASE WHEN side = 'en' THEN -delta_micro ELSE delta_micro END,
       |  token""".stripMargin

  // ---------------------------------------------------------------- q254
  /** Allowed languages and gate thresholds for the cascade —
    * interpolated into the oracle so query and SQL can never drift. */
  val gateMinChars = 100
  val gateLangs: Seq[String] = Seq("en", "es", "fr")
  val gateMinQuality = 0.6

  /** Quality-filter cascade attrition LEDGER — the aggregate report
    * a pipeline publishes per release. Complements q124 (which emits
    * the per-DOC first-fail verdict over content-shape rules): this
    * is the 4-row gate-grain ledger over the compliance gate set
    * (too_short → bad_lang → pii_email → low_quality), and adds the
    * two numbers q124's grain can't show — n_any_fail (what each
    * gate would reject STANDALONE, exposing overlap that first-fail
    * attribution hides) and survivors_after (the telescoping corpus
    * size). quality is q62's composite, inlined with the identical
    * expression order so doubles stay engine-exact; the PII gate is
    * q54's email regex (RE2/Java-identical subset).
    *
    * Scale shape: one scan, one single-row aggregate (all gate sums
    * in one partial-agg pass), then a GATE-cardinality literal spine
    * cross join — the corpus is never shuffled and the report is
    * 4 rows at any scale. On the PII gate the fixture honestly
    * reports 0 (the synthetic corpus plants no emails); the spec
    * plants all four violation kinds and checks first-fail
    * attribution vs independent counts. */
  def q254FilterCascade(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    filterCascadeOf(Tables.documents(s, dir))
  }

  private[ops] def filterCascadeOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val flagged = docs
      .withColumn("toks", toks($"text"))
      .select(
        ($"n_chars" < gateMinChars).as("f1"),
        (!$"lang".isin(gateLangs: _*)).as("f2"),
        $"text".rlike(emailRe).as("f3"),
        (least(length($"text").cast("double") / 500.0, lit(1.0)) * 0.5 +
          (size(array_distinct($"toks")).cast("double") / size($"toks")) * 0.3 +
          (lit(1.0) - size(filter($"toks", t => t.isin(stopwords: _*)))
            .cast("double") / size($"toks")) * 0.2 < gateMinQuality).as("f4"))
    val agg = flagged.agg(
      count(lit(1)).as("total"),
      sum(when($"f1", 1L).otherwise(0L)).as("any1"),
      sum(when($"f2", 1L).otherwise(0L)).as("any2"),
      sum(when($"f3", 1L).otherwise(0L)).as("any3"),
      sum(when($"f4", 1L).otherwise(0L)).as("any4"),
      sum(when($"f1", 1L).otherwise(0L)).as("ff1"),
      sum(when(!$"f1" && $"f2", 1L).otherwise(0L)).as("ff2"),
      sum(when(!$"f1" && !$"f2" && $"f3", 1L).otherwise(0L)).as("ff3"),
      sum(when(!$"f1" && !$"f2" && !$"f3" && $"f4", 1L).otherwise(0L)).as("ff4"))
    val spine = s.range(1, 5).select($"id".cast("int").as("stage"))
    agg.crossJoin(spine)
      .select($"stage",
        expr("CASE stage WHEN 1 THEN 'too_short' WHEN 2 THEN 'bad_lang' " +
          "WHEN 3 THEN 'pii_email' ELSE 'low_quality' END").as("gate"),
        expr("CASE stage WHEN 1 THEN ff1 WHEN 2 THEN ff2 WHEN 3 THEN ff3 ELSE ff4 END")
          .as("n_first_fail"),
        expr("CASE stage WHEN 1 THEN any1 WHEN 2 THEN any2 WHEN 3 THEN any3 ELSE any4 END")
          .as("n_any_fail"),
        expr("total - (CASE WHEN stage >= 1 THEN ff1 ELSE 0 END" +
          " + CASE WHEN stage >= 2 THEN ff2 ELSE 0 END" +
          " + CASE WHEN stage >= 3 THEN ff3 ELSE 0 END" +
          " + CASE WHEN stage >= 4 THEN ff4 ELSE 0 END)").as("survivors_after"))
      .orderBy($"stage")
  }

  private val q254Oracle =
    s"""WITH f AS (
       |  SELECT n_chars < $gateMinChars AS f1,
       |    lang NOT IN (${gateLangs.map(l => s"'$l'").mkString(",")}) AS f2,
       |    regexp_matches(text, '$emailRe') AS f3,
       |    LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5
       |      + CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE)
       |        / len(string_split(lower(text), ' ')) * 0.3
       |      + (1.0 - CAST(len(list_filter(string_split(lower(text), ' '),
       |            x -> x IN (${stopwords.map(w => s"'$w'").mkString(",")}))) AS DOUBLE)
       |        / len(string_split(lower(text), ' '))) * 0.2 < $gateMinQuality AS f4
       |  FROM documents),
       |a AS (
       |  SELECT CAST(count(*) AS BIGINT) AS total,
       |    CAST(count(*) FILTER (f1) AS BIGINT) AS any1,
       |    CAST(count(*) FILTER (f2) AS BIGINT) AS any2,
       |    CAST(count(*) FILTER (f3) AS BIGINT) AS any3,
       |    CAST(count(*) FILTER (f4) AS BIGINT) AS any4,
       |    CAST(count(*) FILTER (f1) AS BIGINT) AS ff1,
       |    CAST(count(*) FILTER (NOT f1 AND f2) AS BIGINT) AS ff2,
       |    CAST(count(*) FILTER (NOT f1 AND NOT f2 AND f3) AS BIGINT) AS ff3,
       |    CAST(count(*) FILTER (NOT f1 AND NOT f2 AND NOT f3 AND f4) AS BIGINT) AS ff4
       |  FROM f)
       |SELECT stage,
       |  CASE stage WHEN 1 THEN 'too_short' WHEN 2 THEN 'bad_lang'
       |    WHEN 3 THEN 'pii_email' ELSE 'low_quality' END AS gate,
       |  CAST(CASE stage WHEN 1 THEN ff1 WHEN 2 THEN ff2
       |    WHEN 3 THEN ff3 ELSE ff4 END AS BIGINT) AS n_first_fail,
       |  CAST(CASE stage WHEN 1 THEN any1 WHEN 2 THEN any2
       |    WHEN 3 THEN any3 ELSE any4 END AS BIGINT) AS n_any_fail,
       |  CAST(total - (CASE WHEN stage >= 1 THEN ff1 ELSE 0 END
       |    + CASE WHEN stage >= 2 THEN ff2 ELSE 0 END
       |    + CASE WHEN stage >= 3 THEN ff3 ELSE 0 END
       |    + CASE WHEN stage >= 4 THEN ff4 ELSE 0 END) AS BIGINT)
       |    AS survivors_after
       |FROM a CROSS JOIN (SELECT unnest(range(1, 5)) AS stage)
       |ORDER BY stage""".stripMargin

  // ---------------------------------------------------------------- q259
  /** Highest count class reported in the frequency-of-frequencies
    * profile. */
  val gtMaxR = 5

  /** Good–Turing frequency-of-frequencies and missing mass — "how
    * much vocabulary have we NOT seen yet": the r = 0 row carries
    * P₀ = f₁/N (the Good–Turing estimate of unseen-token probability
    * mass — the number that says whether another crawl of this
    * source still buys new vocabulary), and each count class
    * r = 1..[[gtMaxR]] reports its type count fᵣ, its share of
    * observed mass, and the smoothed count r* = (r+1)·f_{r+1}/fᵣ in
    * milli (the Good–Turing discount; r* < r means class r is
    * over-counted). Complements q239 (Zipf fits the law's slope;
    * this prices the unseen tail) and q198 (OOV against a fixed
    * vocab; this is vocab-free). All ratios are exact integer
    * divisions of exact counts; −1 marks an undefined r* (empty
    * class), no NULLs.
    *
    * Scale shape: one explode → one token-grain agg (the only
    * corpus shuffle) → one count-grain agg whose result is bounded
    * by the max token count, then an (R+1)-row literal spine. */
  def q259GoodTuring(s: SparkSession, dir: String): DataFrame =
    goodTuringOf(Tables.documents(s, dir))

  /** The profile on any (text) frame — separated so the spec can
    * plant a corpus with singletons (the fixture word-salad has a
    * closed small vocabulary: every type repeats, f₁ = 0, and the
    * query honestly reports zero unseen mass). */
  private[ops] def goodTuringOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val freq = docs
      .select(explode(toks($"text")).as("token"))
      .groupBy($"token").agg(count(lit(1)).as("r"))
    val fof = freq.groupBy($"r").agg(count(lit(1)).as("f"))
    val tot = fof.agg(sum($"r" * $"f").as("n_tokens"))
    val spine = s.range(0, gtMaxR + 1).select($"id".as("r"))
    spine
      .join(fof.select($"r", $"f"), Seq("r"), "left")
      .join(fof.select(($"r" - 1).as("r"), $"f".as("f_next")), Seq("r"), "left")
      .crossJoin(broadcast(tot))
      .select($"r",
        when($"r" === 0, 0L).otherwise(coalesce($"f", lit(0L))).as("n_types"),
        when($"r" === 0,
          expr("(1000000 * coalesce(f_next, 0)) div n_tokens"))
          .otherwise(expr("(1000000 * r * coalesce(f, 0)) div n_tokens"))
          .as("mass_ppm"),
        when($"r" === 0 || coalesce($"f", lit(0L)) === 0, -1L)
          .otherwise(expr("(1000 * (r + 1) * coalesce(f_next, 0)) div coalesce(f, 1)"))
          .as("rstar_milli"))
      .orderBy($"r")
  }

  private val q259Oracle =
    s"""WITH freq AS (
       |  SELECT token, CAST(count(*) AS BIGINT) AS r FROM (
       |    SELECT unnest(string_split(lower(text), ' ')) AS token
       |    FROM documents) GROUP BY 1),
       |fof AS (SELECT r, CAST(count(*) AS BIGINT) AS f FROM freq GROUP BY 1),
       |tot AS (SELECT CAST(sum(r * f) AS BIGINT) AS n_tokens FROM fof),
       |spine AS (SELECT unnest(range(0, ${gtMaxR + 1})) AS r)
       |SELECT s.r,
       |  CAST(CASE WHEN s.r = 0 THEN 0 ELSE COALESCE(c.f, 0) END AS BIGINT)
       |    AS n_types,
       |  CAST(CASE WHEN s.r = 0
       |    THEN (1000000 * COALESCE(nx.f, 0)) // n_tokens
       |    ELSE (1000000 * s.r * COALESCE(c.f, 0)) // n_tokens END AS BIGINT)
       |    AS mass_ppm,
       |  CAST(CASE WHEN s.r = 0 OR COALESCE(c.f, 0) = 0 THEN -1
       |    ELSE (1000 * (s.r + 1) * COALESCE(nx.f, 0)) // COALESCE(c.f, 1)
       |    END AS BIGINT) AS rstar_milli
       |FROM spine s
       |LEFT JOIN fof c ON c.r = s.r
       |LEFT JOIN fof nx ON nx.r = s.r + 1
       |CROSS JOIN tot
       |ORDER BY s.r""".stripMargin

  // ---------------------------------------------------------------- q272
  /** Empirical-Bayes (beta-binomial) shrinkage of per-source
    * substantial-doc rates — the fix for the small-source lie that
    * raw per-source rates tell (q213's dup rates, q85's domain caps:
    * a 3-doc source at 0% or 100% is noise, not signal). Classic
    * method-of-moments EB: the across-source mean m and variance v
    * of the raw rates fit a beta prior strength ν = m(1−m)/v − 1,
    * and each source reports (k + νm)/(n + ν) — big sources keep
    * their data, small ones pool toward the corpus. All moments in
    * exact fixed-point under q247's integer-centering discipline
    * (G-scaled centered milli-rates, every ratio a floored BIGINT
    * division both engines emit identically). A degenerate prior
    * (zero across-source variance, or over-dispersion ν ≤ 0 where
    * the beta family can't hold) reports ν = −1 and leaves rates
    * unshrunk — disclosed, never silently wrong.
    *
    * Scale shape: one pass to source grain; the prior is a
    * source-grain agg (thousands of rows at worst) broadcast back.
    * 10⁹·k caps BIGINT at ~9×10⁹ docs/source; re-grid beyond. */
  def q272EbShrinkage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ebShrinkOf(Tables.documents(s, dir)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"n_chars" >= ebCharFloor, 1L).otherwise(0L)).as("n_good")))
  }

  /** Substantial-doc threshold: n_chars at or above this counts as
    * a "good" doc for the q272 rate. */
  val ebCharFloor = 300L

  /** The shrinkage on any (source, n_docs, n_good) frame — separated
    * so the spec can plant a tight prior with small-n outlier
    * sources and watch them pool. */
  private[ops] def ebShrinkOf(perSrc: DataFrame): DataFrame = {
    val s = perSrc.sparkSession
    import s.implicits._
    val rated = perSrc.select($"source", $"n_docs", $"n_good",
      expr("(1000 * n_good) div n_docs").as("raw_milli"))
    val g1 = rated.agg(count(lit(1)).as("g"), sum($"raw_milli").as("sp"))
    val cen = rated.crossJoin(broadcast(g1))
      .select($"g", $"sp", ($"g" * $"raw_milli" - $"sp").as("c"))
    val prior = cen.groupBy($"g", $"sp")
      .agg(sum($"c" * $"c").as("cc"))
      .select(expr("sp div g").as("m_milli"),
        expr("cc div (g * g * g)").as("v_micro"))
      .select($"m_milli", $"v_micro",
        expr("""CASE WHEN v_micro = 0 THEN -1
          |  WHEN (1000 * m_milli * (1000 - m_milli)) div v_micro
          |       - 1000 <= 0 THEN -1
          |  ELSE (1000 * m_milli * (1000 - m_milli)) div v_micro - 1000
          |END""".stripMargin).as("nu_milli"))
    rated.crossJoin(broadcast(prior))
      .select($"source", $"n_docs", $"n_good", $"raw_milli",
        $"m_milli", $"nu_milli",
        expr("""CASE WHEN nu_milli = -1 THEN raw_milli
          |  ELSE (1000000000 * n_good + 1000 * nu_milli * m_milli)
          |       div (1000000 * n_docs + 1000 * nu_milli)
          |END""".stripMargin).as("shrunk_milli"))
      .orderBy($"source")
  }

  private val q272Oracle =
    s"""WITH rated AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(CASE WHEN n_chars >= $ebCharFloor THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_good,
       |    CAST((1000 * sum(CASE WHEN n_chars >= $ebCharFloor
       |        THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS raw_milli
       |  FROM documents GROUP BY 1),
       |g1 AS (
       |  SELECT CAST(count(*) AS BIGINT) AS g,
       |    CAST(sum(raw_milli) AS BIGINT) AS sp
       |  FROM rated),
       |cen AS (
       |  SELECT g, sp, g * raw_milli - sp AS c FROM rated, g1),
       |mo AS (
       |  SELECT sp // g AS m_milli,
       |    CAST(sum(c * c) AS BIGINT) // (g * g * g) AS v_micro
       |  FROM cen GROUP BY g, sp),
       |prior AS (
       |  SELECT m_milli, v_micro,
       |    CASE WHEN v_micro = 0 THEN -1
       |      WHEN (1000 * m_milli * (1000 - m_milli)) // v_micro
       |           - 1000 <= 0 THEN -1
       |      ELSE (1000 * m_milli * (1000 - m_milli)) // v_micro - 1000
       |    END AS nu_milli
       |  FROM mo)
       |SELECT source, n_docs, n_good, raw_milli, m_milli, nu_milli,
       |  CASE WHEN nu_milli = -1 THEN raw_milli
       |    ELSE (1000000000 * n_good + 1000 * nu_milli * m_milli)
       |         // (1000000 * n_docs + 1000 * nu_milli)
       |  END AS shrunk_milli
       |FROM rated, prior ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q273
  /** Isotonic (PAV) calibration of the q199 reliability bins — q199
    * shows WHERE the score is miscalibrated; this produces the
    * monotone calibrated rate a gating pipeline can actually apply
    * as a threshold map. Not an iterative pool-adjacent-violators
    * loop: the fit is the minimax closed form
    * iso(t) = max_{i≤t} min_{j≥t} avg(i..j) over pooled-bin rates
    * (identical to PAV's solution, e.g. Robertson et al.'s order-
    * restricted inference), evaluated exactly on ppm-floored pooled
    * averages — B=10 bins means a 10×10×10 spine, so "try every
    * segment" is a literal 220-row join, deterministic on both
    * engines. Monotonicity is guaranteed by construction; where the
    * raw curve is already isotonic the fit returns it unchanged.
    *
    * Scale shape: bin-grain everything — the corpus work is q199's
    * (one score pass + one ntile window); the fit itself touches 10
    * rows. */
  def q273IsotonicCalibration(s: SparkSession, dir: String): DataFrame =
    isotonicOf(q199CalibrationBins(s, dir)
      .select(col("decile"), col("n"), col("n_pos")))

  /** The minimax fit on any (decile, n, n_pos) frame — separated so
    * the spec can plant a violation and watch exactly the violating
    * bins pool. */
  private[ops] def isotonicOf(binsIn: DataFrame): DataFrame = {
    val s = binsIn.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // the fit references the bin frame five times (cum×2, the spine,
    // both final joins); without a cut each reference re-executes the
    // CORPUS subplan behind it (q199: full score pass + ntile). The
    // frame is B rows by construction, so materialize it once —
    // q79's bounded-working-set localCheckpoint idiom
    val bins = binsIn.localCheckpoint()
    val w = Window.orderBy($"decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = bins.select($"decile", $"n", $"n_pos",
      sum($"n").over(w).as("cn"), sum($"n_pos").over(w).as("ck"))
    val a = cum.select($"decile".as("i"), $"n".as("ni"),
      $"n_pos".as("ki"), $"cn".as("cni"), $"ck".as("cki"))
    val b = cum.select($"decile".as("j"), $"cn".as("cnj"), $"ck".as("ckj"))
    val seg = a.crossJoin(broadcast(b)).where($"j" >= $"i")
      .select($"i", $"j",
        expr("(1000000 * (ckj - (cki - ki))) div (cnj - (cni - ni))")
          .as("avg_ppm"))
    val s1 = bins.select($"decile".as("t"))
      .join(broadcast(seg), $"i" <= $"t" && $"j" >= $"t")
      .groupBy($"t", $"i").agg(min($"avg_ppm").as("mn"))
    val iso = s1.groupBy($"t").agg(max($"mn").as("iso_ppm"))
    bins.join(broadcast(iso), bins("decile") === iso("t"))
      .select($"decile", $"n", $"n_pos",
        expr("(1000000 * n_pos) div n").as("raw_ppm"), $"iso_ppm")
      .orderBy($"decile")
  }

  private lazy val q273Oracle =
    s"""WITH bins AS (${q199Oracle.replace("ORDER BY decile", "")}),
       |cum AS (
       |  SELECT decile, n, n_pos,
       |    CAST(sum(n) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
       |      AS BIGINT) AS cn,
       |    CAST(sum(n_pos) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
       |      AS BIGINT) AS ck
       |  FROM bins),
       |seg AS (
       |  SELECT a.decile AS i, b.decile AS j,
       |    (1000000 * (b.ck - (a.ck - a.n_pos)))
       |      // (b.cn - (a.cn - a.n)) AS avg_ppm
       |  FROM cum a, cum b WHERE b.decile >= a.decile),
       |s1 AS (
       |  SELECT t.decile AS t, seg.i, min(seg.avg_ppm) AS mn
       |  FROM bins t JOIN seg ON seg.i <= t.decile AND seg.j >= t.decile
       |  GROUP BY 1, 2),
       |iso AS (SELECT t, CAST(max(mn) AS BIGINT) AS iso_ppm FROM s1 GROUP BY 1)
       |SELECT b.decile, b.n, b.n_pos,
       |  CAST((1000000 * b.n_pos) // b.n AS BIGINT) AS raw_ppm, iso.iso_ppm
       |FROM bins b JOIN iso ON iso.t = b.decile ORDER BY b.decile""".stripMargin

  // ---------------------------------------------------------------- q277
  /** IPF (raking) sampling weights over the lang × source grid —
    * the two-margin dataset-mixing calibration q112's single-margin
    * rebalance can't do: find per-cell weights whose LANG margins
    * hit a uniform target (balanced-language corpus) while the
    * SOURCE margins keep their observed mix. Three unrolled
    * row-scale/column-scale rounds in exact milli fixed-point —
    * every scale is (w·1000·target) div marginsum on BIGINTs,
    * identical on both engines; classical IPF converges
    * geometrically, so 3 rounds land within integer rounding on
    * grids like this (the spec pins the planted-grid margins).
    * Emitted rate_milli = w/n is the per-cell sampling/repeat
    * factor a mixture pipeline applies.
    *
    * Scale shape: the corpus reduces once to lang×source cells;
    * every subsequent margin sum, join, and scale runs on the
    * cell grid (dozens of rows) with broadcast joins. 1000·w·target
    * caps BIGINT near ~10⁹ docs; re-grid beyond. */
  def q277IpfWeights(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ipfOf(Tables.documents(s, dir)
      .groupBy($"lang", $"source").agg(count(lit(1)).as("n")))
  }

  /** The raking loop on any (lang, source, n) cell grid — separated
    * so the spec can plant a 2×2 grid with a hand-checkable
    * fixpoint. */
  private[ops] def ipfOf(cells0: DataFrame, rounds: Int = 3): DataFrame = {
    val s = cells0.sparkSession
    import s.implicits._
    val tot = cells0.agg(sum($"n").as("tot"),
      countDistinct($"lang").as("nl"))
    val rowT = cells0.select($"lang").distinct()
      .crossJoin(broadcast(tot))
      .select($"lang", expr("tot div nl").as("tl"))
    val colT = cells0.groupBy($"source").agg(sum($"n").as("tc"))
    var w = cells0.select($"lang", $"source", $"n",
      (lit(1000L) * $"n").as("w"))
    for (_ <- 1 to rounds) {
      val rs = w.groupBy($"lang").agg(sum($"w").as("rs"))
      w = w.join(broadcast(rs), "lang").join(broadcast(rowT), "lang")
        .select($"lang", $"source", $"n",
          expr("(w * 1000 * tl) div rs").as("w"))
      val cs = w.groupBy($"source").agg(sum($"w").as("cs"))
      w = w.join(broadcast(cs), "source").join(broadcast(colT), "source")
        .select($"lang", $"source", $"n",
          expr("(w * 1000 * tc) div cs").as("w"))
    }
    w.select($"lang", $"source", $"n", $"w".as("w_milli"),
      expr("w div n").as("rate_milli"))
      .orderBy($"lang", $"source")
  }

  private val q277Oracle =
    """WITH cells AS (
      |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n
      |  FROM documents GROUP BY 1, 2),
      |tot AS (
      |  SELECT CAST(sum(n) AS BIGINT) AS tot,
      |    CAST(count(DISTINCT lang) AS BIGINT) AS nl
      |  FROM cells),
      |rowt AS (
      |  SELECT lang, tot // nl AS tl
      |  FROM (SELECT DISTINCT lang FROM cells), tot),
      |colt AS (
      |  SELECT source, CAST(sum(n) AS BIGINT) AS tc
      |  FROM cells GROUP BY 1),
      |w0 AS (SELECT lang, source, n, 1000 * n AS w FROM cells),
      |r1 AS (
      |  SELECT lang, source, n, (w * 1000 * tl) // rs AS w
      |  FROM w0
      |  JOIN (SELECT lang, CAST(sum(w) AS BIGINT) AS rs FROM w0
      |        GROUP BY 1) USING (lang)
      |  JOIN rowt USING (lang)),
      |c1 AS (
      |  SELECT lang, source, n, (w * 1000 * tc) // cs AS w
      |  FROM r1
      |  JOIN (SELECT source, CAST(sum(w) AS BIGINT) AS cs FROM r1
      |        GROUP BY 1) USING (source)
      |  JOIN colt USING (source)),
      |r2 AS (
      |  SELECT lang, source, n, (w * 1000 * tl) // rs AS w
      |  FROM c1
      |  JOIN (SELECT lang, CAST(sum(w) AS BIGINT) AS rs FROM c1
      |        GROUP BY 1) USING (lang)
      |  JOIN rowt USING (lang)),
      |c2 AS (
      |  SELECT lang, source, n, (w * 1000 * tc) // cs AS w
      |  FROM r2
      |  JOIN (SELECT source, CAST(sum(w) AS BIGINT) AS cs FROM r2
      |        GROUP BY 1) USING (source)
      |  JOIN colt USING (source)),
      |r3 AS (
      |  SELECT lang, source, n, (w * 1000 * tl) // rs AS w
      |  FROM c2
      |  JOIN (SELECT lang, CAST(sum(w) AS BIGINT) AS rs FROM c2
      |        GROUP BY 1) USING (lang)
      |  JOIN rowt USING (lang)),
      |c3 AS (
      |  SELECT lang, source, n, (w * 1000 * tc) // cs AS w
      |  FROM r3
      |  JOIN (SELECT source, CAST(sum(w) AS BIGINT) AS cs FROM r3
      |        GROUP BY 1) USING (source)
      |  JOIN colt USING (source))
      |SELECT lang, source, n, w AS w_milli, w // n AS rate_milli
      |FROM c3 ORDER BY lang, source""".stripMargin

  // ---------------------------------------------------------------- q279
  /** Vocabulary coverage curve — how many word types cover 50 / 90 /
    * 99% of token MASS: the corpus-concentration number that sizes a
    * vocab (q198 asks "how much is OOV given a vocab"; q259 prices
    * the unseen tail; this says how big the vocab must BE). Types
    * ranked by frequency under the total order (freq DESC, token) —
    * ties broken textually so both engines agree — and the crossing
    * is the exact rational 100·cum ≥ p·N (q276's device on mass
    * instead of counts).
    *
    * Scale shape: one token pass to the vocabulary (map-side
    * partial), then vocab-grain windows — the same global
    * vocab-sort budget q105's encoder already pays; the 3-row pct
    * spine broadcasts. */
  def q279VocabCoverage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val freq = Tables.documents(s, dir)
      .select(explode(split(TextExprs.lower($"text"), " ")).as("tok"))
      .where($"tok" =!= "")
      .groupBy($"tok").agg(count(lit(1)).as("f"))
    val w = Window.orderBy($"f".desc, $"tok")
    val cum = freq
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("cum", sum($"f").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("nt", count(lit(1)).over(Window.partitionBy()))
      .withColumn("n", sum($"f").over(Window.partitionBy()))
    val pcts = Seq(50L, 90L, 99L).toDF("pct")
    cum.crossJoin(broadcast(pcts))
      .where($"cum" * 100L >= $"pct" * $"n")
      .groupBy($"pct")
      .agg(min($"rn").as("types_needed"), max($"nt").as("total_types"),
        max($"n").as("total_tokens"))
      .orderBy($"pct")
  }

  private val q279Oracle =
    """WITH freq AS (
      |  SELECT tok, CAST(count(*) AS BIGINT) AS f FROM (
      |    SELECT unnest(string_split(lower(text), ' ')) AS tok
      |    FROM documents) WHERE tok <> '' GROUP BY 1),
      |cum AS (
      |  SELECT CAST(row_number() OVER (ORDER BY f DESC, tok) AS BIGINT)
      |      AS rn,
      |    CAST(sum(f) OVER (ORDER BY f DESC, tok ROWS UNBOUNDED PRECEDING)
      |      AS BIGINT) AS cum,
      |    CAST(count(*) OVER () AS BIGINT) AS nt,
      |    CAST(sum(f) OVER () AS BIGINT) AS n
      |  FROM freq),
      |pcts AS (SELECT CAST(unnest([50, 90, 99]) AS BIGINT) AS pct)
      |SELECT pct, CAST(min(rn) AS BIGINT) AS types_needed,
      |  CAST(max(nt) AS BIGINT) AS total_types,
      |  CAST(max(n) AS BIGINT) AS total_tokens
      |FROM cum, pcts WHERE cum * 100 >= pct * n
      |GROUP BY 1 ORDER BY pct""".stripMargin

  // ---------------------------------------------------------------- q285
  /** Source exclusivity — the leave-one-out acquisition value of
    * each source: how many of its distinct 3-gram shingles appear in
    * NO other source (q164 scores a batch's novelty against history;
    * this is the cross-sectional "what do we lose if we drop source
    * X" read a data-buying decision needs). Per source: distinct
    * shingles, exclusive shingles, exclusivity ppm. A source whose
    * content is all replicated elsewhere dedups away for free; a
    * high-exclusivity source is irreplaceable.
    *
    * Scale shape: one shingle pass (distinct (source, shingle) —
    * map-side combine), one shuffle on the shingle to count
    * carrying sources, one back-join on the same key, one
    * source-grain fold. Text never shuffles; shingles do. */
  def q285SourceExclusivity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r15: the old shape joined the carrier counts BACK onto the
    // full (source, shingle) stream just to tag each row's ns — at
    // bench scale Catalyst BROADCAST the vocab-grain carrier table
    // (a driver-built hash relation over every distinct shingle; at
    // corpus scale it would fall to a vocab-grain sort-merge join).
    // But an exclusive shingle names its only carrier, so the
    // carrier fold can emit (carrier, 1) directly when ns = 1:
    // min(source) ≡ the source for single-carrier shingles. The
    // whole back-join collapses to a source-grain left join of two
    // folds (measured 5.9/5.6 → 4.6/4.7 s isolated at sf0.1 with a
    // same-run q66 control moving only 5.3 → 5.0; the vocab-grain
    // build side is gone — plans/r15/q285_*). Identical counts:
    // n_shingles = |distinct (source, sh)| per source; n_exclusive =
    // |sh carried by exactly this one source|.
    val ss = Tables.documents(s, dir)
      .select($"source", explode(DedupOps.shingles3($"text")).as("sh"))
      .distinct()
    val excl = ss.groupBy($"sh")
      .agg(count(lit(1)).as("ns"), min($"source").as("only_src"))
      .where($"ns" === 1L)
      .groupBy($"only_src".as("source"))
      .agg(count(lit(1)).as("n_exclusive"))
    ss.groupBy($"source").agg(count(lit(1)).as("n_shingles"))
      .join(excl, Seq("source"), "left")
      .select($"source", $"n_shingles",
        coalesce($"n_exclusive", lit(0L)).as("n_exclusive"),
        expr("(1000000 * coalesce(n_exclusive, 0L)) div n_shingles")
          .as("exclusive_ppm"))
      .orderBy($"source")
  }

  private val q285Oracle =
    """WITH t AS (
      |  SELECT source, string_split(lower(text), ' ') toks FROM documents),
      |ss AS (
      |  SELECT DISTINCT source, unnest(list_transform(
      |    range(1, len(toks) - 1),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
      |  FROM t),
      |carriers AS (
      |  SELECT sh, CAST(count(*) AS BIGINT) AS ns FROM ss GROUP BY 1)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_shingles,
      |  CAST(sum(CASE WHEN ns = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_exclusive,
      |  CAST((1000000 * sum(CASE WHEN ns = 1 THEN 1 ELSE 0 END))
      |    // count(*) AS BIGINT) AS exclusive_ppm
      |FROM ss JOIN carriers USING (sh)
      |GROUP BY 1 ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q291
  /** Cross-fitted quantile transform — the fit/transform separation
    * ML preprocessing requires and q111's whole-corpus normalization
    * skips: decile boundaries learned ONLY on the train split
    * (doc_id parity, q198's convention), applied to the test split,
    * and the test-side bin occupancy reported. Near-uniform
    * occupancy certifies the transform transfers; a skewed top bin
    * is covariate shift the pipeline must hear about BEFORE
    * training on normalized garbage. Boundaries by the exact
    * rational first-crossing at value grain; binning is 9 broadcast
    * comparisons per row, join-free in spirit and shuffle-free in
    * fact.
    *
    * Scale shape: train reduces to value-grain cells; the 9-row
    * boundary frame broadcasts; test folds to a 10-row occupancy
    * with a dense bin spine (empty bins are reported as 0 — the
    * signal IS the emptiness). */
  def q291CrossfitNorm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir).select($"doc_id", $"n_chars")
    crossfitBinsOf(
      docs.where($"doc_id" % 2 === 0).select($"n_chars".as("v")),
      docs.where($"doc_id" % 2 === 1).select($"n_chars".as("v")))
  }

  /** Fit on `train.v`, bin `test.v`, report occupancy — separated so
    * the spec can plant identical and shifted splits. */
  private[ops] def crossfitBinsOf(train: DataFrame,
      test: DataFrame): DataFrame = {
    val s = train.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val wCum = Window.orderBy($"v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = train.groupBy($"v").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum($"cnt").over(wCum))
      .withColumn("n", sum($"cnt").over(Window.partitionBy()))
    val ds = s.range(1, 10).select($"id".as("d"))
    val bounds = cum.crossJoin(broadcast(ds))
      .where($"cum" * 10L >= $"d" * $"n")
      .groupBy($"d").agg(min($"v").as("bound"))
    // bin per test VALUE (not per row): Σ[v > bound_d] over the 9
    // bounds, then weight by how many test rows carry that value —
    // the corpus never widens 9×
    val valueBins = test.groupBy($"v").agg(count(lit(1)).as("rows"))
      .crossJoin(broadcast(bounds))
      .groupBy($"v", $"rows")
      .agg(sum(when($"v" > $"bound", 1L).otherwise(0L)).as("bin"))
    val counts = valueBins.groupBy($"bin").agg(sum($"rows").as("n_test"))
    val tot = test.agg(count(lit(1)).as("nt"))
    val spine = s.range(0, 10).select($"id".as("bin"))
    spine.join(counts, Seq("bin"), "left")
      .crossJoin(broadcast(tot))
      .select($"bin", coalesce($"n_test", lit(0L)).as("n_test"),
        expr("(1000000 * coalesce(n_test, 0)) div nt").as("share_ppm"))
      .orderBy($"bin")
  }

  private val q291Oracle =
    """WITH train AS (
      |  SELECT n_chars AS v FROM documents WHERE doc_id % 2 = 0),
      |test AS (
      |  SELECT n_chars AS v FROM documents WHERE doc_id % 2 = 1),
      |cum AS (
      |  SELECT v,
      |    CAST(sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
      |      AS BIGINT) AS cum,
      |    CAST(sum(cnt) OVER () AS BIGINT) AS n
      |  FROM (SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM train
      |        GROUP BY 1)),
      |ds AS (SELECT CAST(unnest(range(1, 10)) AS BIGINT) AS d),
      |bounds AS (
      |  SELECT d, CAST(min(v) AS BIGINT) AS bound
      |  FROM cum, ds WHERE cum * 10 >= d * n GROUP BY 1),
      |vb AS (
      |  SELECT t.v, t.rows,
      |    CAST(sum(CASE WHEN t.v > b.bound THEN 1 ELSE 0 END) AS BIGINT)
      |      AS bin
      |  FROM (SELECT v, CAST(count(*) AS BIGINT) AS rows FROM test
      |        GROUP BY 1) t, bounds b
      |  GROUP BY 1, 2),
      |counts AS (
      |  SELECT bin, CAST(sum(rows) AS BIGINT) AS n_test
      |  FROM vb GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM test),
      |spine AS (SELECT CAST(unnest(range(0, 10)) AS BIGINT) AS bin)
      |SELECT s.bin, COALESCE(c.n_test, 0) AS n_test,
      |  CAST((1000000 * COALESCE(c.n_test, 0)) // tot.nt AS BIGINT)
      |    AS share_ppm
      |FROM spine s LEFT JOIN counts c USING (bin), tot
      |ORDER BY s.bin""".stripMargin

  // ---------------------------------------------------------------- q323
  /** Temperature-tempered source mixture (the multilingual-training
    * convention of mBERT/XLM-R/mT5: sample source s with probability
    * ∝ p_s^α so head sources stop drowning tail ones) at α = 1/2 —
    * the one exponent the integer discipline computes EXACTLY (p^0.5
    * = the fixed-form floored sqrt; mT5's α=0.3 would need a float
    * pow, re-opening the door the engine keeps shut — disclosed
    * tradeoff, and 0.5 is squarely inside the published α range).
    * Per source: n_docs, raw share, tempered weight w_ppm =
    * isqrt-share renormalized over the source grain, and the
    * oversample factor in milli (w/p — tail sources > 1000, head
    * sources < 1000): the table a mixture-aware sampler (q49/q112)
    * consumes directly.
    *
    * Scale shape: ONE map-side-combining agg to source grain;
    * everything after (isqrt, window renormalization, ratios) is
    * arithmetic on the handful of source rows. */
  def q323TemperatureMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    temperatureMixOf(Tables.documents(s, dir).select($"source"))
  }

  /** The mixture on any single-column (source) frame — separated so
    * the spec can plant a 1:4 two-source corpus with hand-computed
    * isqrt weights. */
  private[ops] def temperatureMixOf(rows: DataFrame): DataFrame = {
    val s = rows.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    rows.groupBy($"source").agg(count(lit(1)).as("n_docs"))
      .withColumn("n_total", sum($"n_docs").over(wAll))
      .withColumn("share_ppm", expr("(1000000 * n_docs) div n_total"))
      .withColumn("r", expr(
        "CAST(floor(sqrt(CAST(share_ppm * 1000000 AS DOUBLE))) AS BIGINT)"))
      .select($"source", $"n_docs", $"share_ppm",
        expr("(1000000 * r) div (sum(r) OVER ())").as("w_ppm"))
      .withColumn("oversample_milli",
        expr("(1000 * w_ppm) div share_ppm"))
      .orderBy($"source")
  }

  private val q323Oracle =
    """WITH g AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      |  FROM documents GROUP BY 1),
      |sh AS (
      |  SELECT source, n_docs,
      |    CAST((1000000 * n_docs) // (sum(n_docs) OVER ()) AS BIGINT)
      |      AS share_ppm
      |  FROM g),
      |r AS (
      |  SELECT *, CAST(floor(sqrt(CAST(share_ppm * 1000000 AS DOUBLE)))
      |    AS BIGINT) AS r
      |  FROM sh)
      |SELECT source, n_docs, share_ppm,
      |  CAST((1000000 * r) // (sum(r) OVER ()) AS BIGINT) AS w_ppm,
      |  CAST((1000 * CAST((1000000 * r) // (sum(r) OVER ()) AS BIGINT))
      |    // share_ppm AS BIGINT) AS oversample_milli
      |FROM r ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q343
  /** Hashed-feature buckets for the DSIR importance model. 1024 keeps
    * the ratio table broadcast-trivial while the md5-16-bit prefix
    * (q225's cross-engine device) spreads features ~64 deep per
    * bucket at fixture scale. */
  val dsirBuckets = 1024L

  /** DSIR data selection (Xie et al., NeurIPS 2023): per-document
    * importance weight log(p_target/p_raw) under hashed-n-gram bag
    * models — the principled upgrade of threshold curation (q88
    * trims by absolute quality; this RANKS raw docs by how much more
    * they look like the target corpus than like the raw pool, which
    * is what you actually resample by when composing a training
    * mix). Target = the 'en' slice (stand-in; a real run points this
    * at curated text), raw = the whole pool. Features are hashed
    * word uni+bigrams ([[dsirBuckets]] buckets, q225's md5 device);
    * both bucket marginals get +1 smoothing, and each document's
    * weight is the MEAN per-feature-occurrence log-ratio in
    * micro-nats (q125's floor(ln·10⁶) device — the one float op,
    * floor-quantized identically in both engines; everything
    * downstream is exact BIGINT). `selected` = weight > 0: the doc
    * is more target-like than pool-like.
    *
    * Scale shape: two passes over the exploded feature stream (one
    * map-side-combining agg to the B-bounded bucket grain; one
    * doc-grain agg after a BROADCAST join against the B-row ratio
    * table — re-exploding is a projection, cheaper than
    * materializing a corpus×features frame), plus the q125-style
    * left join attaching featureless docs with zero weight. No
    * shuffle ever carries text. */
  def q343DsirWeights(s: SparkSession, dir: String): DataFrame =
    dsirOf(Tables.documentsSpread(s, dir)
      .select(col("doc_id"), col("lang"), col("text")))

  /** The weight model on any (doc_id, lang, text) frame — separated
    * so the spec can plant disjoint-vocabulary corpora where the
    * weight SIGNS are knowable by construction. */
  private[ops] def dsirOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    def h(c: Column): Column =
      conv(substring(md5(c), 1, 4), 16, 10).cast("long") % dsirBuckets
    val feats = docs
      .select($"doc_id", $"lang",
        explode(concat(DedupOps.spansN($"text", 1),
          DedupOps.spansN($"text", 2))).as("g"))
      .select($"doc_id", $"lang", h($"g").as("b"))
    val raw = feats.groupBy($"b").agg(count(lit(1)).as("cr"))
    val tgt = feats.where($"lang" === "en")
      .groupBy($"b").agg(count(lit(1)).as("ct"))
    val tot = raw.agg(sum($"cr").as("nr")).crossJoin(
      tgt.agg(coalesce(sum($"ct"), lit(0L)).as("nt")))
    val ratios = raw.join(tgt, Seq("b"), "left").na.fill(0L, Seq("ct"))
      .crossJoin(broadcast(tot))
      .select($"b", expr(
        s"""CAST(floor(ln(
           |  (CAST(ct + 1 AS DOUBLE) * (nr + $dsirBuckets)) /
           |  (CAST(cr + 1 AS DOUBLE) * (nt + $dsirBuckets))
           |) * 1000000.0) AS BIGINT)""".stripMargin).as("lr"))
    val perDoc = feats.join(broadcast(ratios), "b")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_feats"), sum($"lr").as("slr"))
    docs.select($"doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_feats", lit(0L)).as("n_feats"),
        when($"n_feats".isNull, 0L)
          .otherwise(expr("slr div n_feats")).as("dsir_micro"))
      .withColumn("selected", $"dsir_micro" > 0L)
      .orderBy($"doc_id")
  }

  private val q343Oracle =
    s"""WITH t AS (
       |  SELECT doc_id, lang, string_split(lower(text), ' ') AS toks
       |  FROM documents),
       |f AS (
       |  SELECT doc_id, lang, unnest(list_concat(
       |    toks,
       |    CASE WHEN len(toks) >= 2
       |      THEN list_transform(range(1, len(toks)),
       |        i -> toks[i] || ' ' || toks[i + 1])
       |      ELSE [] END)) AS g
       |  FROM t),
       |h AS (
       |  SELECT doc_id, lang,
       |    ('0x' || substr(md5(g), 1, 4))::BIGINT % $dsirBuckets AS b
       |  FROM f),
       |raw AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM h GROUP BY 1),
       |tgt AS (SELECT b, CAST(count(*) AS BIGINT) AS ct
       |  FROM h WHERE lang = 'en' GROUP BY 1),
       |tot AS (
       |  SELECT (SELECT CAST(sum(cr) AS BIGINT) FROM raw) AS nr,
       |    (SELECT COALESCE(CAST(sum(ct) AS BIGINT), 0) FROM tgt) AS nt),
       |r AS (
       |  SELECT raw.b,
       |    CAST(floor(ln(
       |      (CAST(COALESCE(ct, 0) + 1 AS DOUBLE) * (nr + $dsirBuckets)) /
       |      (CAST(cr + 1 AS DOUBLE) * (nt + $dsirBuckets))
       |    ) * 1000000.0) AS BIGINT) AS lr
       |  FROM raw LEFT JOIN tgt USING (b), tot),
       |pd AS (
       |  SELECT h.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
       |    CAST(sum(lr) AS BIGINT) AS slr
       |  FROM h JOIN r USING (b) GROUP BY 1)
       |SELECT d.doc_id,
       |  COALESCE(n_feats, 0) AS n_feats,
       |  CASE WHEN n_feats IS NULL THEN 0
       |       ELSE slr // n_feats END AS dsir_micro,
       |  CASE WHEN n_feats IS NULL THEN FALSE
       |       ELSE (slr // n_feats) > 0 END AS selected
       |FROM documents d LEFT JOIN pd USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- q346
  /** Subword vocabulary budget for the fertility eval. */
  val fertVocabSize = 2048L
  /** Byte-fallback piece width: an out-of-vocabulary word costs
    * ⌈len/4⌉ pieces — the fixed-stride stand-in for byte-level BPE
    * fallback (disclosed simplification: a learned segmenter splits
    * on merge boundaries; the COST MODEL — 1 piece if known, length-
    * proportional if not — is what fertility measures either way). */
  val fertFallbackWidth = 4L

  /** Tokenizer fertility by language (the Rust et al. 2021 ACL
    * diagnostic): pieces-per-word under a FIXED top-[[fertVocabSize]]
    * vocabulary, per language — the number that tells you which
    * languages a shared tokenizer serves poorly (fertility ≫ 1 means
    * their text fragments into byte pieces, burning sequence budget
    * and degrading that language's effective context). q198 scores
    * OOV of a SPLIT, q279 sizes the vocab curve; this turns both
    * into the per-language cost a multilingual mix designer reads.
    * In-vocab words cost 1 piece; OOV words cost ⌈len/4⌉
    * ([[fertFallbackWidth]] byte-fallback). All ratios are exact
    * milli/ppm floors.
    *
    * Scale shape: one token explode into a vocab-grain agg (Heaps-
    * bounded), the top-K cut by a window over that bounded frame
    * (q105's vocab discipline), then the corpus re-explodes once and
    * joins the BROADCAST K-row vocab — language-grain agg out. Text
    * never shuffles; the only corpus-width exchange carries
    * (lang, word-length) pairs map-side combined. */
  def q346TokenizerFertility(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val words = Tables.documentsSpread(s, dir)
      .select($"lang", explode(split(TextExprs.lower($"text"), " ")).as("tok"))
      .where($"tok" =!= "")
    val vocab = words.groupBy($"tok").agg(count(lit(1)).as("f"))
      .withColumn("r", row_number().over(Window.orderBy($"f".desc, $"tok")))
      .where($"r" <= fertVocabSize)
      .select($"tok", lit(1L).as("known"))
    words.join(broadcast(vocab), Seq("tok"), "left")
      .select($"lang", length($"tok").cast("long").as("len"),
        when($"known".isNotNull, 1L)
          .otherwise(expr(s"(length(tok) + ${fertFallbackWidth - 1}) div $fertFallbackWidth"))
          .as("pieces"),
        when($"known".isNull, 1L).otherwise(0L).as("oov"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_words"), sum($"pieces").as("n_pieces"),
        sum($"len").as("n_chars"), sum($"oov").as("n_oov"))
      .select($"lang", $"n_words", $"n_pieces",
        expr("(1000 * n_pieces) div n_words").as("fertility_milli"),
        expr("(1000000 * n_oov) div n_words").as("oov_ppm"),
        expr("(1000 * n_chars) div n_pieces").as("chars_per_piece_milli"))
      .orderBy($"lang")
  }

  private val q346Oracle =
    s"""WITH w AS (
       |  SELECT lang, unnest(string_split(lower(text), ' ')) AS tok
       |  FROM documents),
       |ww AS (SELECT lang, tok FROM w WHERE tok <> ''),
       |v AS (
       |  SELECT tok FROM (
       |    SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok) AS r
       |    FROM ww GROUP BY tok)
       |  WHERE r <= $fertVocabSize),
       |pc AS (
       |  SELECT ww.lang, length(ww.tok) AS len,
       |    CASE WHEN v.tok IS NOT NULL THEN 1
       |         ELSE (length(ww.tok) + ${fertFallbackWidth - 1}) // $fertFallbackWidth
       |    END AS pieces,
       |    CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
       |  FROM ww LEFT JOIN v ON ww.tok = v.tok)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(pieces) AS BIGINT) AS n_pieces,
       |  CAST((1000 * sum(pieces)) // count(*) AS BIGINT) AS fertility_milli,
       |  CAST((1000000 * sum(oov)) // count(*) AS BIGINT) AS oov_ppm,
       |  CAST((1000 * sum(len)) // sum(pieces) AS BIGINT)
       |    AS chars_per_piece_milli
       |FROM pc GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q350
  /** Curriculum schedule with source interleave — the ORDER a
    * curriculum-trained run consumes the corpus in (Bengio et al.
    * 2009's easy-first, operationalized): difficulty = q125's LM
    * score (fluent/easy docs score low), each doc gets its
    * easy-first rank WITHIN its source, and the global schedule
    * round-robins across sources (`pos = (rank−1)·n_sources +
    * source_idx`) so no source ever streams as a contiguous run —
    * the anti-clustering property batch composition needs (a
    * source-sorted corpus gives every batch one domain). Positions
    * are unique by construction (source_idx distinct mod n_sources)
    * but not contiguous when sources differ in size — the consumer
    * sorts by pos, gaps are free (disclosed). The decile column is
    * the curriculum PHASE annotation (pacing functions cut on it),
    * computed by the hierarchical rank so the population-grain cut
    * never plans a single-partition window.
    *
    * Scale shape: one scoring pass (q125), the decile via
    * [[Ranks.withGlobalRank]] (checkpointed narrow frame), the
    * in-source rank under `Window.partitionBy(source)` — real
    * partitions, no global window — and the source index from a
    * source-cardinality frame joined broadcast. */
  def q350CurriculumSchedule(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val scored = q125LmScore(s, dir)
      .join(Tables.documents(s, dir).select($"doc_id", $"source"), "doc_id")
      .select($"doc_id", $"source", $"avg_nll_micro")
    val deciled = Ranks.withGlobalRank(scored, $"avg_nll_micro", $"doc_id",
        "__gr", nName = "__gn")
      .withColumn("difficulty_decile", Ranks.ntileExpr(10, "__gr", "__gn"))
      .drop("__gr", "__gn")
    val srcIdx = scored.select($"source").distinct()
      .withColumn("source_idx",
        row_number().over(Window.orderBy($"source")).cast("long") - 1)
      .withColumn("n_sources", count(lit(1)).over(Window.partitionBy()))
    val wSrc = Window.partitionBy($"source")
      .orderBy($"avg_nll_micro", $"doc_id")
    deciled
      .withColumn("rank_in_source", row_number().over(wSrc).cast("long"))
      .join(broadcast(srcIdx), "source")
      .select($"doc_id", $"source", $"difficulty_decile",
        $"rank_in_source",
        (($"rank_in_source" - 1) * $"n_sources" + $"source_idx")
          .as("schedule_pos"))
      .orderBy($"schedule_pos")
  }

  private val q350Oracle =
    s"""WITH lm_scored AS (${q125Oracle.replace("ORDER BY d.doc_id", "")}),
       |sc AS (
       |  SELECT s.doc_id, d.source, s.avg_nll_micro
       |  FROM lm_scored s JOIN documents d ON s.doc_id = d.doc_id),
       |dec AS (
       |  SELECT doc_id, source, avg_nll_micro,
       |    CAST(ntile(10) OVER (ORDER BY avg_nll_micro, doc_id) AS BIGINT)
       |      AS difficulty_decile,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY avg_nll_micro, doc_id) AS BIGINT) AS rank_in_source
       |  FROM sc),
       |si AS (
       |  SELECT source,
       |    CAST(row_number() OVER (ORDER BY source) AS BIGINT) - 1
       |      AS source_idx,
       |    CAST(count(*) OVER () AS BIGINT) AS n_sources
       |  FROM (SELECT DISTINCT source FROM sc))
       |SELECT dec.doc_id, dec.source, dec.difficulty_decile,
       |  dec.rank_in_source,
       |  (dec.rank_in_source - 1) * si.n_sources + si.source_idx
       |    AS schedule_pos
       |FROM dec JOIN si ON dec.source = si.source
       |ORDER BY schedule_pos""".stripMargin

  // ---------------------------------------------------------------- q352
  /** Gradient-descent rounds for the learned gate (round 0 = the
    * untrained model's readout; rounds 1..K read the weights after
    * each update). */
  val logregRounds = 8
  /** Integer learning rate η = 4: the weight step is
    * η · (Σ err_milli·x_milli div n) — already in micro-real units
    * because milli × milli = micro. */
  val logregLr = 4L

  /** Learned quality/language gate — a from-scratch DISTRIBUTED
    * logistic-regression trainer (the shape behind every fastText /
    * CCNet / FineWeb learned quality filter: cheap per-doc features,
    * a linear model, batch gradient descent). The fixture task is
    * is-this-doc-English from three content-free statistics (lexical
    * diversity, stopword share, mean token length) — the learning
    * PRIMITIVE is the point, not the task.
    *
    * Everything is exact BIGINT fixed-point so the trained model is
    * bit-identical cross-engine: features on a milli grid, weights in
    * micro units, and the sigmoid replaced by the hard sigmoid
    * σ̂(z) = clamp(½ + z/4, 0, 1) in ppm — piecewise-linear, so the
    * whole forward pass is integer multiply/divide/clamp (the one
    * device that makes iterative TRAINING hash-oracle-able; float GD
    * diverges across engines at the first sum reorder). Gradient =
    * Σ (σ̂ − y)·x with the error pre-floored to milli, keeping every
    * per-row term ≤ 2·10⁶ — BIGINT-safe to ~4·10¹² rows. Update
    * w ← w − η·(G div n) with truncating division on both engines
    * (verified on negatives). Per round the output reports the
    * weights IN EFFECT and their training accuracy, so the whole
    * trajectory — not just the final model — is oracle-checked.
    *
    * Scale shape: the feature projection is computed once and
    * persisted (4 ints + a label per doc — the narrow frame K passes
    * are cheap over); each round is ONE map-side-combining global
    * aggregate to a single row (n, correct, 4 gradient sums) with the
    * current weights inlined as literals — the classic
    * broadcast-weights data-parallel GD: the model (4 longs) rides in
    * the closure, only fixed-size partial sums move, and the driver
    * folds K of them. The oracle unrolls the K rounds as generated
    * CTE stages (q122's device). */
  def q352QualityLogreg(s: SparkSession, dir: String): DataFrame =
    logregOf(Tables.documents(s, dir))

  /** Milli-grid integer features + {0,1} label for [[logregOf]].
    * x_len is capped at 2000 (20 chars/token) purely as a disclosed
    * BIGINT-headroom bound; the fixture's word soup sits near 500. */
  private[ops] def logregFeatures(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", toks(col("text")))
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .withColumn("n_dist", size(array_distinct(col("toks"))).cast("long"))
      .withColumn("n_stop",
        size(filter(col("toks"), t => t.isin(stopwords: _*))).cast("long"))
      .withColumn("chars_ns",
        length(regexp_replace(col("text"), " ", "")).cast("long"))
      .selectExpr(
        "doc_id",
        "CAST(1000 AS BIGINT) AS x_bias",
        "(1000 * n_dist) div n_toks AS x_div",
        "(1000 * n_stop) div n_toks AS x_stop",
        "least((100 * chars_ns) div n_toks, 2000) AS x_len",
        "CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y")

  /** Shared forward-pass expressions — ONE set of strings renders
    * into the Spark aggregate and the oracle CTEs, so the two
    * engines cannot drift. `w*` resolve to literals (Spark) or the
    * round CTE's columns (oracle). */
  private def logregZ(w0: String, w1: String, w2: String, w3: String) =
    s"(($w0 * x_bias + $w1 * x_div + $w2 * x_stop + $w3 * x_len) $IDIV 1000)"
  private def logregForward(w0: String, w1: String, w2: String, w3: String) = {
    val p = s"least(greatest(500000 + ${logregZ(w0, w1, w2, w3)} $IDIV 4, 0), 1000000)"
    val e = s"(($p) - 1000000 * y) $IDIV 1000"
    (p, e)
  }
  /** Integer-division sentinel in the shared expression strings,
    * rendered to the engine keyword (Spark `div`, DuckDB `//`) at
    * use — a plain-text `div` would collide with the `x_div` column
    * name under string replace. */
  private val IDIV = "#IDIV#"

  private[ops] def logregOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val f = logregFeatures(docs).persist()
    try {
      val w = Array(0L, 0L, 0L, 0L) // bias, div, stop, len (micro units)
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Long, Long, Long)]
      for (r <- 0 to logregRounds) {
        val (ps, es) = logregForward(s"${w(0)}L", s"${w(1)}L", s"${w(2)}L", s"${w(3)}L")
        val (p, e) = (ps.replace(IDIV, "div"), es.replace(IDIV, "div"))
        val row = f.selectExpr(
          "count(*) AS n",
          s"sum(CASE WHEN (($p) >= 500000) = (y = 1) THEN 1 ELSE 0 END) AS ok",
          s"sum(($e) * x_bias) AS g0",
          s"sum(($e) * x_div) AS g1",
          s"sum(($e) * x_stop) AS g2",
          s"sum(($e) * x_len) AS g3").collect()(0)
        val n = row.getLong(0)
        out += ((r.toLong, w(0), w(1), w(2), w(3), 1000000L * row.getLong(1) / n))
        if (r < logregRounds)
          for (j <- 0 until 4) w(j) -= logregLr * (row.getLong(2 + j) / n)
      }
      s.createDataFrame(out.toSeq)
        .toDF("round", "w_bias", "w_div", "w_stop", "w_len", "acc_ppm")
        .orderBy($"round")
    } finally f.unpersist()
  }

  /** Shared oracle CTE stack for the logistic gate: features `f`,
    * weight CTEs w0..wK, per-round aggregates s0..sK. q352 reads the
    * trajectory off s*, q363 applies the final weights wK. */
  private lazy val logregOracleCtes: String = {
    val fSql =
      s"""SELECT doc_id,
         |  CAST(1000 AS BIGINT) AS x_bias,
         |  (1000 * len(list_distinct(string_split(lower(text), ' '))))
         |    // len(string_split(lower(text), ' ')) AS x_div,
         |  (1000 * len(list_filter(string_split(lower(text), ' '),
         |      t -> t IN (${stopwords.map(w => s"'$w'").mkString(",")}))))
         |    // len(string_split(lower(text), ' ')) AS x_stop,
         |  least((100 * length(replace(text, ' ', '')))
         |    // len(string_split(lower(text), ' ')), 2000) AS x_len,
         |  CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y
         |FROM documents""".stripMargin
    val rounds = (0 to logregRounds).map { r =>
      val wDef =
        if (r == 0)
          s"""w$r AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
             |  CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3)""".stripMargin
        else
          s"""w$r AS (SELECT w0 - $logregLr * (g0 // n) AS w0,
             |  w1 - $logregLr * (g1 // n) AS w1,
             |  w2 - $logregLr * (g2 // n) AS w2,
             |  w3 - $logregLr * (g3 // n) AS w3 FROM s${r - 1})""".stripMargin
      val (p, e) = logregForward("w0", "w1", "w2", "w3")
      val (pd, ed) = (p.replace(IDIV, "//"), e.replace(IDIV, "//"))
      val sDef =
        s"""s$r AS (
           |  SELECT $r AS round, w0, w1, w2, w3,
           |    (1000000 * CAST(sum(CASE WHEN (($pd) >= 500000) = (y = 1)
           |       THEN 1 ELSE 0 END) AS BIGINT)) // count(*) AS acc_ppm,
           |    CAST(sum(($ed) * x_bias) AS BIGINT) AS g0,
           |    CAST(sum(($ed) * x_div) AS BIGINT) AS g1,
           |    CAST(sum(($ed) * x_stop) AS BIGINT) AS g2,
           |    CAST(sum(($ed) * x_len) AS BIGINT) AS g3,
           |    count(*) AS n
           |  FROM f CROSS JOIN w$r GROUP BY w0, w1, w2, w3)""".stripMargin
      wDef + ",\n" + sDef
    }
    s"""f AS ($fSql),
       |${rounds.mkString(",\n")}""".stripMargin
  }

  private lazy val q352Oracle: String = {
    val union = (0 to logregRounds)
      .map(r => s"SELECT round, w0, w1, w2, w3, acc_ppm FROM s$r")
      .mkString("\n  UNION ALL ")
    s"""WITH $logregOracleCtes
       |SELECT CAST(round AS BIGINT) AS round, w0 AS w_bias, w1 AS w_div,
       |  w2 AS w_stop, w3 AS w_len, acc_ppm
       |FROM (${union})
       |ORDER BY round""".stripMargin
  }

  // ---------------------------------------------------------------- q363
  /** Train-then-SERVE composition of the q352 gate: fit the same
    * integer GD (identical passes, so the weights are bit-equal to
    * q352's final row), then apply the frozen model to EVERY document
    * as a pure projection — per doc the hard-sigmoid probability and
    * the keep bit a curation pipeline actually filters on. The serve
    * pass is one scan with four multiplies per row (the model is four
    * literals in the closure); the oracle reuses q352's CTE stack and
    * scores off the final weight CTE, so train and serve cannot
    * drift. */
  def q363LogregGateApply(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val w = logregFit(docs)
    val (ps, _) = logregForward(s"${w(0)}L", s"${w(1)}L", s"${w(2)}L", s"${w(3)}L")
    val p = ps.replace(IDIV, "div")
    logregFeatures(docs).selectExpr("doc_id",
      s"$p AS p_ppm",
      s"CAST(CASE WHEN ($p) >= 500000 THEN 1 ELSE 0 END AS BIGINT) AS keep")
      .orderBy("doc_id")
  }

  /** The q352 training loop without the trajectory bookkeeping —
    * same feature frame, same per-round aggregate, same updates, so
    * the returned weights equal q352's round-K row bit-for-bit. */
  private[ops] def logregFit(docs: DataFrame): Array[Long] = {
    val f = logregFeatures(docs).persist()
    try {
      val w = Array(0L, 0L, 0L, 0L)
      for (_ <- 0 until logregRounds) {
        val (_, es) = logregForward(s"${w(0)}L", s"${w(1)}L", s"${w(2)}L", s"${w(3)}L")
        val e = es.replace(IDIV, "div")
        val row = f.selectExpr(
          "count(*) AS n",
          s"sum(($e) * x_bias) AS g0",
          s"sum(($e) * x_div) AS g1",
          s"sum(($e) * x_stop) AS g2",
          s"sum(($e) * x_len) AS g3").collect()(0)
        val n = row.getLong(0)
        for (j <- 0 until 4) w(j) -= logregLr * (row.getLong(1 + j) / n)
      }
      w
    } finally f.unpersist()
  }

  private lazy val q363Oracle = {
    val (p, _) = logregForward("w0", "w1", "w2", "w3")
    val pd = p.replace(IDIV, "//")
    s"""WITH $logregOracleCtes
       |SELECT f.doc_id, ($pd) AS p_ppm,
       |  CAST(CASE WHEN ($pd) >= 500000 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM f CROSS JOIN w$logregRounds
       |ORDER BY f.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q353
  /** Naive Bayes language identifier, trained AND evaluated in one
    * relational plan — the second from-scratch learner next to q352's
    * logistic gate (langid.py's model class; generative where q352 is
    * discriminative). Multinomial NB over word unigrams with +1
    * smoothing: the model is the (lang × vocab) table of floored
    * micro-nat log-likelihoods ln((c+1)/(T_l+V)) (q125's one-float-op
    * ln discipline — everything around it exact BIGINT), priors
    * ln(n_l/n_train), and a per-lang OOV weight ln(1/(T_l+V)) for
    * unseen words. Train split = q49/q91's salted-md5 bucket device
    * (salt `nb:`, buckets 0–79 train, 80–99 held out), so the split —
    * and therefore the model — is engine-reproducible with no RNG.
    *
    * Scale shape: training is one token-grain count to the
    * Heaps-bounded (lang × word) model; scoring shuffles the held-out
    * token stream ONCE on the join key, against the model; the 5-row
    * lang frame (priors + OOV weights) broadcasts. Scores are BIGINT
    * sums of per-token model weights — order-independent, so argmax
    * (score DESC, lang ASC tie-break) is deterministic cross-engine.
    * Output = per held-out doc: truth, prediction, winning score,
    * correctness bit — the eval a lang-ID gate reads before trusting
    * q61's heuristic profile at scale. */
  def q353NbLangid(s: SparkSession, dir: String): DataFrame =
    nbLangidOf(Tables.documents(s, dir))

  private[ops] def nbLangidOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val bucket = conv(substring(md5(concat(lit("nb:"), $"doc_id".cast("string"))),
      1, 4), 16, 10).cast("long") % 100
    val base = docs.withColumn("bucket", bucket)
    val train = base.filter($"bucket" < 80)
    val test = base.filter($"bucket" >= 80)
    val trainTok = train.select($"lang", explode(toks($"text")).as("word"))
    val cw = trainTok.groupBy($"lang", $"word").agg(count(lit(1)).as("c"))
    val tl = cw.groupBy($"lang").agg(sum($"c").as("t"))
    val v = cw.agg(countDistinct($"word").as("v"))
    val nl = train.groupBy($"lang").agg(count(lit(1)).as("n"))
    val ntr = train.agg(count(lit(1)).as("n_train"))
    val langs = tl.join(nl, "lang")
      .crossJoin(broadcast(ntr)).crossJoin(broadcast(v))
      .selectExpr("lang", "t", "v",
        "CAST(floor(ln(CAST(n AS DOUBLE) / n_train) * 1000000D) AS BIGINT) AS prior_micro",
        "CAST(floor(ln(1.0D / (t + v)) * 1000000D) AS BIGINT) AS oov_micro")
    val w = cw.join(tl, "lang").crossJoin(broadcast(v))
      .selectExpr("lang", "word",
        "CAST(floor(ln(CAST(c + 1 AS DOUBLE) / (t + v)) * 1000000D) AS BIGINT) AS w_micro")
    val testTok = test.select($"doc_id", $"lang".as("true_lang"),
      explode(toks($"text")).as("word"))
    val scored = testTok
      .crossJoin(broadcast(langs.select($"lang", $"prior_micro", $"oov_micro")))
      .join(w.withColumnRenamed("lang", "w_lang").withColumnRenamed("word", "w_word"),
        $"word" === $"w_word" && $"lang" === $"w_lang", "left")
      .groupBy($"doc_id", $"true_lang", $"lang", $"prior_micro")
      .agg(sum(coalesce($"w_micro", $"oov_micro")).as("tok_sum"))
      .select($"doc_id", $"true_lang", $"lang",
        ($"prior_micro" + $"tok_sum").as("score_micro"))
    import org.apache.spark.sql.expressions.Window
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy($"doc_id").orderBy($"score_micro".desc, $"lang".asc)))
      .filter($"rn" === 1)
      .select($"doc_id", $"true_lang", $"lang".as("pred_lang"), $"score_micro",
        when($"lang" === $"true_lang", 1L).otherwise(0L).as("correct"))
      .orderBy($"doc_id")
  }

  private val q353Oracle =
    """WITH b AS (
      |  SELECT doc_id, lang, text,
      |    ('0x' || substr(md5('nb:' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100
      |      AS bucket
      |  FROM documents),
      |tr AS (SELECT * FROM b WHERE bucket < 80),
      |te AS (SELECT * FROM b WHERE bucket >= 80),
      |trt AS (SELECT lang, unnest(string_split(lower(text), ' ')) AS word FROM tr),
      |cw AS (SELECT lang, word, count(*) AS c FROM trt GROUP BY 1, 2),
      |tl AS (SELECT lang, CAST(sum(c) AS BIGINT) AS t FROM cw GROUP BY 1),
      |v AS (SELECT count(DISTINCT word) AS v FROM cw),
      |nl AS (SELECT lang, count(*) AS n FROM tr GROUP BY 1),
      |ntr AS (SELECT count(*) AS n_train FROM tr),
      |langs AS (
      |  SELECT tl.lang, tl.t, v.v,
      |    CAST(floor(ln(CAST(nl.n AS DOUBLE) / ntr.n_train) * 1000000.0) AS BIGINT)
      |      AS prior_micro,
      |    CAST(floor(ln(1.0 / (tl.t + v.v)) * 1000000.0) AS BIGINT) AS oov_micro
      |  FROM tl JOIN nl ON tl.lang = nl.lang CROSS JOIN ntr CROSS JOIN v),
      |w AS (
      |  SELECT cw.lang, cw.word,
      |    CAST(floor(ln(CAST(cw.c + 1 AS DOUBLE) / (tl.t + v.v)) * 1000000.0)
      |      AS BIGINT) AS w_micro
      |  FROM cw JOIN tl ON cw.lang = tl.lang CROSS JOIN v),
      |tet AS (
      |  SELECT doc_id, lang AS true_lang,
      |    unnest(string_split(lower(text), ' ')) AS word
      |  FROM te),
      |sc AS (
      |  SELECT tt.doc_id, tt.true_lang, l.lang,
      |    l.prior_micro + CAST(sum(COALESCE(w.w_micro, l.oov_micro)) AS BIGINT)
      |      AS score_micro
      |  FROM tet tt CROSS JOIN langs l
      |  LEFT JOIN w ON w.word = tt.word AND w.lang = l.lang
      |  GROUP BY tt.doc_id, tt.true_lang, l.lang, l.prior_micro),
      |rk AS (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |    ORDER BY score_micro DESC, lang ASC) AS rn
      |  FROM sc)
      |SELECT doc_id, true_lang, lang AS pred_lang, score_micro,
      |  CAST(CASE WHEN lang = true_lang THEN 1 ELSE 0 END AS BIGINT) AS correct
      |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q398
  /** Mojibake marker classes — the four byte-level scars UTF-8 text
    * carries after a wrong-codec round trip (the ftfy problem class):
    * Latin-1-double-decoded accents ('Ã©'), Windows-1252 smart quotes
    * ('â€™'), the U+FFFD replacement char a lossy decode leaves, and
    * the double-decoded NBSP ('Â '+NBSP). Detection only — the repair
    * (replace with the re-decoded char) is the trivial extension once
    * the gate fires. */
  private[ops] val mojibakeMarkers: Seq[(String, String)] = Seq(
    ("latin1_double", "Ã©"),
    ("nbsp_artifact", "Â "),
    ("replacement",   "�"),
    ("smart_quote",   "â€™"))

  /** Encoding-artifact (mojibake) audit over the corpus — the
    * data-quality gate an LLM corpus needs BEFORE tokenization:
    * double-decoded bytes survive every downstream filter (they are
    * valid UTF-8, so length/stopword/lang heuristics pass) and then
    * poison the vocabulary with phantom tokens. Counting uses the
    * engine-portable replace-diff device — hits = (len(text) −
    * len(replace(text, marker, ''))) div len(marker) — characters
    * only, no regex dialect to drift between engines. One scan-side
    * projection computes all four classes, one explode stacks them,
    * one class-grain aggregate (4 rows) reports affected docs +
    * total hits. Corrupted docs are planted in-query (q57's device)
    * so every class is live cross-engine; the corpus itself is
    * clean, which the zero-vs-planted split proves. */
  def q398MojibakeAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val Seq(lat, nb, rep, sq) = mojibakeMarkers.map(_._2)
    val planted = Seq(
      (-1L, s"caf$lat au lait and another caf$lat"),
      (-2L, s"it${sq}s the teams$sq plan"),
      (-3L, s"lost bytes $rep$rep$rep here"),
      (-4L, s"hard${nb}space"),
      (-5L, "perfectly clean ascii text"))
      .toDF("doc_id", "text")
    val docs = Tables.documents(s, dir).select($"doc_id", $"text")
      .unionByName(planted)
    val counted = docs.select(
      mojibakeMarkers.map { case (name, m) =>
        expr(s"(length(text) - length(replace(text, '$m', ''))) div ${m.length}")
          .cast("long").as(name)
      }: _*)
    counted
      .select(explode(array(mojibakeMarkers.map { case (name, _) =>
        struct(lit(name).as("artifact"), col(name).as("hits"))
      }: _*)).as("e"))
      .groupBy($"e.artifact".as("artifact"))
      .agg(sum(when($"e.hits" > 0L, 1L).otherwise(0L)).as("n_docs"),
        sum($"e.hits").as("n_hits"))
      .orderBy($"artifact")
  }

  private val q398Oracle = {
    val Seq(lat, nb, rep, sq) = mojibakeMarkers.map(_._2)
    val plants =
      s"""SELECT * FROM (VALUES
         |  (-1, 'caf$lat au lait and another caf$lat'),
         |  (-2, 'it${sq}s the teams$sq plan'),
         |  (-3, 'lost bytes $rep$rep$rep here'),
         |  (-4, 'hard${nb}space'),
         |  (-5, 'perfectly clean ascii text')) AS p(doc_id, text)""".stripMargin
    val classes = mojibakeMarkers.map { case (name, m) =>
      s"""SELECT '$name' AS artifact,
         |  CAST(sum(CASE WHEN h > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
         |  CAST(sum(h) AS BIGINT) AS n_hits
         |FROM (SELECT (length(text) - length(replace(text, '$m', '')))
         |        // ${m.length} AS h FROM corpus)""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL BY NAME $plants)
       |$classes
       |ORDER BY artifact""".stripMargin
  }

  // ---------------------------------------------------------------- q438
  /** Chat-format LINT for instruction-tuning corpora: validate
    * conversation transcripts against the canonical shape — optional
    * `system` head, then strict user/assistant alternation, no empty
    * turns, ending on `assistant`. The whole structural check
    * collapses to ONE regex over the role-letter string
    * (`^s?(ua)+$`), so it runs scan-side with no per-turn joins —
    * at 100 TB the lint is a projection. Transcripts are planted
    * in-query from doc words (doc_id % 5 selects the shape), so
    * every violation class — double-user, ends-on-user, empty turn —
    * fires on the fixture and the oracle rebuilds byte-identical
    * transcripts. The lint itself is generic: it parses lines, never
    * the generator's branches. */
  def q438ChatFormatLint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables.documentsSpread(s, dir)
      .withColumn("w", toks($"text"))
      .select($"doc_id",
        element_at($"w", 1).as("w1"), element_at($"w", 2).as("w2"),
        element_at($"w", 3).as("w3"), element_at($"w", 4).as("w4"))
    def u(c: Column) = concat(lit("user: "), c)
    def a(c: Column) = concat(lit("assistant: "), c)
    val transcript =
      when(pmod($"doc_id", lit(5)) === 0, concat_ws("\n",
        lit("system: be concise"), u($"w1"), a($"w2"), u($"w3"), a($"w4")))
      .when(pmod($"doc_id", lit(5)) === 1, concat_ws("\n", u($"w1"), a($"w2")))
      .when(pmod($"doc_id", lit(5)) === 2, concat_ws("\n",
        u($"w1"), u($"w2"), a($"w3")))                // double-user
      .when(pmod($"doc_id", lit(5)) === 3, concat_ws("\n",
        u($"w1"), a($"w2"), u($"w3")))                // ends on user
      .otherwise(concat_ws("\n", lit("user: "), a($"w2"))) // empty turn
    d.withColumn("lines", split(transcript, "\n"))
      .withColumn("role_seq", concat_ws("", transform($"lines", l => {
        val role = substring_index(l, ":", 1)
        when(role === "system", "s").when(role === "user", "u")
          .when(role === "assistant", "a").otherwise("x")
      })))
      .withColumn("n_turns", size($"lines").cast("long"))
      .withColumn("pattern_ok", $"role_seq".rlike("^s?(ua)+$"))
      .withColumn("has_empty", exists($"lines", l => l.rlike(": $")))
      .select($"doc_id", $"n_turns", $"role_seq", $"pattern_ok",
        $"has_empty", ($"pattern_ok" && !$"has_empty").as("valid"))
      .orderBy($"doc_id")
  }

  private val q438Oracle =
    """WITH t AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |b AS (
      |  SELECT doc_id, CASE doc_id % 5
      |    WHEN 0 THEN 'system: be concise' || chr(10) ||
      |      'user: ' || w[1] || chr(10) || 'assistant: ' || w[2] || chr(10) ||
      |      'user: ' || w[3] || chr(10) || 'assistant: ' || w[4]
      |    WHEN 1 THEN 'user: ' || w[1] || chr(10) || 'assistant: ' || w[2]
      |    WHEN 2 THEN 'user: ' || w[1] || chr(10) || 'user: ' || w[2] ||
      |      chr(10) || 'assistant: ' || w[3]
      |    WHEN 3 THEN 'user: ' || w[1] || chr(10) || 'assistant: ' || w[2] ||
      |      chr(10) || 'user: ' || w[3]
      |    ELSE 'user: ' || chr(10) || 'assistant: ' || w[2]
      |    END AS tr
      |  FROM t),
      |l AS (SELECT doc_id, string_split(tr, chr(10)) AS lines FROM b)
      |SELECT doc_id,
      |  CAST(len(lines) AS BIGINT) AS n_turns,
      |  array_to_string(list_transform(lines, x ->
      |    CASE split_part(x, ':', 1) WHEN 'system' THEN 's'
      |         WHEN 'user' THEN 'u' WHEN 'assistant' THEN 'a'
      |         ELSE 'x' END), '') AS role_seq,
      |  regexp_matches(array_to_string(list_transform(lines, x ->
      |    CASE split_part(x, ':', 1) WHEN 'system' THEN 's'
      |         WHEN 'user' THEN 'u' WHEN 'assistant' THEN 'a'
      |         ELSE 'x' END), ''), '^s?(ua)+$') AS pattern_ok,
      |  len(list_filter(lines, x -> x LIKE '%: ')) > 0 AS has_empty,
      |  (regexp_matches(array_to_string(list_transform(lines, x ->
      |    CASE split_part(x, ':', 1) WHEN 'system' THEN 's'
      |         WHEN 'user' THEN 'u' WHEN 'assistant' THEN 'a'
      |         ELSE 'x' END), ''), '^s?(ua)+$')
      |   AND NOT len(list_filter(lines, x -> x LIKE '%: ')) > 0) AS valid
      |FROM l ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q439
  /** Preference-pair LENGTH-BIAS audit (the RLHF reward-hacking
    * screen): does `chosen` correlate with response length? Pairs are
    * planted from consecutive documents with a deliberate 70/30
    * longer-wins skew (pair_id % 10 picks the winner), and the audit
    * reports the longer-wins rate per length-gap bucket in exact ppm
    * integers — a flat ~700000 across buckets is the planted bias
    * showing through. One equi-join on doc_id+1 (no shuffle beyond
    * the pair build), counts and floor-division only, so the readout
    * is bit-exact cross-engine. Equal-length pairs are excluded
    * ("longer" is undefined). */
  def q439LengthBiasAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables.documentsSpread(s, dir).select($"doc_id", $"n_chars")
    val a = d.where(pmod($"doc_id", lit(2)) === 0)
      .select($"doc_id".as("aid"), $"n_chars".as("la"))
    val b = d.select($"doc_id".as("bid"), $"n_chars".as("lb"))
    a.join(b, $"bid" === $"aid" + 1)
      .where($"la" =!= $"lb")
      .select(expr("aid div 2").as("pair_id"), $"la", $"lb")
      .withColumn("chosen_len",
        when(pmod($"pair_id", lit(10)) < 7, greatest($"la", $"lb"))
          .otherwise(least($"la", $"lb")))
      .withColumn("longer_wins",
        ($"chosen_len" === greatest($"la", $"lb")).cast("long"))
      .withColumn("gap_bucket",
        least(expr("abs(la - lb) div 50"), lit(5L)).cast("long"))
      .groupBy($"gap_bucket")
      .agg(count(lit(1)).as("n_pairs"),
        expr("CAST((sum(longer_wins) * 1000000) DIV count(1) AS BIGINT)")
          .as("longer_win_ppm"))
      .orderBy($"gap_bucket")
  }

  private val q439Oracle =
    """WITH p AS (
      |  SELECT a.doc_id // 2 AS pair_id, a.n_chars AS la, b.n_chars AS lb
      |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      |  WHERE a.doc_id % 2 = 0 AND a.n_chars <> b.n_chars),
      |w AS (
      |  SELECT pair_id, la, lb,
      |    CASE WHEN pair_id % 10 < 7 THEN greatest(la, lb)
      |         ELSE least(la, lb) END AS chosen_len,
      |    least(abs(la - lb) // 50, 5) AS gap_bucket
      |  FROM p)
      |SELECT CAST(gap_bucket AS BIGINT) AS gap_bucket,
      |  CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST((sum(CASE WHEN chosen_len = greatest(la, lb) THEN 1 ELSE 0 END)
      |        * 1000000) // count(*) AS BIGINT) AS longer_win_ppm
      |FROM w GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q440
  /** Generation-LOOP detection (the degenerate-repetition artifact
    * filter for synthetic/model-written data): longest immediate
    * repetition span at periods 1–3 — "loop loop loop…" (period 1),
    * "ping pong ping pong…" (period 2) — via the gaps-and-islands
    * run-length device over positioned tokens: a position continues a
    * period-p loop iff its token equals the token p back, and a
    * maximal run of r such positions is a loop span of r+p tokens.
    * Work is per-doc windows over (doc, pos) — one shuffle on doc_id,
    * no self-joins. Both artifact shapes are planted in-query
    * (doc_id % 7 / % 11) so the ≥8-token verdict fires on the
    * fixture; Gopher-style duplicate-LINE shares (q63/q107) cannot
    * see these — the loop lives inside one line. */
  def q440LoopDetection(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val planted =
      when(pmod($"doc_id", lit(7)) === 0,
        concat($"text", lit(" loop loop loop loop loop loop loop loop")))
      .when(pmod($"doc_id", lit(11)) === 0,
        concat($"text", lit(" ping pong ping pong ping pong ping pong")))
      .otherwise($"text")
    val d = Tables.documentsSpread(s, dir)
      .select($"doc_id", planted.as("text"))
    val tok = d.select($"doc_id", posexplode(toks($"text")).as(Seq("pos", "w")))
    val byPos = Window.partitionBy($"doc_id").orderBy($"pos")
    val spans = (1 to 3).map { p =>
      tok.withColumn("back", lag($"w", p).over(byPos))
        .where($"w" === $"back")
        .withColumn("rn", row_number().over(byPos))
        .groupBy($"doc_id", ($"pos" - $"rn").as("grp"))
        .agg(count(lit(1)).as("run"))
        .groupBy($"doc_id")
        .agg((max($"run") + p).cast("long").as(s"span$p"))
    }
    spans.foldLeft(d.select($"doc_id"))(
        (acc, sp) => acc.join(sp, Seq("doc_id"), "left"))
      .select($"doc_id",
        coalesce($"span1", lit(0L)).as("span1"),
        coalesce($"span2", lit(0L)).as("span2"),
        coalesce($"span3", lit(0L)).as("span3"))
      .withColumn("is_loopy",
        greatest($"span1", $"span2", $"span3") >= 8L)
      .orderBy($"doc_id")
  }

  private val q440Oracle =
    """WITH d AS (
      |  SELECT doc_id, CASE
      |    WHEN doc_id % 7 = 0 THEN text ||
      |      ' loop loop loop loop loop loop loop loop'
      |    WHEN doc_id % 11 = 0 THEN text ||
      |      ' ping pong ping pong ping pong ping pong'
      |    ELSE text END AS text
      |  FROM documents),
      |t AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM d),
      |tok AS (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS pos FROM t),
      |eq AS (
      |  SELECT doc_id, pos, p
      |  FROM tok, (VALUES (1), (2), (3)) AS pp(p)
      |  WHERE pos - p >= 1 AND w[pos] = w[pos - p]),
      |runs AS (
      |  SELECT doc_id, p,
      |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id, p ORDER BY pos) AS grp
      |  FROM eq),
      |mr AS (
      |  SELECT doc_id, p, MAX(n) AS run FROM (
      |    SELECT doc_id, p, grp, count(*) AS n FROM runs GROUP BY 1, 2, 3)
      |  GROUP BY 1, 2),
      |sp AS (
      |  SELECT doc_id,
      |    coalesce(MAX(CASE WHEN p = 1 THEN run + 1 END), 0) AS span1,
      |    coalesce(MAX(CASE WHEN p = 2 THEN run + 2 END), 0) AS span2,
      |    coalesce(MAX(CASE WHEN p = 3 THEN run + 3 END), 0) AS span3
      |  FROM mr GROUP BY 1)
      |SELECT d.doc_id,
      |  CAST(coalesce(sp.span1, 0) AS BIGINT) AS span1,
      |  CAST(coalesce(sp.span2, 0) AS BIGINT) AS span2,
      |  CAST(coalesce(sp.span3, 0) AS BIGINT) AS span3,
      |  greatest(coalesce(sp.span1, 0), coalesce(sp.span2, 0),
      |    coalesce(sp.span3, 0)) >= 8 AS is_loopy
      |FROM d LEFT JOIN sp ON d.doc_id = sp.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- q443
  /** Bradley–Terry strength fit over pairwise preference judgments —
    * the model-vs-model (here: source-vs-source) leaderboard device
    * behind chat-arena ELO tables and RLHF annotator calibration
    * (Hunter 2004's MM algorithm, public). Pairs are q439's planted
    * judgments (consecutive docs, 70/30 longer-wins), competitors are
    * the two docs' SOURCES (same-source pairs drop — no information);
    * three unrolled MM rounds, p_i ← w_i / Σ_j n_ij/(p_i+p_j),
    * renormalized to mean 1.0 each round, all in exact micro
    * fixed-point BIGINTs (every div is a floor-div on integers, every
    * sum order-independent) so the readout is bit-identical
    * cross-engine. MM converges geometrically on dense grids like
    * this; the spec pins a planted 3-player grid against hand
    * arithmetic.
    *
    * Scale shape: one equi-join builds pairs (shuffle on doc_id),
    * then everything folds to the #sources² cell grid — iterations
    * join broadcast strength vectors against that grid, never the
    * corpus. n·10¹² caps BIGINT near ~10⁶ pairs per cell; re-scale
    * the fixed point beyond. */
  def q443BradleyTerry(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables.documentsSpread(s, dir)
      .select($"doc_id", $"source", $"n_chars")
    val a = d.where(pmod($"doc_id", lit(2)) === 0)
      .select($"doc_id".as("aid"), $"source".as("sa"), $"n_chars".as("la"))
    val b = d.select($"doc_id".as("bid"), $"source".as("sb"),
      $"n_chars".as("lb"))
    val pairs = a.join(b, $"bid" === $"aid" + 1)
      .where($"sa" =!= $"sb" && $"la" =!= $"lb")
      .select(expr("aid div 2").as("pair_id"), $"sa", $"sb", $"la", $"lb")
      .withColumn("a_wins",
        when(pmod($"pair_id", lit(10)) < 7, $"la" > $"lb")
          .otherwise($"la" < $"lb").cast("long"))
    btStrengths(pairs.select(
      least($"sa", $"sb").as("lo"), greatest($"sa", $"sb").as("hi"),
      when($"sa" < $"sb", $"a_wins").otherwise(lit(1L) - $"a_wins")
        .as("lo_wins")))
  }

  /** The MM loop on any (lo, hi, lo_wins) judgment stream — separated
    * so the spec can plant a 3-player grid with hand-checked
    * strengths. */
  private[ops] def btStrengths(pw: DataFrame, rounds: Int = 3): DataFrame = {
    val s = pw.sparkSession
    import s.implicits._
    val cells = pw
      .groupBy($"lo", $"hi")
      .agg(count(lit(1)).as("n"), sum($"lo_wins").as("wl"))
      .withColumn("wh", $"n" - $"wl")
      .localCheckpoint(true) // the grid re-reads every MM round
    val tallies = cells.select($"lo".as("source"), $"n", $"wl".as("w"))
      .unionByName(cells.select($"hi".as("source"), $"n", $"wh".as("w")))
      .groupBy($"source")
      .agg(sum($"n").as("games"), sum($"w").as("wins"))
    var p = tallies.select($"source", lit(1000000L).as("p"))
    for (_ <- 1 to rounds) {
      val t = cells
        .join(broadcast(p.select($"source".as("lo"), $"p".as("pl"))), "lo")
        .join(broadcast(p.select($"source".as("hi"), $"p".as("ph"))), "hi")
        .withColumn("t",
          expr("(n * 1000000000000) div greatest(pl + ph, 1)"))
      val den = t.select($"lo".as("source"), $"t")
        .unionByName(t.select($"hi".as("source"), $"t"))
        .groupBy($"source").agg(sum($"t").as("den"))
      val raw = tallies.join(den, "source")
        .select($"source",
          expr("(wins * 1000000000000) div greatest(den, 1)").as("praw"))
      val norm = raw.agg(sum($"praw").as("sp"), count(lit(1)).as("np"))
      // materialize each round: the strength vector is #sources rows,
      // and WITHOUT the cut, round r's two broadcasts + the norm pass
      // each re-execute round r−1's whole DAG — re-computation grows
      // geometrically in `rounds` (measured: 11 s → ~2 s at sf0.1)
      p = raw.crossJoin(broadcast(norm))
        .select($"source",
          expr("(praw * np * 1000000) div greatest(sp, 1)").as("p"))
        .localCheckpoint(true)
    }
    tallies.join(p, "source")
      .select($"source", $"games", $"wins", $"p".as("strength_micro"))
      .orderBy($"source")
  }

  private val q443Oracle =
    """WITH p0 AS (
      |  SELECT a.doc_id // 2 AS pair_id, a.source AS sa, b.source AS sb,
      |    a.n_chars AS la, b.n_chars AS lb
      |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      |  WHERE a.doc_id % 2 = 0 AND a.source <> b.source
      |    AND a.n_chars <> b.n_chars),
      |pw AS (
      |  SELECT least(sa, sb) AS lo, greatest(sa, sb) AS hi,
      |    CASE WHEN sa < sb THEN aw ELSE 1 - aw END AS lw
      |  FROM (SELECT *, CASE WHEN pair_id % 10 < 7
      |          THEN CASE WHEN la > lb THEN 1 ELSE 0 END
      |          ELSE CASE WHEN la < lb THEN 1 ELSE 0 END END AS aw
      |        FROM p0)),
      |cells AS (
      |  SELECT lo, hi, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(lw) AS BIGINT) AS wl,
      |    CAST(count(*) - sum(lw) AS BIGINT) AS wh
      |  FROM pw GROUP BY 1, 2),
      |tall AS (
      |  SELECT source, CAST(sum(n) AS BIGINT) AS games,
      |    CAST(sum(w) AS BIGINT) AS wins
      |  FROM (SELECT lo AS source, n, wl AS w FROM cells
      |        UNION ALL SELECT hi, n, wh FROM cells)
      |  GROUP BY 1),
      |s0 AS (SELECT source, CAST(1000000 AS BIGINT) AS p FROM tall),
      |t1 AS (
      |  SELECT c.lo, c.hi,
      |    (c.n * 1000000000000) // greatest(pl.p + ph.p, 1) AS t
      |  FROM cells c JOIN s0 pl ON pl.source = c.lo
      |  JOIN s0 ph ON ph.source = c.hi),
      |d1 AS (SELECT source, CAST(sum(t) AS BIGINT) AS den FROM
      |  (SELECT lo AS source, t FROM t1 UNION ALL SELECT hi, t FROM t1)
      |  GROUP BY 1),
      |r1 AS (SELECT tall.source,
      |    (wins * 1000000000000) // greatest(den, 1) AS praw
      |  FROM tall JOIN d1 ON d1.source = tall.source),
      |n1 AS (SELECT CAST(sum(praw) AS BIGINT) AS sp,
      |    CAST(count(*) AS BIGINT) AS np FROM r1),
      |s1 AS (SELECT source,
      |    (praw * np * 1000000) // greatest(sp, 1) AS p FROM r1, n1),
      |t2 AS (
      |  SELECT c.lo, c.hi,
      |    (c.n * 1000000000000) // greatest(pl.p + ph.p, 1) AS t
      |  FROM cells c JOIN s1 pl ON pl.source = c.lo
      |  JOIN s1 ph ON ph.source = c.hi),
      |d2 AS (SELECT source, CAST(sum(t) AS BIGINT) AS den FROM
      |  (SELECT lo AS source, t FROM t2 UNION ALL SELECT hi, t FROM t2)
      |  GROUP BY 1),
      |r2 AS (SELECT tall.source,
      |    (wins * 1000000000000) // greatest(den, 1) AS praw
      |  FROM tall JOIN d2 ON d2.source = tall.source),
      |n2 AS (SELECT CAST(sum(praw) AS BIGINT) AS sp,
      |    CAST(count(*) AS BIGINT) AS np FROM r2),
      |s2 AS (SELECT source,
      |    (praw * np * 1000000) // greatest(sp, 1) AS p FROM r2, n2),
      |t3 AS (
      |  SELECT c.lo, c.hi,
      |    (c.n * 1000000000000) // greatest(pl.p + ph.p, 1) AS t
      |  FROM cells c JOIN s2 pl ON pl.source = c.lo
      |  JOIN s2 ph ON ph.source = c.hi),
      |d3 AS (SELECT source, CAST(sum(t) AS BIGINT) AS den FROM
      |  (SELECT lo AS source, t FROM t3 UNION ALL SELECT hi, t FROM t3)
      |  GROUP BY 1),
      |r3 AS (SELECT tall.source,
      |    (wins * 1000000000000) // greatest(den, 1) AS praw
      |  FROM tall JOIN d3 ON d3.source = tall.source),
      |n3 AS (SELECT CAST(sum(praw) AS BIGINT) AS sp,
      |    CAST(count(*) AS BIGINT) AS np FROM r3),
      |s3 AS (SELECT source,
      |    (praw * np * 1000000) // greatest(sp, 1) AS p FROM r3, n3)
      |SELECT tall.source, games, wins, s3.p AS strength_micro
      |FROM tall JOIN s3 ON s3.source = tall.source
      |ORDER BY tall.source""".stripMargin

  // ---------------------------------------------------------------- q447
  /** Annotator-reliability weighted relabeling — one Dawid–Skene-style
    * EM round with linear competence weights (truth inference for
    * crowd/RLHF label aggregation; Dawid & Skene 1979 is the public
    * lineage): three planted annotators with distinct error rates
    * label every doc, majority vote seeds the truth estimate, each
    * annotator's competence w = 2·agree_ppm − 10⁶ (random guessing
    * → 0, perfect → 10⁶), and a weighted re-vote relabels items —
    * flipping exactly the items where the two weaker annotators
    * outvoted the stronger one. All arithmetic in exact ppm BIGINTs;
    * the readout is per-annotator (items, majority agreement,
    * competence, post-reweight agreement).
    *
    * Scale shape: labels are scan-side projections; both voting
    * rounds are one groupBy(doc) plus a 3-row competence table
    * broadcast back — the corpus shuffles once on doc_id. */
  def q447AnnotatorReliability(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables.documentsSpread(s, dir).select($"doc_id")
      .withColumn("t", pmod($"doc_id", lit(2)))
    // annotator j flips the planted label at rate e_j/10
    def lbl(j: Int, e: Int) = when(
      pmod($"doc_id" * 31 + lit(j * 17), lit(10)) < e,
      lit(1) - $"t").otherwise($"t").cast("long").as(s"l$j")
    val labeled = d.select($"doc_id", lbl(0, 1), lbl(1, 2), lbl(2, 4))
      .withColumn("maj",
        ($"l0" + $"l1" + $"l2" >= 2).cast("long"))
      .localCheckpoint(true) // both rounds re-read the label grid
    val votes = labeled.select($"doc_id", $"maj",
      explode(array(
        struct(lit(0L).as("annotator"), $"l0".as("l")),
        struct(lit(1L).as("annotator"), $"l1".as("l")),
        struct(lit(2L).as("annotator"), $"l2".as("l")))).as("v"))
      .select($"doc_id", $"maj", $"v.annotator", $"v.l")
    val comp = votes.groupBy($"annotator")
      .agg(count(lit(1)).as("n_items"),
        sum(($"l" === $"maj").cast("long")).as("agree_majority"))
      .withColumn("competence",
        expr("2 * ((agree_majority * 1000000) div n_items) - 1000000"))
    // weighted re-vote: Σ w over 1-voters vs 0-voters, ties stay 0
    val w = comp.select($"annotator".as("w_ann"), $"competence".as("w"))
    val rel = votes.join(broadcast(w), $"annotator" === $"w_ann")
      .groupBy($"doc_id")
      .agg(sum(when($"l" === 1L, $"w").otherwise(0L)).as("w1"),
        sum(when($"l" === 0L, $"w").otherwise(0L)).as("w0"))
      .select($"doc_id", ($"w1" > $"w0").cast("long").as("rl"))
    val agree2 = votes.join(rel, "doc_id")
      .groupBy($"annotator")
      .agg(sum(($"l" === $"rl").cast("long")).as("agree_weighted"))
    comp.join(agree2, "annotator")
      .select($"annotator", $"n_items", $"agree_majority",
        $"competence", $"agree_weighted")
      .orderBy($"annotator")
  }

  private val q447Oracle =
    """WITH d AS (
      |  SELECT doc_id, doc_id % 2 AS t FROM documents),
      |lab AS (
      |  SELECT doc_id,
      |    CASE WHEN (doc_id * 31 + 0) % 10 < 1 THEN 1 - t ELSE t END AS l0,
      |    CASE WHEN (doc_id * 31 + 17) % 10 < 2 THEN 1 - t ELSE t END AS l1,
      |    CASE WHEN (doc_id * 31 + 34) % 10 < 4 THEN 1 - t ELSE t END AS l2
      |  FROM d),
      |m AS (SELECT *, CASE WHEN l0 + l1 + l2 >= 2 THEN 1 ELSE 0 END AS maj
      |      FROM lab),
      |v AS (
      |  SELECT doc_id, maj, 0 AS annotator, l0 AS l FROM m
      |  UNION ALL SELECT doc_id, maj, 1, l1 FROM m
      |  UNION ALL SELECT doc_id, maj, 2, l2 FROM m),
      |comp AS (
      |  SELECT annotator, CAST(count(*) AS BIGINT) AS n_items,
      |    CAST(sum(CASE WHEN l = maj THEN 1 ELSE 0 END) AS BIGINT)
      |      AS agree_majority
      |  FROM v GROUP BY 1),
      |cw AS (
      |  SELECT *, 2 * ((agree_majority * 1000000) // n_items) - 1000000
      |    AS competence FROM comp),
      |rel AS (
      |  SELECT v.doc_id,
      |    CASE WHEN sum(CASE WHEN l = 1 THEN cw.competence ELSE 0 END)
      |       > sum(CASE WHEN l = 0 THEN cw.competence ELSE 0 END)
      |    THEN 1 ELSE 0 END AS rl
      |  FROM v JOIN cw ON cw.annotator = v.annotator
      |  GROUP BY 1),
      |a2 AS (
      |  SELECT v.annotator,
      |    CAST(sum(CASE WHEN v.l = rel.rl THEN 1 ELSE 0 END) AS BIGINT)
      |      AS agree_weighted
      |  FROM v JOIN rel ON rel.doc_id = v.doc_id GROUP BY 1)
      |SELECT CAST(cw.annotator AS BIGINT) AS annotator, n_items,
      |  agree_majority, CAST(competence AS BIGINT) AS competence,
      |  agree_weighted
      |FROM cw JOIN a2 ON a2.annotator = cw.annotator
      |ORDER BY annotator""".stripMargin

  // ---------------------------------------------------------------- q448
  /** Fill-in-the-middle transform (the FIM pretraining objective's
    * data prep — Bavarian et al. 2022, public): each doc splits at
    * deterministic third-points into (prefix, middle, suffix) and
    * re-serializes in PSM or SPM order (by doc parity) with sentinel
    * tokens, the exact shape an infilling-capable code/text model
    * trains on. Pure scan-side string surgery — zero joins, zero
    * shuffles beyond the final order; substr cut points are CHARACTER
    * positions so the transform is engine-portable (both engines
    * count chars, not bytes). Short docs (< 30 chars) pass through
    * untransformed with mode 'raw' — an infilling split of a tweet-
    * sized doc wastes the sentinel budget (disclosed heuristic). */
  def q448FimTransform(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", $"text", length($"text").as("n"))
      .withColumn("a", expr("n div 3"))
      .withColumn("b", expr("(2 * n) div 3"))
      .withColumn("mode",
        when($"n" < 30, lit("raw"))
          .when(pmod($"doc_id", lit(2)) === 0, lit("psm"))
          .otherwise(lit("spm")))
      .withColumn("fim_text",
        when($"mode" === "raw", $"text")
          .when($"mode" === "psm",
            concat(lit("<PRE>"), expr("substr(text, 1, a)"),
              lit("<SUF>"), expr("substr(text, b + 1)"),
              lit("<MID>"), expr("substr(text, a + 1, b - a)")))
          .otherwise(
            concat(lit("<SUF>"), expr("substr(text, b + 1)"),
              lit("<PRE>"), expr("substr(text, 1, a)"),
              lit("<MID>"), expr("substr(text, a + 1, b - a)"))))
      .select($"doc_id", $"mode",
        length($"fim_text").cast("long").as("fim_len"), $"fim_text")
      .orderBy($"doc_id")
  }

  private val q448Oracle =
    """WITH d AS (
      |  SELECT doc_id, text, length(text) AS n,
      |    length(text) // 3 AS a, (2 * length(text)) // 3 AS b
      |  FROM documents),
      |t AS (
      |  SELECT doc_id,
      |    CASE WHEN n < 30 THEN 'raw'
      |         WHEN doc_id % 2 = 0 THEN 'psm' ELSE 'spm' END AS mode,
      |    CASE WHEN n < 30 THEN text
      |         WHEN doc_id % 2 = 0 THEN
      |           '<PRE>' || substr(text, 1, a) || '<SUF>' ||
      |           substr(text, b + 1) || '<MID>' ||
      |           substr(text, a + 1, b - a)
      |         ELSE
      |           '<SUF>' || substr(text, b + 1) || '<PRE>' ||
      |           substr(text, 1, a) || '<MID>' ||
      |           substr(text, a + 1, b - a) END AS fim_text
      |  FROM d)
      |SELECT doc_id, mode, CAST(length(fim_text) AS BIGINT) AS fim_len,
      |  fim_text
      |FROM t ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q450
  /** Data-constrained mixing plan (the multi-epoch budget allocator —
    * Muennighoff et al. 2023's finding that ~4 epochs of repeated data
    * are near-free is the public lineage): given a token budget of
    * 2× the corpus, allocate per-source TARGET tokens by doc-count
    * share with largest-remainder exactness (q289's device — targets
    * sum to the budget exactly), convert to micro-epochs capped at
    * 4.0 (beyond that, repetition stops buying loss), and report the
    * sampled token yield. Whitespace token counts (q72's convention);
    * everything integer, one corpus scan, then all arithmetic on the
    * #sources grid. */
  def q450DataConstrainedMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val per = Tables.documentsSpread(s, dir)
      .select($"source", size(split($"text", lit(" "))).cast("long").as("n"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n").as("tokens"))
    val tot = per.agg(sum($"n_docs").as("d"), sum($"tokens").as("t"))
    val whole = Window.partitionBy()
    per.crossJoin(broadcast(tot))
      .withColumn("budget", $"t" * 2)
      .withColumn("base", expr("(budget * n_docs) div d"))
      .withColumn("rem", expr("(budget * n_docs) % d"))
      .withColumn("leftover",
        ($"budget" - sum($"base").over(whole)).cast("long"))
      .withColumn("rk",
        row_number().over(Window.orderBy($"rem".desc, $"source".asc))
          .cast("long"))
      .withColumn("target_tokens",
        $"base" + when($"rk" <= $"leftover", 1L).otherwise(0L))
      .withColumn("epochs_micro",
        least(lit(4000000L),
          expr("(target_tokens * 1000000) div greatest(tokens, 1)")))
      .withColumn("sampled_tokens",
        expr("(tokens * epochs_micro) div 1000000"))
      .select($"source", $"n_docs", $"tokens", $"target_tokens",
        $"epochs_micro", $"sampled_tokens")
      .orderBy($"source")
  }

  private val q450Oracle =
    """WITH per AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
      |  FROM documents GROUP BY 1),
      |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS d,
      |  CAST(sum(tokens) AS BIGINT) AS t FROM per),
      |g AS (
      |  SELECT per.*, t * 2 AS budget,
      |    (t * 2 * n_docs) // d AS base,
      |    (t * 2 * n_docs) % d AS rem
      |  FROM per, tot),
      |r AS (
      |  SELECT *, budget - sum(base) OVER () AS leftover,
      |    row_number() OVER (ORDER BY rem DESC, source ASC) AS rk
      |  FROM g),
      |f AS (
      |  SELECT source, n_docs, tokens,
      |    base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
      |      AS target_tokens
      |  FROM r),
      |e AS (
      |  SELECT *, least(4000000,
      |    (target_tokens * 1000000) // greatest(tokens, 1))
      |    AS epochs_micro
      |  FROM f)
      |SELECT source, n_docs, tokens, CAST(target_tokens AS BIGINT)
      |    AS target_tokens,
      |  CAST(epochs_micro AS BIGINT) AS epochs_micro,
      |  CAST((tokens * epochs_micro) // 1000000 AS BIGINT)
      |    AS sampled_tokens
      |FROM e ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q452
  /** Bounded edit-distance near-dup (the OCR-noise / typo-variant
    * dedup family): candidates BLOCK on (8-char prefix, length
    * bucket) — never all-pairs — and verify with Levenshtein ≤ 2 over
    * a 200-char ASCII-sanitized window. FOUR deliberate bounds, each
    * disclosed: blocking misses edits inside the first 8 chars (the
    * standard prefix-blocking recall trade); the window caps the
    * O(n·m) DP at 200×200 per candidate pair; the ASCII projection
    * pins cross-engine semantics (Spark's Levenshtein counts CHARS,
    * DuckDB's counts BYTES — equal only on ASCII, measured); and a
    * HOT-BLOCK CAP ([[q452BlockCap]], the q66 `maxGroupSize`
    * discipline) drops blocks whose membership exceeds it — on a real
    * web corpus, boilerplate openings ("Copyright", "Subject:",
    * template headers) concentrate millions of docs into one block
    * and the in-block pair count is quadratic; a capped block is a
    * disclosed recall loss, an uncapped one is a job-killer. Pairs
    * emit by in-group explosion of the capped member lists (q66's
    * shape), so the candidate volume is Σ min(|block|, cap)² by
    * construction. Planted single-edit mutants (append / point
    * substitution) guarantee both accept paths fire; Spark's
    * threshold form prunes the DP early and returns the exact
    * distance for survivors. */
  val q452BlockCap = 64

  def q452EditDistanceDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.documentsSpread(s, dir)
      .select($"doc_id",
        expr("substr(regexp_replace(text, '[^ -~]', ''), 1, 200)")
          .as("w"))
    // mutants: even ids append one char, odd ids substitute char 12
    val mutants = base
      .select(($"doc_id" + 1000000L).as("doc_id"),
        when(pmod($"doc_id", lit(2)) === 0, concat($"w", lit("x")))
          .otherwise(concat(expr("substr(w, 1, 11)"), lit("Z"),
            expr("substr(w, 13)"))).as("w"))
    val corpus = base.unionByName(mutants)
      .where(length($"w") >= 16)
      .withColumn("blk",
        concat(expr("substr(w, 1, 8)"), lit("#"),
          (length($"w").cast("long") / 16L).cast("long")))
    val blocks = corpus
      .groupBy($"blk")
      .agg(collect_list(struct($"doc_id", $"w")).as("members"))
      .where(size($"members") >= 2 && size($"members") <= q452BlockCap)
    blocks
      .select(explode($"members").as("a"), $"members")
      .select($"a.doc_id".as("ida"), $"a.w".as("wa"),
        explode($"members").as("b"))
      .where($"ida" < $"b.doc_id")
      .withColumn("dist", levenshtein($"wa", $"b.w", 2))
      .where($"dist" >= 0)
      .select($"ida", $"b.doc_id".as("idb"),
        $"dist".cast("long").as("dist"))
      .orderBy($"ida", $"idb")
  }

  // `q452BlockCap` is interpolated so changing the Spark-side cap
  // cannot silently diverge from the oracle's
  private val q452Oracle =
    s"""WITH base AS (
      |  SELECT doc_id,
      |    substr(regexp_replace(text, '[^ -~]', '', 'g'), 1, 200) AS w
      |  FROM documents),
      |mut AS (
      |  SELECT doc_id + 1000000 AS doc_id,
      |    CASE WHEN doc_id % 2 = 0 THEN w || 'x'
      |         ELSE substr(w, 1, 11) || 'Z' || substr(w, 13) END AS w
      |  FROM base),
      |corpus AS (
      |  SELECT *, substr(w, 1, 8) || '#' ||
      |      CAST(length(w) // 16 AS VARCHAR) AS blk
      |  FROM (SELECT * FROM base UNION ALL SELECT * FROM mut)
      |  WHERE length(w) >= 16),
      |ok AS (SELECT blk FROM corpus GROUP BY blk
      |  HAVING count(*) BETWEEN 2 AND $q452BlockCap)
      |SELECT a.doc_id AS ida, b.doc_id AS idb,
      |  CAST(levenshtein(a.w, b.w) AS BIGINT) AS dist
      |FROM corpus a JOIN corpus b
      |  ON a.blk = b.blk AND a.doc_id < b.doc_id
      |JOIN ok ON ok.blk = a.blk
      |WHERE levenshtein(a.w, b.w) <= 2
      |ORDER BY ida, idb""".stripMargin

  // ---------------------------------------------------------------- q453
  /** Multi-class classifier eval in exact ppm integers: per-class
    * precision / recall / F1 from the confusion counts, plus macro-F1
    * and Cohen's κ on a TOTAL row — the standard quality-filter /
    * lang-ID model scorecard, bit-identical cross-engine because
    * every ratio is a ppm floor-div (κ's chance agreement p_e folds
    * from the row×column marginals over n², all BIGINT). Planted
    * 3-class predictions with per-class error rates so every
    * confusion cell is exercised. */
  def q453MulticlassEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables.documentsSpread(s, dir).select($"doc_id")
      .withColumn("t", pmod($"doc_id", lit(3)))
      .withColumn("p",
        when(pmod($"doc_id" * 13 + 7L, lit(10)) <
            when($"t" === 0, 1).when($"t" === 1, 2).otherwise(3),
          pmod($"t" + 1, lit(3))).otherwise($"t"))
    val cells = d.groupBy($"t", $"p").agg(count(lit(1)).as("n"))
      .localCheckpoint(true) // class-grid; every readout re-reads it
    val n = cells.agg(sum($"n").as("n_total"))
    val perClass = (0 to 2).map { c =>
      val tp = sum(when($"t" === c && $"p" === c, $"n").otherwise(0L))
      val fp = sum(when($"t" =!= c && $"p" === c, $"n").otherwise(0L))
      val fn = sum(when($"t" === c && $"p" =!= c, $"n").otherwise(0L))
      cells.agg(tp.as("tp"), fp.as("fp"), fn.as("fn"))
        .select(lit(c.toLong).as("clazz"),
          expr("(tp * 1000000) div greatest(tp + fp, 1)").as("prec_ppm"),
          expr("(tp * 1000000) div greatest(tp + fn, 1)").as("rec_ppm"))
        .withColumn("f1_ppm",
          expr("(2 * prec_ppm * rec_ppm) div greatest(prec_ppm + rec_ppm, 1)"))
    }.reduce(_ unionByName _)
    val macroRow = perClass.agg(
      expr("sum(f1_ppm) div 3").as("f1_ppm"))
      .select(lit(-1L).as("clazz"), lit(null).cast("long").as("prec_ppm"),
        lit(null).cast("long").as("rec_ppm"), $"f1_ppm")
    // Cohen's kappa on a second TOTAL row: po = accuracy, pe from the
    // marginals; all ppm floor-div
    val kappaRow = cells
      .select($"t", $"p", $"n").crossJoin(broadcast(n))
      .agg(
        expr("(sum(CASE WHEN t = p THEN n ELSE 0 END) * 1000000) " +
          "div max(n_total)").as("po"),
        max($"n_total").as("nt"))
      .crossJoin(broadcast(
        cells.groupBy($"t").agg(sum($"n").as("rm"))
          .join(cells.groupBy($"p").agg(sum($"n").as("cm")),
            $"t" === $"p")
          .agg(sum($"rm" * $"cm").as("rc"))))
      .select(lit(-2L).as("clazz"),
        lit(null).cast("long").as("prec_ppm"),
        lit(null).cast("long").as("rec_ppm"),
        expr("((po - (rc * 1000000) div (nt * nt)) * 1000000) " +
          "div greatest(1000000 - (rc * 1000000) div (nt * nt), 1)")
          .as("f1_ppm"))
    perClass.unionByName(macroRow).unionByName(kappaRow)
      .orderBy($"clazz")
  }

  private val q453Oracle =
    """WITH d AS (
      |  SELECT doc_id, doc_id % 3 AS t,
      |    CASE WHEN (doc_id * 13 + 7) % 10 <
      |        CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 3 END
      |      THEN (doc_id % 3 + 1) % 3 ELSE doc_id % 3 END AS p
      |  FROM documents),
      |cells AS (SELECT t, p, CAST(count(*) AS BIGINT) AS n
      |  FROM d GROUP BY 1, 2),
      |pc AS (
      |  SELECT c.clazz,
      |    (tp * 1000000) // greatest(tp + fp, 1) AS prec_ppm,
      |    (tp * 1000000) // greatest(tp + fn, 1) AS rec_ppm
      |  FROM (
      |    SELECT clazz,
      |      CAST(sum(CASE WHEN t = clazz AND p = clazz THEN n ELSE 0 END)
      |        AS BIGINT) AS tp,
      |      CAST(sum(CASE WHEN t <> clazz AND p = clazz THEN n ELSE 0 END)
      |        AS BIGINT) AS fp,
      |      CAST(sum(CASE WHEN t = clazz AND p <> clazz THEN n ELSE 0 END)
      |        AS BIGINT) AS fn
      |    FROM cells, (SELECT unnest([0, 1, 2]) AS clazz)
      |    GROUP BY 1) c),
      |pcf AS (
      |  SELECT clazz, prec_ppm, rec_ppm,
      |    (2 * prec_ppm * rec_ppm) // greatest(prec_ppm + rec_ppm, 1)
      |      AS f1_ppm
      |  FROM pc),
      |mac AS (
      |  SELECT CAST(-1 AS BIGINT) AS clazz, CAST(NULL AS BIGINT),
      |    CAST(NULL AS BIGINT), CAST(sum(f1_ppm) // 3 AS BIGINT)
      |  FROM pcf),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM cells),
      |po AS (SELECT (sum(CASE WHEN t = p THEN n ELSE 0 END) * 1000000)
      |    // max(nt) AS po FROM cells, tot),
      |rc AS (
      |  SELECT CAST(sum(rm * cm) AS BIGINT) AS rc FROM
      |    (SELECT t AS k, sum(n) AS rm FROM cells GROUP BY 1) r
      |    JOIN (SELECT p AS k, sum(n) AS cm FROM cells GROUP BY 1) c
      |    ON c.k = r.k),
      |kap AS (
      |  SELECT CAST(-2 AS BIGINT) AS clazz, CAST(NULL AS BIGINT),
      |    CAST(NULL AS BIGINT),
      |    CAST(((po - (rc * 1000000) // (nt * nt)) * 1000000)
      |      // greatest(1000000 - (rc * 1000000) // (nt * nt), 1)
      |      AS BIGINT)
      |  FROM po, rc, tot)
      |SELECT CAST(clazz AS BIGINT) AS clazz,
      |  CAST(prec_ppm AS BIGINT) AS prec_ppm,
      |  CAST(rec_ppm AS BIGINT) AS rec_ppm,
      |  CAST(f1_ppm AS BIGINT) AS f1_ppm
      |FROM (SELECT * FROM pcf UNION ALL SELECT * FROM mac
      |      UNION ALL SELECT * FROM kap)
      |ORDER BY clazz""".stripMargin

  // ---------------------------------------------------------------- q457
  /** Group-fairness audit of a classifier gate in exact ppm integers —
    * the filter-bias screen a curation pipeline runs before shipping a
    * quality gate (Hardt et al. 2016's equalized-odds framing, public):
    * per group (source-derived), selection rate, TPR and FPR; plus
    * TOTAL rows carrying the max pairwise GAPS — demographic-parity
    * gap (max |sel_i − sel_j|) and equalized-odds gap
    * (max over TPR/FPR gaps). Planted group-correlated errors make the
    * gaps non-zero and deterministic. Everything folds from one
    * (group, label, pred) cell grid; all division is ppm floor-div so
    * the audit is bit-identical cross-engine. */
  def q457FairnessAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables.documentsSpread(s, dir).select($"doc_id")
      .withColumn("grp", pmod($"doc_id", lit(4)))
      .withColumn("y", (pmod($"doc_id" * 7 + 3, lit(10)) < 5).cast("int"))
      // planted bias: group g flips the decision at rate ~(g+1)/19 —
      // modulus 19 is coprime to the group period 4, so the flip hash
      // decorrelates from group membership (a mod-20 hash would share
      // factor 4 with it and starve some groups of flips entirely)
      .withColumn("pred",
        when(pmod($"doc_id" * 13 + 7, lit(19)) < $"grp" + 1,
          lit(1) - $"y").otherwise($"y"))
    val cells = d.groupBy($"grp", $"y", $"pred")
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val per = cells.groupBy($"grp").agg(
      sum($"n").as("n_total"),
      sum(when($"pred" === 1, $"n").otherwise(0L)).as("n_sel"),
      sum(when($"y" === 1, $"n").otherwise(0L)).as("n_pos"),
      sum(when($"y" === 1 && $"pred" === 1, $"n").otherwise(0L)).as("tp"),
      sum(when($"y" === 0 && $"pred" === 1, $"n").otherwise(0L)).as("fp"))
      .select($"grp",
        expr("(n_sel * 1000000) div n_total").as("sel_ppm"),
        expr("(tp * 1000000) div greatest(n_pos, 1)").as("tpr_ppm"),
        expr("(fp * 1000000) div greatest(n_total - n_pos, 1)")
          .as("fpr_ppm"))
    val gaps = per.agg(
      (max($"sel_ppm") - min($"sel_ppm")).as("dp_gap"),
      greatest(max($"tpr_ppm") - min($"tpr_ppm"),
        max($"fpr_ppm") - min($"fpr_ppm")).as("eo_gap"))
    per.unionByName(gaps.select(lit(-1L).as("grp"), $"dp_gap".as("sel_ppm"),
        $"eo_gap".as("tpr_ppm"), lit(null).cast("long").as("fpr_ppm")))
      .orderBy($"grp")
  }

  private val q457Oracle =
    """WITH d AS (
      |  SELECT doc_id, doc_id % 4 AS grp,
      |    CASE WHEN (doc_id * 7 + 3) % 10 < 5 THEN 1 ELSE 0 END AS y
      |  FROM documents),
      |p AS (
      |  SELECT *, CASE WHEN (doc_id * 13 + 7) % 19 < grp + 1
      |    THEN 1 - y ELSE y END AS pred FROM d),
      |per AS (
      |  SELECT grp,
      |    (CAST(sum(CASE WHEN pred = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      * 1000000) // count(*) AS sel_ppm,
      |    (CAST(sum(CASE WHEN y = 1 AND pred = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) * 1000000)
      |      // greatest(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END), 1)
      |      AS tpr_ppm,
      |    (CAST(sum(CASE WHEN y = 0 AND pred = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) * 1000000)
      |      // greatest(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END), 1)
      |      AS fpr_ppm
      |  FROM p GROUP BY 1),
      |gaps AS (
      |  SELECT CAST(-1 AS BIGINT) AS grp,
      |    max(sel_ppm) - min(sel_ppm) AS sel_ppm,
      |    greatest(max(tpr_ppm) - min(tpr_ppm),
      |      max(fpr_ppm) - min(fpr_ppm)) AS tpr_ppm,
      |    CAST(NULL AS BIGINT) AS fpr_ppm
      |  FROM per)
      |SELECT CAST(grp AS BIGINT) AS grp, CAST(sel_ppm AS BIGINT)
      |    AS sel_ppm,
      |  CAST(tpr_ppm AS BIGINT) AS tpr_ppm, CAST(fpr_ppm AS BIGINT)
      |    AS fpr_ppm
      |FROM (SELECT * FROM per UNION ALL SELECT * FROM gaps)
      |ORDER BY grp""".stripMargin

  // ---------------------------------------------------------------- q464
  /** [NS] T5-style SPAN CORRUPTION transform (Raffel et al., JMLR
    * 2020): the denoising-objective data prep — mask token spans,
    * replace each with an incrementing sentinel in the INPUTS, emit
    * `sentinel + masked tokens` as the TARGETS. Deterministic span
    * choice (every 7th 3-token group) replaces the paper's RNG so the
    * oracle is exact: rate = 1/7 ≈ 14.3%, mean span 3 — the paper's
    * defaults' shape. Pure scan-side projection at any corpus size:
    * tokens never shuffle beyond the per-doc fold, sentinel ranks are
    * a per-doc window over masked GROUPS (≤ tokens/21 rows), and the
    * emitted strings rebuild with one ordered fold. Both engines
    * produce bit-identical inputs/targets strings (ASCII-sanitized
    * whitespace tokens, 40-token cap). */
  def q464SpanCorruption(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val toks = Tables.documentsSpread(s, dir)
      .select($"doc_id", expr(
        "slice(split(trim(regexp_replace(text, '[^ -~]', ' ')), " +
          "'\\\\s+'), 1, 40)").as("ts"))
      .select($"doc_id", posexplode($"ts").as(Seq("pos", "tok")))
      .where($"tok" =!= "")
      .withColumn("grp", floor($"pos" / 3))
      .withColumn("masked", pmod($"grp", lit(7)) === 0)
    // sentinel id = rank of the masked group within the doc (0-based)
    val spanIds = toks.where($"masked")
      .select($"doc_id", $"grp").distinct()
      .withColumn("k", row_number().over(
        Window.partitionBy($"doc_id").orderBy($"grp")) - 1)
    val tagged = toks.join(spanIds, Seq("doc_id", "grp"), "left")
      .withColumn("istr",
        when(!$"masked", $"tok")
          .when(pmod($"pos", lit(3)) === 0,
            concat(lit("<extra_id_"), $"k", lit(">"))))
      .withColumn("tstr",
        when($"masked",
          when(pmod($"pos", lit(3)) === 0,
            concat(lit("<extra_id_"), $"k", lit("> "), $"tok"))
            .otherwise($"tok")))
    def joined(c: Column): Column = array_join(
      transform(array_sort(collect_list(c)), x => x.getField("s")), " ")
    tagged.groupBy($"doc_id").agg(
      count(lit(1)).as("n_tokens"),
      countDistinct(when($"masked", $"grp")).as("n_spans"),
      sum(when($"masked", 1L).otherwise(0L)).as("n_masked"),
      joined(when($"istr".isNotNull,
        struct($"pos", $"istr".as("s")))).as("inputs"),
      joined(when($"tstr".isNotNull,
        struct($"pos", $"tstr".as("s")))).as("targets"))
      .orderBy($"doc_id")
  }

  private val q464Oracle =
    """WITH toks AS (
      |  SELECT doc_id, tok, pos FROM (
      |    SELECT doc_id, unnest(l) AS tok,
      |      CAST(generate_subscripts(l, 1) - 1 AS BIGINT) AS pos
      |    FROM (
      |      SELECT doc_id, list_slice(regexp_split_to_array(
      |        trim(regexp_replace(text, '[^ -~]', ' ', 'g')), '\s+'),
      |        1, 40) AS l
      |      FROM documents) d)
      |  WHERE tok <> ''),
      |g AS (
      |  SELECT *, pos // 3 AS grp, (pos // 3) % 7 = 0 AS masked
      |  FROM toks),
      |ks AS (
      |  SELECT doc_id, grp,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY grp) - 1 AS k
      |  FROM (SELECT DISTINCT doc_id, grp FROM g WHERE masked)),
      |t AS (SELECT g.*, ks.k FROM g LEFT JOIN ks USING (doc_id, grp))
      |SELECT doc_id,
      |  CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(count(DISTINCT CASE WHEN masked THEN grp END) AS BIGINT)
      |    AS n_spans,
      |  CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_masked,
      |  string_agg(CASE WHEN NOT masked THEN tok
      |    WHEN pos % 3 = 0 THEN '<extra_id_' || k || '>' END,
      |    ' ' ORDER BY pos) AS inputs,
      |  string_agg(CASE WHEN masked THEN
      |      CASE WHEN pos % 3 = 0 THEN '<extra_id_' || k || '> ' || tok
      |           ELSE tok END END,
      |    ' ' ORDER BY pos) AS targets
      |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q465
  /** [NS] Best-of-n REJECTION-SAMPLING yield accounting (the RLHF /
    * RFT data-factory readout — Nakano et al. 2021's best-of-n,
    * Yuan et al. 2023's rejection-tuning): per prompt, n candidate
    * generations score against a threshold; the factory needs, per
    * source, the SOLVE RATE (any candidate accepted), the EXPECTED
    * GENERATION COST (candidates drawn until first accept, n when
    * none — the early-exit sampling discipline), and the kept-token
    * yield. Deterministic planted scores (mixed-radix residue) stand
    * in for the reward model so both engines agree bit-exactly; all
    * ratios are ppm/milli floor-divs. One explode + one two-level
    * fold — scan-side at any corpus size, the n=4 fan-out never
    * shuffles raw text. */
  def q465BestOfNYield(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cand = Tables.documentsSpread(s, dir)
      .select($"doc_id", $"source",
        expr("size(split(trim(text), '\\\\s+'))").cast("long").as("toks"))
      .select($"doc_id", $"source", $"toks",
        explode(sequence(lit(0L), lit(3L))).as("cand"))
      .withColumn("score", pmod($"doc_id" * 37L + $"cand" * 101L, lit(1000)))
      .withColumn("accepted", $"score" >= 700L)
    val perPrompt = cand.groupBy($"doc_id", $"source", $"toks").agg(
      max(when($"accepted", lit(1L)).otherwise(0L)).as("solved"),
      // candidates drawn until the FIRST accept; all 4 when none
      coalesce(min(when($"accepted", $"cand" + 1L)), lit(4L)).as("cost"))
    perPrompt.groupBy($"source").agg(
      count(lit(1)).as("n_prompts"),
      sum($"solved").as("n_solved"),
      expr("(sum(solved) * 1000000) div count(1)").as("yield_ppm"),
      sum($"cost").as("gens_total"),
      expr("(sum(cost) * 1000) div count(1)").as("cost_milli"),
      sum(when($"solved" === 1L, $"toks").otherwise(0L))
        .as("kept_tokens"))
      .orderBy($"source")
  }

  private val q465Oracle =
    """WITH cand AS (
      |  SELECT doc_id, source,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
      |      AS toks, u.cand AS cand
      |  FROM documents, unnest([0, 1, 2, 3]) AS u(cand)),
      |scored AS (
      |  SELECT *, (doc_id * 37 + cand * 101) % 1000 AS score FROM cand),
      |per AS (
      |  SELECT doc_id, source, toks,
      |    max(CASE WHEN score >= 700 THEN 1 ELSE 0 END) AS solved,
      |    coalesce(min(CASE WHEN score >= 700 THEN cand + 1 END), 4)
      |      AS cost
      |  FROM scored GROUP BY 1, 2, 3)
      |SELECT source,
      |  CAST(count(*) AS BIGINT) AS n_prompts,
      |  CAST(sum(solved) AS BIGINT) AS n_solved,
      |  CAST((sum(solved) * 1000000) // count(*) AS BIGINT) AS yield_ppm,
      |  CAST(sum(cost) AS BIGINT) AS gens_total,
      |  CAST((sum(cost) * 1000) // count(*) AS BIGINT) AS cost_milli,
      |  CAST(sum(CASE WHEN solved = 1 THEN toks ELSE 0 END) AS BIGINT)
      |    AS kept_tokens
      |FROM per GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q467
  /** [NS] Train/test SPLIT-LEAKAGE audit — the composite check every
    * eval pipeline needs before trusting a benchmark number: exact
    * duplicates (q64's cluster notion) that STRADDLE the q91 split
    * rule leak training text into the test set (Dodge et al. 2021's
    * C4 contamination finding, at the split boundary instead of the
    * benchmark boundary). A re-crawl image (same text, shifted ids —
    * the standard way duplicates enter a corpus) is planted so the
    * leak branch provably fires; the audit reports, per source, the
    * test-doc leak rate in ppm. Clusters key on md5(text): only
    * 32-char hashes and split labels shuffle, never document text;
    * the cluster→test attribution is one broadcast-sized semi-join at
    * any corpus scale (clusters with a train member ≤ distinct
    * texts). */
  def q467SplitLeakAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (tr, va) = splitPcts
    val base = Tables.documentsSpread(s, dir)
      .select($"doc_id", $"source", $"text")
    val corpus = base.unionByName(
      base.select(($"doc_id" + 2000000L).as("doc_id"), $"source", $"text"))
      .withColumn("bucket",
        conv(substring(md5(concat(lit("split:"),
          $"doc_id".cast("string"))), 1, 4), 16, 10).cast("long") % 100)
      .withColumn("split",
        when($"bucket" < tr, "train")
          .when($"bucket" < tr + va, "val").otherwise("test"))
      .select($"doc_id", $"source", $"split", md5($"text").as("ckey"))
    val trainKeys = corpus.where($"split" === "train")
      .select($"ckey").distinct()
    val tests = corpus.where($"split" === "test")
      .join(trainKeys.withColumn("leaked", lit(1L)), Seq("ckey"), "left")
    tests.groupBy($"source").agg(
      count(lit(1)).as("n_test"),
      sum(coalesce($"leaked", lit(0L))).as("n_leaked"),
      expr("(sum(coalesce(leaked, 0)) * 1000000) div count(1)")
        .as("leak_ppm"))
      .orderBy($"source")
  }

  private val q467Oracle = {
    val (tr, va) = splitPcts
    s"""WITH corpus AS (
       |  SELECT doc_id, source, md5(text) AS ckey FROM documents
       |  UNION ALL
       |  SELECT doc_id + 2000000, source, md5(text) FROM documents),
       |split AS (
       |  SELECT *, CASE
       |    WHEN b < $tr THEN 'train'
       |    WHEN b < ${tr + va} THEN 'val' ELSE 'test' END AS split
       |  FROM (SELECT *,
       |    ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)),
       |      1, 4))::BIGINT % 100 AS b
       |    FROM corpus)),
       |tk AS (SELECT DISTINCT ckey FROM split WHERE split = 'train')
       |SELECT s.source,
       |  CAST(count(*) AS BIGINT) AS n_test,
       |  CAST(sum(CASE WHEN tk.ckey IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_leaked,
       |  CAST((sum(CASE WHEN tk.ckey IS NOT NULL THEN 1 ELSE 0 END)
       |    * 1000000) // count(*) AS BIGINT) AS leak_ppm
       |FROM split s LEFT JOIN tk ON s.ckey = tk.ckey
       |WHERE s.split = 'test'
       |GROUP BY s.source ORDER BY s.source""".stripMargin
  }

  // ---------------------------------------------------------------- q471
  /** [NS] VLM INTERLEAVED image-text sequence packing (the
    * Flamingo/MMC4/OBELICS data shape): multimodal documents pack
    * into fixed context windows under a MODALITY-AWARE cost — each
    * image slot costs a fixed [[vlmImageTokens]] visual-token budget
    * on top of the text tokens — so the packer must bin by COST, not
    * length. Same shelf-packing device as q83 (per-bucket cumulative
    * cost, window div budget — one window over pre-bucketed rows,
    * scan-shaped at any corpus size; a doc wider than the budget
    * spans windows, seq_first < seq_last, the disclosed shelf trade).
    * Image counts are planted deterministically (doc_id mod 4 — the
    * multimodal fixture convention of MultimodalOps) so both engines
    * replay the identical interleave. */
  val vlmImageTokens = 64L
  val vlmPackBudget = 512L

  def q471VlmInterleavedPack(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val bucket = conv(substring(md5(concat(lit("vpack:"),
      $"doc_id".cast("string"))), 1, 4), 16, 10).cast("long") % packBuckets
    val w = Window.partitionBy($"bucket").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, dir)
      .select($"doc_id", bucket.as("bucket"),
        size(toks($"text")).cast("long").as("text_tokens"),
        pmod($"doc_id", lit(4)).as("n_images"))
      .withColumn("cost",
        $"text_tokens" + lit(vlmImageTokens) * $"n_images")
      .withColumn("start_tok", coalesce(sum($"cost").over(w), lit(0L)))
      .select($"doc_id", $"bucket", $"text_tokens", $"n_images", $"cost",
        $"start_tok",
        expr(s"start_tok DIV $vlmPackBudget").as("seq_first"),
        expr(s"(start_tok + cost - 1) DIV $vlmPackBudget").as("seq_last"))
      .orderBy($"doc_id")
  }

  private val q471Oracle =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5('vpack:' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
       |      % $packBuckets AS bucket,
       |    len(string_split(lower(text), ' ')) AS text_tokens,
       |    doc_id % 4 AS n_images
       |  FROM documents),
       |c AS (
       |  SELECT *, text_tokens + $vlmImageTokens * n_images AS cost FROM d),
       |w AS (
       |  SELECT *, CAST(COALESCE(SUM(cost) OVER (PARTITION BY bucket
       |    ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS BIGINT) AS start_tok
       |  FROM c)
       |SELECT doc_id, bucket, CAST(text_tokens AS BIGINT) AS text_tokens,
       |  CAST(n_images AS BIGINT) AS n_images, CAST(cost AS BIGINT) AS cost,
       |  start_tok,
       |  CAST(start_tok // $vlmPackBudget AS BIGINT) AS seq_first,
       |  CAST((start_tok + cost - 1) // $vlmPackBudget AS BIGINT) AS seq_last
       |FROM w ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q472
  /** [NS] RECIPROCAL-RANK FUSION of two retrieval runs (Cormack et
    * al., SIGIR 2009 — the hybrid-search primitive every RAG data
    * pipeline runs to merge BM25 and dense rankings): per query,
    * RRF(d) = Σ_runs 1/(k + rank_run(d)) with k = 60, top-3 fused
    * docs emitted. Exact-integer discipline: the reciprocal scales to
    * 10⁹ floor-div (ties broken by doc id), so both engines emit
    * identical fused scores. Two planted deterministic score
    * functions stand in for the retrievers (mixed-radix residues, the
    * house convention); candidates bound per query by a residue class
    * — the fusion is rank-grain, never corpus × corpus. */
  val rrfK = 60L

  def q472RrfFusion(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val docs = Tables.documents(s, dir).select($"doc_id")
    val queries = docs.where($"doc_id" < 20L).select($"doc_id".as("q"))
    val cand = queries.join(docs.select($"doc_id".as("d")),
      pmod($"d", lit(20)) === $"q")
      .select($"q", $"d",
        pmod($"d" * 31L + $"q" * 7L, lit(1000)).as("sa"),
        pmod($"d" * 17L + $"q" * 13L, lit(1000)).as("sb"))
    def rank(score: Column): Column = row_number().over(
      Window.partitionBy($"q").orderBy(score.desc, $"d".asc))
    val fused = cand
      .withColumn("ra", rank($"sa").cast("long"))
      .withColumn("rb", rank($"sb").cast("long"))
      .withColumn("rrf",
        expr(s"(1000000000 div ($rrfK + ra)) + " +
          s"(1000000000 div ($rrfK + rb))"))
    fused.withColumn("fr", row_number().over(
        Window.partitionBy($"q").orderBy($"rrf".desc, $"d".asc)))
      .where($"fr" <= 3)
      .select($"q", $"fr".cast("long").as("fused_rank"), $"d", $"rrf")
      .orderBy($"q", $"fused_rank")
  }

  private val q472Oracle =
    s"""WITH docs AS (SELECT doc_id FROM documents),
       |cand AS (
       |  SELECT q.doc_id AS q, d.doc_id AS d,
       |    (d.doc_id * 31 + q.doc_id * 7) % 1000 AS sa,
       |    (d.doc_id * 17 + q.doc_id * 13) % 1000 AS sb
       |  FROM docs q JOIN docs d ON d.doc_id % 20 = q.doc_id
       |  WHERE q.doc_id < 20),
       |r AS (
       |  SELECT *,
       |    row_number() OVER (PARTITION BY q ORDER BY sa DESC, d ASC) AS ra,
       |    row_number() OVER (PARTITION BY q ORDER BY sb DESC, d ASC) AS rb
       |  FROM cand),
       |f AS (
       |  SELECT q, d,
       |    (1000000000 // ($rrfK + ra)) + (1000000000 // ($rrfK + rb))
       |      AS rrf
       |  FROM r),
       |t AS (
       |  SELECT *, row_number() OVER (PARTITION BY q
       |    ORDER BY rrf DESC, d ASC) AS fr
       |  FROM f)
       |SELECT q, CAST(fr AS BIGINT) AS fused_rank, d,
       |  CAST(rrf AS BIGINT) AS rrf
       |FROM t WHERE fr <= 3 ORDER BY q, fused_rank""".stripMargin

  // ---------------------------------------------------------------- q473
  /** [NS] MEMORIZATION probe over model generations (Carlini et al.
    * 2021/2023's extraction audit, at the data-pipeline grain): what
    * fraction of GENERATED sequences reproduce a verbatim 8-gram run
    * of the training corpus? Planted generations make both branches
    * deterministic — for every ≥16-token doc, one generation copies
    * tokens 5–12 verbatim (memorized by construction) and one emits
    * them REVERSED (novel unless the corpus happens to contain the
    * reversal — the audit answers exactly that). The training 8-gram
    * index is ONE distinct over exploded grams (md5 keys — only
    * 32-char hashes shuffle, q53's decontamination discipline); the
    * audit is a broadcast-shaped semi-join of generations against it.
    * Per source: generations, memorized count, rate in ppm. */
  def q473MemorizationProbe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documentsSpread(s, dir)
      .select($"doc_id", $"source", $"text")
    val train8 = docs
      .select(explode(DedupOps.shinglesN($"text", 8)).as("g"))
      .select(md5($"g").as("gh")).distinct()
    val tk = split(TextExprs.lower($"text"), " ")
    val eligible = docs.where(size(tk) >= 16)
      .select($"doc_id", $"source", slice(tk, 5, 8).as("w"))
    val gens = eligible
      .select($"doc_id", $"source", lit("mem").as("kind"),
        concat_ws(" ", $"w").as("gen"))
      .unionByName(eligible
        .select($"doc_id", $"source", lit("nov").as("kind"),
          concat_ws(" ", reverse($"w")).as("gen")))
    gens.join(train8.withColumn("hit", lit(1L)),
        md5($"gen") === $"gh", "left")
      .groupBy($"source").agg(
        count(lit(1)).as("n_gens"),
        sum(coalesce($"hit", lit(0L))).as("n_memorized"),
        expr("(sum(coalesce(hit, 0)) * 1000000) div count(1)")
          .as("mem_ppm"))
      .orderBy($"source")
  }

  private val q473Oracle =
    """WITH d AS (
      |  SELECT doc_id, source, string_split(lower(text), ' ') AS toks
      |  FROM documents),
      |t8 AS (
      |  SELECT DISTINCT md5(g) AS gh FROM (
      |    SELECT unnest(list_distinct(list_transform(
      |      range(1, len(toks) - 6),
      |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
      |        toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' ||
      |        toks[i+6] || ' ' || toks[i+7]))) AS g
      |    FROM d WHERE len(toks) >= 8)),
      |gens AS (
      |  SELECT doc_id, source,
      |    array_to_string(toks[5:12], ' ') AS gen
      |  FROM d WHERE len(toks) >= 16
      |  UNION ALL
      |  SELECT doc_id, source,
      |    array_to_string(list_reverse(toks[5:12]), ' ')
      |  FROM d WHERE len(toks) >= 16)
      |SELECT source,
      |  CAST(count(*) AS BIGINT) AS n_gens,
      |  CAST(sum(CASE WHEN t8.gh IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_memorized,
      |  CAST((sum(CASE WHEN t8.gh IS NOT NULL THEN 1 ELSE 0 END)
      |    * 1000000) // count(*) AS BIGINT) AS mem_ppm
      |FROM gens LEFT JOIN t8 ON md5(gens.gen) = t8.gh
      |GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q474
  /** [NS] LICENSE-COMPLIANCE audit (The Stack's corpus-construction
    * rule — Kocetkov et al. 2022: keep permissive, drop copyleft,
    * quarantine unknown): SPDX headers are planted in-query (q57's
    * device — four license ids rotate over doc_id mod 7, the rest
    * stay headerless) and the DETECTOR re-extracts them with the
    * anchored SPDX regex, so extraction and classification are both
    * exercised, not assumed. Per license: docs, distinct sources,
    * corpus share in ppm, and the keep/drop/quarantine verdict the
    * downstream filter applies. Pure scan-side projection + one
    * license-grain fold. */
  def q474LicenseAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lics = array(lit("mit"), lit("apache-2.0"), lit("gpl-3.0"),
      lit("bsd-3-clause"))
    val docs = Tables.documentsSpread(s, dir)
      .select($"doc_id", $"source",
        when(pmod($"doc_id", lit(7)) < 4,
          concat(lit("spdx-license-identifier: "),
            element_at(lics, pmod($"doc_id", lit(7)).cast("int") + 1),
            lit("\n"), $"text"))
          .otherwise($"text").as("t2"))
      .withColumn("lic0", regexp_extract($"t2",
        "^spdx-license-identifier: ([a-z0-9.\\-]+)", 1))
      .withColumn("license",
        when($"lic0" === "", "none").otherwise($"lic0"))
      .withColumn("verdict",
        when($"license".isin("mit", "apache-2.0", "bsd-3-clause"), "keep")
          .when($"license" === "gpl-3.0", "drop")
          .otherwise("quarantine"))
    val total = docs.count()
    docs.groupBy($"license", $"verdict").agg(
      count(lit(1)).as("n_docs"),
      countDistinct($"source").as("n_sources"),
      expr(s"(count(1) * 1000000) div $total").as("share_ppm"))
      .orderBy($"license")
  }

  private val q474Oracle =
    """WITH lic AS (
      |  SELECT doc_id, source,
      |    CASE WHEN doc_id % 7 < 4 THEN
      |      'spdx-license-identifier: ' ||
      |      (['mit', 'apache-2.0', 'gpl-3.0', 'bsd-3-clause'])
      |        [CAST(doc_id % 7 AS INT) + 1] || chr(10) || text
      |    ELSE text END AS t2
      |  FROM documents),
      |x AS (
      |  SELECT doc_id, source,
      |    CASE WHEN regexp_extract(t2,
      |        '^spdx-license-identifier: ([a-z0-9.\-]+)', 1) = ''
      |      THEN 'none'
      |      ELSE regexp_extract(t2,
      |        '^spdx-license-identifier: ([a-z0-9.\-]+)', 1) END AS license
      |  FROM lic),
      |v AS (
      |  SELECT *, CASE
      |    WHEN license IN ('mit', 'apache-2.0', 'bsd-3-clause') THEN 'keep'
      |    WHEN license = 'gpl-3.0' THEN 'drop'
      |    ELSE 'quarantine' END AS verdict
      |  FROM x),
      |t AS (SELECT count(*) AS n FROM v)
      |SELECT license, verdict,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
      |  CAST((count(*) * 1000000) // t.n AS BIGINT) AS share_ppm
      |FROM v, t GROUP BY license, verdict, t.n
      |ORDER BY license""".stripMargin

  // ---------------------------------------------------------------- q478
  /** [NS] PREFIX-CACHE sharing analysis (the vLLM/SGLang prefix-
    * caching payoff estimate, run over the prompt corpus before
    * serving): documents sharing a 16-token prefix re-use each
    * other's KV cache, so per source the report folds shared-prefix
    * groups, the docs that would hit a warm cache (group size − 1
    * per group), and the cacheable-token savings (hits × 16) as a
    * share of the corpus prefix tokens in ppm. Grouping keys on the
    * md5 of the joined prefix — 32-char hashes shuffle, never text;
    * one groupBy + one source-grain fold. Boilerplate-heavy corpora
    * (chat templates, system prompts) are exactly where this report
    * decides whether prefix caching pays. */
  val prefixCacheToks = 16

  def q478PrefixCacheSharing(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tk = split(TextExprs.lower($"text"), " ")
    val docs = Tables.documentsSpread(s, dir)
      .select($"doc_id", $"source", tk.as("toks"))
      .where(size($"toks") >= prefixCacheToks)
      .select($"doc_id", $"source",
        md5(concat_ws(" ", slice($"toks", 1, prefixCacheToks)))
          .as("pfx"))
    val groups = docs.groupBy($"source", $"pfx")
      .agg(count(lit(1)).as("n"))
    groups.groupBy($"source").agg(
      sum($"n").as("n_docs"),
      coalesce(sum(when($"n" >= 2, lit(1L))), lit(0L))
        .as("shared_groups"),
      coalesce(sum(when($"n" >= 2, $"n" - 1L)), lit(0L))
        .as("warm_hits"))
      .select($"source", $"n_docs", $"shared_groups", $"warm_hits",
        expr(s"(warm_hits * $prefixCacheToks * 1000000) div " +
          s"greatest(n_docs * $prefixCacheToks, 1)").as("savings_ppm"))
      .orderBy($"source")
  }

  private val q478Oracle =
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    string_split(lower(text), ' ') AS toks
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, source,
       |    md5(array_to_string(toks[1:$prefixCacheToks], ' ')) AS pfx
       |  FROM d WHERE len(toks) >= $prefixCacheToks),
       |g AS (SELECT source, pfx, count(*) n FROM p GROUP BY 1, 2)
       |SELECT source,
       |  CAST(sum(n) AS BIGINT) AS n_docs,
       |  CAST(coalesce(sum(CASE WHEN n >= 2 THEN 1 END), 0) AS BIGINT)
       |    AS shared_groups,
       |  CAST(coalesce(sum(CASE WHEN n >= 2 THEN n - 1 END), 0) AS BIGINT)
       |    AS warm_hits,
       |  CAST((coalesce(sum(CASE WHEN n >= 2 THEN n - 1 END), 0)
       |    * $prefixCacheToks * 1000000) //
       |    greatest(sum(n) * $prefixCacheToks, 1) AS BIGINT)
       |    AS savings_ppm
       |FROM g GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q479
  /** [NS] Context-window UTILIZATION report — q471's packed layout
    * audited per bucket: windows consumed (the last window index + 1
    * under the shelf discipline), fill rate in ppm of the window
    * budget, and cross-window straddlers (docs whose cost spans a
    * boundary — the packing loss a trainer pays in attention-mask
    * resets). The numbers a packing config review actually reads;
    * same one-window-per-bucket cost as q471 itself. */
  def q479PackUtilization(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    q471VlmInterleavedPack(s, dir)
      .groupBy($"bucket").agg(
        count(lit(1)).as("n_docs"),
        sum($"cost").as("packed_cost"),
        (max($"seq_last") + 1L).as("windows"),
        coalesce(sum(when($"seq_first" =!= $"seq_last", lit(1L))),
          lit(0L)).as("straddlers"))
      .select($"bucket", $"n_docs", $"packed_cost", $"windows",
        $"straddlers",
        expr(s"(packed_cost * 1000000) div (windows * $vlmPackBudget)")
          .as("fill_ppm"))
      .orderBy($"bucket")
  }

  private val q479Oracle =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5('vpack:' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
       |      % $packBuckets AS bucket,
       |    len(string_split(lower(text), ' ')) AS text_tokens,
       |    doc_id % 4 AS n_images
       |  FROM documents),
       |c AS (
       |  SELECT *, text_tokens + $vlmImageTokens * n_images AS cost FROM d),
       |w AS (
       |  SELECT *, CAST(COALESCE(SUM(cost) OVER (PARTITION BY bucket
       |    ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS BIGINT) AS start_tok
       |  FROM c),
       |x AS (
       |  SELECT bucket, cost,
       |    start_tok // $vlmPackBudget AS seq_first,
       |    (start_tok + cost - 1) // $vlmPackBudget AS seq_last
       |  FROM w)
       |SELECT bucket,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(cost) AS BIGINT) AS packed_cost,
       |  CAST(max(seq_last) + 1 AS BIGINT) AS windows,
       |  CAST(coalesce(sum(CASE WHEN seq_first <> seq_last THEN 1 END), 0)
       |    AS BIGINT) AS straddlers,
       |  CAST((sum(cost) * 1000000) // ((max(seq_last) + 1) * $vlmPackBudget)
       |    AS BIGINT) AS fill_ppm
       |FROM x GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------- q480
  /** [NS] The training-data pipeline CAPSTONE — the four stages every
    * corpus walks, composed in ONE query with exact accounting at
    * each gate: (1) exact dedup over a planted re-crawl (md5 keeper =
    * min doc_id — the q64 notion; the duplicates provably exist),
    * (2) a deterministic quality gate (≥ 8 tokens), (3) the q91
    * hash-split into train/val/test, (4) per-split doc and token
    * accounting, with `__dedup_dropped` and `__quality_dropped` audit
    * rows so the funnel CONSERVES: every input doc lands in exactly
    * one output row. The conservation property is the point — a
    * pipeline that cannot account for every document cannot be
    * audited at 100 TB. Each stage is the scan-shaped primitive its
    * standalone operator uses; text never shuffles (dedup keys on
    * md5, splits on id hashes). */
  def q480PipelineCapstone(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val base = Tables.documentsSpread(s, dir)
      .select($"doc_id", $"text")
    val corpus = base.unionByName(
      base.select(($"doc_id" + 3000000L).as("doc_id"), $"text"))
      .withColumn("n_toks", size(split(TextExprs.lower($"text"), " ")).cast("long"))
      .withColumn("fp", md5($"text"))
    // stage 1: exact dedup — keeper = min doc_id per fingerprint
    val keeper = corpus.withColumn("keep_id",
      min($"doc_id").over(Window.partitionBy($"fp")))
    val stage = keeper
      .withColumn("gate",
        when($"doc_id" =!= $"keep_id", "__dedup_dropped")
          .when($"n_toks" < 8L, "__quality_dropped")
          .otherwise(
            // stage 3: the q91 split rule over survivors
            when(conv(substring(md5(concat(lit("split:"),
              $"doc_id".cast("string"))), 1, 4), 16, 10).cast("long")
              % 100 < 80, "train")
              .when(conv(substring(md5(concat(lit("split:"),
                $"doc_id".cast("string"))), 1, 4), 16, 10).cast("long")
                % 100 < 90, "val")
              .otherwise("test")))
    stage.groupBy($"gate").agg(
      count(lit(1)).as("n_docs"),
      sum($"n_toks").as("n_tokens"))
      .orderBy($"gate")
  }

  private val q480Oracle =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 3000000, text FROM documents),
      |c AS (
      |  SELECT doc_id, md5(text) AS fp,
      |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_toks
      |  FROM corpus),
      |k AS (
      |  SELECT *, min(doc_id) OVER (PARTITION BY fp) AS keep_id FROM c),
      |g AS (
      |  SELECT n_toks, CASE
      |    WHEN doc_id <> keep_id THEN '__dedup_dropped'
      |    WHEN n_toks < 8 THEN '__quality_dropped'
      |    WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)),
      |      1, 4))::BIGINT % 100 < 80 THEN 'train'
      |    WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)),
      |      1, 4))::BIGINT % 100 < 90 THEN 'val'
      |    ELSE 'test' END AS gate
      |  FROM k)
      |SELECT gate, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_toks) AS BIGINT) AS n_tokens
      |FROM g GROUP BY gate ORDER BY gate""".stripMargin


  // ---------------------------------------------------------------- q483
  /** [NS] NAIVE-BAYES quality classifier, train + apply — the
    * CCNet/GPT-3 discriminative quality-filter lineage (Wenzek et
    * al. 2020 trained curated-vs-crawl; Brown et al. 2020 kept
    * documents a curated-vs-random classifier scored curated-like):
    * per-token log-likelihood ratios learn on a labeled TRAIN split
    * and gate the HELD-OUT split, in the suite's exact-integer
    * micro-nat discipline (q125's floored-ln device) so every
    * aggregate is order-independent and hash-oracle-able.
    *
    * The curated-vs-random strata are PLANTED deterministically (the
    * corpus's own languages share one token pool, so a label must be
    * constructed): "curated" is every document as-is; "random" is a
    * noise twin per document in which each odd-salted token position
    * (md5 parity on (doc_id, pos) — reproducible in both engines)
    * mangles to an md5-fragment garbage token. Half of each noise
    * doc's mass is out-of-distribution by construction — separable,
    * but not trivially disjoint.
    *
    * Train (even source doc_ids, q91's split convention): ONE token
    * pass folds per-token class counts, class totals and vocab size
    * ride one 3-cell broadcast row, and the add-one-smoothed LLR
    * floors to micro-nats:
    * `floor((ln((c⁺+1)/(T⁺+V)) − ln((c⁻+1)/(T⁻+V)))·10⁶)`.
    * Apply (odd doc_ids): per-doc LLR sum over in-vocabulary tokens
    * (OOV contributes nothing — unseen in both classes), keep iff
    * the sum is positive (the posterior-ratio sign; no division, so
    * the negative-operand div/floor-div trap never arises). The
    * model is vocabulary-sized and BROADCASTS — at 100 TB the corpus
    * scans once for counts and once for scoring, and nothing
    * corpus-sized ever shuffles. Output: held-out keep rates per
    * (source, class) — the confusion table a curation pipeline acts
    * on (curated keep_ppm high, random low; the spec pins AUC ≥ 0.95
    * via q196's Mann–Whitney machinery). */
  def q483NbQualityClassifier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    q483Gate(s, dir)
      .groupBy($"source", $"curated")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"sum_llr" > 0L, 1L).otherwise(0L)).as("n_keep"))
      .select($"source", $"curated", $"n_docs", $"n_keep",
        expr("(n_keep * 1000000) div n_docs").as("keep_ppm"))
      .orderBy($"source", $"curated")
  }

  /** Held-out (doc, class) LLR sums — shared by the report and the
    * spec's AUC pin so the two can never diverge. */
  private[ops] def q483Gate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tk = Tables.documentsSpread(s, dir)
      .select($"doc_id", $"source",
        posexplode(toks($"text")).as(Seq("pos0", "tok")))
      .select($"doc_id", $"source", ($"pos0" + 1).as("pos"), $"tok")
    // the planted noise twin: odd md5 parity on (doc_id, pos) mangles
    // the token to a 6-hex garbage fragment
    val mangle = when(
      conv(substring(md5(concat($"doc_id".cast("string"), lit(":"),
        $"pos".cast("string"))), 1, 4), 16, 10).cast("long") % 2 === 0,
      $"tok").otherwise(substring(md5($"tok"), 1, 6))
    val all = tk.select($"doc_id", $"source", lit(1L).as("curated"), $"tok")
      .unionByName(tk.select(($"doc_id" + 1000000L).as("doc_id"),
        $"source", lit(0L).as("curated"), mangle.as("tok")))
    val counts = all.where(pmod($"doc_id" % 1000000L, lit(2)) === 0)
      .groupBy($"tok")
      .agg(sum($"curated").as("cpos"),
        sum(lit(1L) - $"curated").as("cneg"))
    val totals = counts.agg(sum($"cpos").cast("long").as("tpos"),
      sum($"cneg").cast("long").as("tneg"), count(lit(1)).as("v"))
    val llr = counts.crossJoin(broadcast(totals))
      .select($"tok", expr(
        "CAST(floor((ln((CAST(cpos AS DOUBLE) + 1.0) / " +
          "(CAST(tpos AS DOUBLE) + CAST(v AS DOUBLE))) - " +
          "ln((CAST(cneg AS DOUBLE) + 1.0) / " +
          "(CAST(tneg AS DOUBLE) + CAST(v AS DOUBLE)))) * 1000000.0) " +
          "AS BIGINT)").as("llr_micro"))
    all.where(pmod($"doc_id" % 1000000L, lit(2)) === 1)
      .join(broadcast(llr), Seq("tok"))
      .groupBy($"doc_id", $"source", $"curated")
      .agg(sum($"llr_micro").as("sum_llr"))
  }

  private val q483Oracle =
    """WITH tk AS (
      |  SELECT doc_id, source,
      |    unnest(string_split(lower(text), ' ')) AS tok,
      |    generate_subscripts(string_split(lower(text), ' '), 1) AS pos
      |  FROM documents),
      |allr AS (
      |  SELECT doc_id, source, CAST(1 AS BIGINT) AS curated, tok FROM tk
      |  UNION ALL
      |  SELECT doc_id + 1000000, source, 0,
      |    CASE WHEN ('0x' || substr(md5(doc_id || ':' || pos), 1, 4))
      |        ::BIGINT % 2 = 0
      |      THEN tok ELSE substr(md5(tok), 1, 6) END
      |  FROM tk),
      |counts AS (
      |  SELECT tok, CAST(sum(curated) AS BIGINT) AS cpos,
      |    CAST(sum(1 - curated) AS BIGINT) AS cneg
      |  FROM allr WHERE (doc_id % 1000000) % 2 = 0 GROUP BY tok),
      |tot AS (
      |  SELECT CAST(sum(cpos) AS BIGINT) AS tpos,
      |    CAST(sum(cneg) AS BIGINT) AS tneg,
      |    CAST(count(*) AS BIGINT) AS v
      |  FROM counts),
      |llr AS (
      |  SELECT tok,
      |    CAST(floor((ln((CAST(cpos AS DOUBLE) + 1.0) /
      |        (CAST(tpos AS DOUBLE) + CAST(v AS DOUBLE))) -
      |      ln((CAST(cneg AS DOUBLE) + 1.0) /
      |        (CAST(tneg AS DOUBLE) + CAST(v AS DOUBLE)))) * 1000000.0)
      |      AS BIGINT) AS llr_micro
      |  FROM counts, tot),
      |sc AS (
      |  SELECT a.doc_id, a.source, a.curated,
      |    CAST(sum(l.llr_micro) AS BIGINT) AS sum_llr
      |  FROM allr a JOIN llr l USING (tok)
      |  WHERE (a.doc_id % 1000000) % 2 = 1
      |  GROUP BY a.doc_id, a.source, a.curated)
      |SELECT source, curated, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN sum_llr > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_keep,
      |  CAST((sum(CASE WHEN sum_llr > 0 THEN 1 ELSE 0 END) * 1000000)
      |    // count(*) AS BIGINT) AS keep_ppm
      |FROM sc GROUP BY source, curated ORDER BY source, curated""".stripMargin

  // ---------------------------------------------------------------- q484
  /** [NS] TOKENIZER FERTILITY AUDIT — per-language tokens-per-1000-
    * chars and bytes-per-token under the q140-learned merges, applied
    * through q385's serve path: the number that decides whether a
    * vocabulary STARVES a language (an under-served script gets few
    * merges, so its text costs more tokens per character — the
    * context-window and compute tax multilingual models pay where
    * the tokenizer was trained on someone else's distribution).
    *
    * The under-served language is PLANTED causally, not labeled: the
    * fixture's languages share one token pool, so `zh` text derives
    * as the per-token REVERSAL of its words (deterministic in both
    * engines) — a minority "script" the train split barely teaches
    * the learner, exactly how a real under-represented script starves.
    * Merges learn on the q385 train bucket of the transformed corpus
    * and apply to the serve bucket; fertility folds per language in
    * exact integer milli-units (all operands positive). The report
    * MUST surface the plant: zh's tokens-per-kchar strictly tops
    * every other language (spec-pinned). Bytes count via
    * octet_length — equal to chars on this ASCII fixture, the
    * distinction that matters on real multibyte scripts. */
  def q484TokenizerFertility(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documentsSpread(s, dir)
    // the planted minority script: zh words reverse, everything else
    // lowercases as usual (toks() lowercases — transform first)
    val text2 = when($"lang" === "zh",
      array_join(transform(split(TextExprs.lower($"text"), " "),
        w => reverse(w)), " "))
      .otherwise(TextExprs.lower($"text"))
    val corpus = docs.select($"doc_id", $"lang", text2.as("text"))
    val bucket = conv(substring(md5(concat(lit("bpe:"),
      $"doc_id".cast("string"))), 1, 4), 16, 10).cast("long") % 100
    val perDoc = bpeApplyOf(corpus.where(bucket < 80),
      corpus.where(bucket >= 80), bpeMerges)
    val bytes = corpus.where(bucket >= 80)
      .select($"doc_id", explode(split($"text", " ")).as("w"))
      .where(length($"w") > 0)
      .groupBy($"doc_id").agg(sum(octet_length($"w")).as("n_bytes"))
    perDoc.join(bytes, Seq("doc_id"))
      .join(docs.select($"doc_id", $"lang"), Seq("doc_id"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("n_tokens"), sum($"n_chars").as("n_chars"),
        sum($"n_bytes").as("n_bytes"))
      .select($"lang", $"n_docs", $"n_tokens", $"n_chars", $"n_bytes",
        expr("(1000 * n_tokens) div n_chars").as("toks_per_kchar"),
        expr("(1000 * n_bytes) div n_tokens").as("bytes_per_ktok"))
      .orderBy($"lang")
  }

  private val q484Oracle = {
    val rounds = (0 until bpeMerges).map(bpeRoundCte).mkString(",\n")
    val applied = (0 until bpeMerges)
      .foldLeft("seq") { (e, i) => s"replace($e, m$i.pat, m$i.rep)" }
    val fromMs = (0 until bpeMerges).map(i => s"m$i").mkString(", ")
    s"""WITH tagged AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN lang = 'zh' THEN list_aggregate(list_transform(
       |        string_split(lower(text), ' '), w -> reverse(w)),
       |        'string_agg', ' ')
       |      ELSE lower(text) END AS text,
       |    ('0x' || substr(md5('bpe:' || CAST(doc_id AS VARCHAR)), 1, 4))
       |      ::BIGINT % 100 AS bucket
       |  FROM documents),
       |wf0 AS (
       |  SELECT CAST(count(*) AS BIGINT) AS freq,
       |    list_aggregate(list_transform(split(w, ''), c -> $bpeWrapSql),
       |      'string_agg', '') AS seq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w
       |        FROM tagged WHERE bucket < 80)
       |  WHERE len(w) > 0 GROUP BY w),
       |$rounds,
       |sw AS (
       |  SELECT doc_id, lang, w FROM (
       |    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
       |    FROM tagged WHERE bucket >= 80)
       |  WHERE len(w) > 0),
       |seqs AS (
       |  SELECT doc_id, lang, CAST(length(w) AS BIGINT) AS wl,
       |    CAST(strlen(w) AS BIGINT) AS wb,
       |    list_aggregate(list_transform(split(w, ''), c -> $bpeWrapSql),
       |      'string_agg', '') AS seq
       |  FROM sw),
       |ap AS (
       |  SELECT doc_id, lang, wl, wb, $applied AS fseq
       |  FROM seqs, $fromMs),
       |cnt AS (
       |  SELECT doc_id, lang, CAST(sum(wl) AS BIGINT) AS n_chars,
       |    CAST(sum(wb) AS BIGINT) AS n_bytes,
       |    CAST(sum(len(string_split(ltrim(rtrim(fseq, chr(2)), chr(1)),
       |      chr(2) || chr(1)))) AS BIGINT) AS n_tokens
       |  FROM ap GROUP BY 1, 2)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |  CAST(sum(n_bytes) AS BIGINT) AS n_bytes,
       |  CAST((1000 * sum(n_tokens)) // sum(n_chars) AS BIGINT)
       |    AS toks_per_kchar,
       |  CAST((1000 * sum(n_bytes)) // sum(n_tokens) AS BIGINT)
       |    AS bytes_per_ktok
       |FROM cnt GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ---------------------------------------------------------------- q485
  /** [NS] DOREMI-style domain-mixture reweighting (Xie et al. 2023):
    * one multiplicative-weights round over per-source EXCESS LM loss
    * — the LOSS-DRIVEN mixer the declared-target rebalancers (q112
    * single-margin, q277 IPF) cannot express: domains the current
    * model finds HARD (above-average loss) upweight, easy domains
    * downweight, which is how DoReMi picked the Pile weights that
    * beat its default mix.
    *
    * All arithmetic rides the suite's exact-integer discipline:
    * per-source average trigram NLL folds in micro-nats (q125's
    * floored-ln device — order-independent, hash-comparable), the
    * global reference is one integer div over the SAME folded cells,
    * excess = src − global stays a BIGINT (possibly negative; it is
    * never divided, so the div/floor-div sign trap never arises),
    * and the softmax lands as per-source floor(exp(excess)·10⁶) on
    * the SOURCE GRID (≤ dozens of rows — the only doubles touch
    * grid-sized relations, never corpus rows) followed by an integer
    * ppm normalization. Scale shape: one corpus trigram pass, one
    * broadcast total, one source-grain fold; everything after is
    * grid-sized. Spec pins Σweights ≈ 10⁶ and the monotone
    * excess→weight order. */
  def q485DoremiWeights(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tri = Tables.documentsSpread(s, dir)
      .select($"source", explode(DedupOps.spansN($"text", 3)).as("g"))
    val lm = tri.groupBy($"g").agg(count(lit(1)).as("c"))
    val total = lm.agg(sum($"c").cast("long").as("t"))
    // r15 probes, both left as-is deliberately: (a) pre-folding to
    // (source, g, k) multiplicities + pin measured neutral-to-worse
    // (AQE exchange reuse already shares the explode's by-g shuffle
    // between lm and this join); (b) pinning perSrc measured neutral
    // (everything downstream is grid-sized). See OPTIMIZATION_r15.md.
    val perSrc = tri.join(lm, Seq("g")).crossJoin(broadcast(total))
      .select($"source",
        expr("CAST(floor(ln(CAST(t AS DOUBLE) / c) * 1000000.0) AS BIGINT)")
          .as("nll_micro"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_trigrams"), sum($"nll_micro").as("sum_nll"))
    val global = perSrc.agg(sum($"sum_nll").cast("long").as("tot_nll"),
      sum($"n_trigrams").cast("long").as("tot_tri"))
    val excess = perSrc.crossJoin(broadcast(global))
      .select($"source", $"n_trigrams",
        expr("sum_nll div n_trigrams").as("avg_nll_micro"),
        expr("sum_nll div n_trigrams - tot_nll div tot_tri")
          .as("excess_micro"))
      .withColumn("e", expr("CAST(floor(exp(CAST(excess_micro AS DOUBLE)" +
        " / 1000000.0) * 1000000.0) AS BIGINT)"))
    val norm = excess.agg(sum($"e").cast("long").as("se"))
    excess.crossJoin(broadcast(norm))
      .select($"source", $"n_trigrams", $"avg_nll_micro", $"excess_micro",
        expr("(e * 1000000) div se").as("weight_ppm"))
      .orderBy($"source")
  }

  private val q485Oracle =
    """WITH t AS (
      |  SELECT source, string_split(lower(text), ' ') AS toks
      |  FROM documents),
      |g AS (
      |  SELECT source, unnest(list_transform(range(1, len(toks) - 1),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
      |  FROM t),
      |lm AS (SELECT g, count(*) AS c FROM g GROUP BY g),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM lm),
      |sc AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_trigrams,
      |    CAST(sum(CAST(floor(ln(CAST(t AS DOUBLE) / c) * 1000000.0)
      |      AS BIGINT)) AS BIGINT) AS sum_nll
      |  FROM g JOIN lm USING (g), tot
      |  GROUP BY source),
      |gl AS (
      |  SELECT CAST(sum(sum_nll) AS BIGINT) AS tot_nll,
      |    CAST(sum(n_trigrams) AS BIGINT) AS tot_tri
      |  FROM sc),
      |x AS (
      |  SELECT source, n_trigrams,
      |    sum_nll // n_trigrams AS avg_nll_micro,
      |    sum_nll // n_trigrams - tot_nll // tot_tri AS excess_micro
      |  FROM sc, gl),
      |e AS (
      |  SELECT x.*, CAST(floor(exp(CAST(excess_micro AS DOUBLE)
      |    / 1000000.0) * 1000000.0) AS BIGINT) AS e
      |  FROM x),
      |n AS (SELECT CAST(sum(e) AS BIGINT) AS se FROM e)
      |SELECT source, n_trigrams, avg_nll_micro, excess_micro,
      |  CAST((e * 1000000) // se AS BIGINT) AS weight_ppm
      |FROM e, n ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q488
  /** [NS] DETERMINISTIC EPOCH SHUFFLE — the training-order generator
    * every large-scale data loader runs (the SlimPajama/Megatron
    * shape: per epoch, documents land in a shard and a position
    * inside it, derived from a SEEDED hash so any worker can
    * reconstruct any shard's order independently, with no global
    * shuffle service and no stored permutation): shard =
    * md5("shard:epoch:doc") mod S, position = rank of
    * md5("pos:epoch:doc") within the (epoch, shard) group. Different
    * epochs provably produce different orders (the spec pins the
    * order checksums apart), identical inputs reproduce bit-identical
    * orders on any partitioning.
    *
    * The report folds each (epoch, shard) to its size, its first
    * document and an ORDER CHECKSUM Σ doc_id·position — an exact
    * BIGINT that encodes the permutation (any swap of two docs
    * changes it) while summing order-independently, so the full
    * 3-epoch plan is one explode-free projection + one rank window +
    * one fold; at 100 TB each epoch is one hash-partitioned window
    * over its shards, embarrassingly parallel by construction. */
  val shuffleEpochs = 3
  val shuffleShards = 4

  def q488EpochShuffle(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val epochs = (0 until shuffleEpochs)
      .map(e => lit(e.toLong)).toArray
    val base = Tables.documentsSpread(s, dir)
      .select($"doc_id", explode(array(epochs: _*)).as("epoch"))
    val keyed = base.select($"doc_id", $"epoch",
      (conv(substring(md5(concat(lit("shard:"), $"epoch".cast("string"),
        lit(":"), $"doc_id".cast("string"))), 1, 4), 16, 10).cast("long")
        % shuffleShards).as("shard"),
      md5(concat(lit("pos:"), $"epoch".cast("string"), lit(":"),
        $"doc_id".cast("string"))).as("ok"))
    val w = Window.partitionBy($"epoch", $"shard")
      .orderBy($"ok".asc, $"doc_id".asc)
    keyed.withColumn("position", row_number().over(w).cast("long"))
      .groupBy($"epoch", $"shard")
      .agg(count(lit(1)).as("n_docs"),
        min(when($"position" === 1L, $"doc_id")).as("first_doc"),
        sum($"doc_id" * $"position").as("order_checksum"))
      .orderBy($"epoch", $"shard")
  }

  private val q488Oracle =
    s"""WITH e AS (
       |  SELECT doc_id, unnest(range(0, $shuffleEpochs)) AS epoch
       |  FROM documents),
       |k AS (
       |  SELECT doc_id, epoch,
       |    ('0x' || substr(md5('shard:' || epoch || ':' || doc_id), 1, 4))
       |      ::BIGINT % $shuffleShards AS shard,
       |    md5('pos:' || epoch || ':' || doc_id) AS ok
       |  FROM e),
       |p AS (
       |  SELECT doc_id, epoch, shard,
       |    CAST(row_number() OVER (PARTITION BY epoch, shard
       |      ORDER BY ok ASC, doc_id ASC) AS BIGINT) AS position
       |  FROM k)
       |SELECT epoch, shard, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(min(CASE WHEN position = 1 THEN doc_id END) AS BIGINT)
       |    AS first_doc,
       |  CAST(sum(doc_id * position) AS BIGINT) AS order_checksum
       |FROM p GROUP BY epoch, shard ORDER BY epoch, shard""".stripMargin

  // ---------------------------------------------------------------- q502
  /** [NS] TOKEN-BUDGET CORPUS FREEZE — the selection-under-budget
    * pass that turns a scored corpus into a training snapshot: given
    * a global token budget (here 40% of the corpus), keep documents
    * in quality order until the budget is exhausted, and report per
    * source what survived the cut. The quality proxy here is the
    * integer chars-per-token density ((n_chars·1000) div (tokens+1))
    * — deterministic and self-contained; a real pipeline plugs its
    * classifier score (q352/q483) into the same ORDER BY. Scale
    * shape — the global greedy WITHOUT a global sort: a naive
    * `sum() OVER (ORDER BY q, doc_id)` funnels every document
    * through ONE window partition; instead the plan is two-level
    * prefix sums — (1) fold token mass to QUALITY grain (one
    * hash-agg; |Q| is bounded by the score's integer value domain,
    * thousands, not by corpus size), (2) cumsum over those |Q| rows
    * (the only single-partition window — bounded, broadcastable),
    * (3) join the q-grain offsets back and finish each document's
    * prefix with a cumsum PARTITIONED BY q, which parallelizes
    * across quality values. Identical kept-set to the global
    * (q DESC, doc_id) greedy — the oracle replays that directly.
    * Per-quality skew is bounded by the docs sharing one score; all
    * arithmetic exact BIGINT, the cut reproducible to the document. */
  def q502TokenBudgetFreeze(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir).createOrReplaceTempView("_q502_docs")
    s.sql(
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(size(split(text, ' ')) AS BIGINT) AS nt,
        |    (n_chars * 1000) div
        |      (CAST(size(split(text, ' ')) AS BIGINT) + 1) AS q
        |  FROM _q502_docs),
        |tot AS (SELECT sum(nt) * 2 div 5 AS budget FROM d),
        |qg AS (SELECT q, sum(nt) AS qmass FROM d GROUP BY q),
        |qc AS (
        |  SELECT q, sum(qmass) OVER (ORDER BY q DESC) - qmass AS prior
        |  FROM qg),
        |r AS (
        |  SELECT d.source, d.nt,
        |    qc.prior + sum(d.nt) OVER (PARTITION BY d.q
        |                               ORDER BY d.doc_id) AS cum
        |  FROM d JOIN qc ON d.q = qc.q)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS raw_tokens,
        |  CAST(sum(CASE WHEN cum <= budget THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  CAST(sum(CASE WHEN cum <= budget THEN nt ELSE 0 END) AS BIGINT)
        |    AS kept_tokens
        |FROM r CROSS JOIN tot
        |GROUP BY source ORDER BY source""".stripMargin)
  }

  private val q502Oracle =
    """WITH d AS (
      |  SELECT doc_id, source,
      |    len(string_split(text, ' ')) AS nt,
      |    (n_chars * 1000) // (len(string_split(text, ' ')) + 1) AS q
      |  FROM documents),
      |tot AS (SELECT sum(nt) * 2 // 5 AS budget FROM d),
      |r AS (
      |  SELECT source, nt,
      |    sum(nt) OVER (ORDER BY q DESC, doc_id) AS cum
      |  FROM d)
      |SELECT source,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(nt) AS BIGINT) AS raw_tokens,
      |  CAST(sum(CASE WHEN cum <= budget THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_kept,
      |  CAST(sum(CASE WHEN cum <= budget THEN nt ELSE 0 END) AS BIGINT)
      |    AS kept_tokens
      |FROM r CROSS JOIN tot
      |GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q510
  /** FILL-IN-THE-MIDDLE transformation planning (Bavarian et al.
    * 2022's FIM; the code-model pretraining staple): before rewriting
    * a corpus into `<pre>prefix<suf>suffix<mid>middle` order, PRICE
    * the transformation — per (lang, mode): how many documents
    * transform under each mode (PSM / SPM split by a deterministic
    * doc-id parity, the standard 50/50 mix), how many are too short
    * and stay autoregressive, the middle-span mass the infill
    * objective will train on, and the sentinel-token overhead the
    * rewrite adds (3 per transformed doc). Split points are pure
    * integer arithmetic on the character length (40%/80% — the
    * uniform-split character-level FIM), so the plan costs ONE
    * scan-side projection + a (lang, mode)-grain aggregate: at 100 TB
    * no text ever shuffles — lengths do. The rewrite itself is then
    * an embarrassingly parallel map the plan has already priced. */
  def q510FimTransformPlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", $"lang", length($"text").cast("long").as("len"))
      .withColumn("mode",
        when($"len" < 50L, lit("ar"))
          .when($"doc_id" % 2 === 0, lit("psm"))
          .otherwise(lit("spm")))
      .withColumn("mid_chars",
        when($"mode" === "ar", lit(0L))
          .otherwise(expr("len * 4 div 5 - len * 2 div 5")))
      .groupBy($"lang", $"mode")
      .agg(count(lit(1)).as("n_docs"),
        sum($"len").as("total_chars"),
        sum($"mid_chars").as("middle_chars"),
        sum(when($"mode" === "ar", 0L).otherwise(3L))
          .as("sentinel_tokens"))
      .orderBy($"lang", $"mode")
  }

  private val q510Oracle =
    """WITH d AS (
      |  SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS len,
      |    CASE WHEN length(text) < 50 THEN 'ar'
      |      WHEN doc_id % 2 = 0 THEN 'psm' ELSE 'spm' END AS mode
      |  FROM documents)
      |SELECT lang, mode,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(len) AS BIGINT) AS total_chars,
      |  CAST(sum(CASE WHEN mode = 'ar' THEN 0
      |    ELSE len * 4 // 5 - len * 2 // 5 END) AS BIGINT)
      |    AS middle_chars,
      |  CAST(sum(CASE WHEN mode = 'ar' THEN 0 ELSE 3 END) AS BIGINT)
      |    AS sentinel_tokens
      |FROM d GROUP BY lang, mode ORDER BY lang, mode""".stripMargin

  // ---------------------------------------------------------------- q511
  /** SYNTHETIC-TEXT (model-output) MARKER AUDIT — the
    * self-consumption gate a 2025-era corpus needs (Shumailov et al.
    * 2023's model-collapse loop: web crawls increasingly contain
    * model-generated text, and retraining on it degrades the model):
    * score every source against a configured list of
    * model-characteristic marker phrases and report, per source, the
    * marker rate per 10k tokens and the share of documents over a
    * flag threshold — the readout that decides which sources need a
    * classifier pass or an exclusion rule before the next crawl
    * lands. Occurrence counting is pure substring arithmetic
    * ((len − len(remove)) / len(marker) — exact, no regex engine
    * divergence between engines), so the audit is ONE scan-side
    * projection + a source-grain aggregate: at 100 TB the text never
    * shuffles and the marker list broadcasts as literals. The list
    * here is the fixture's (words present in the synthetic corpus);
    * production swaps in the published slop lexicons verbatim. */
  def q511SyntheticMarkerAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val markers = Seq("slow", "merge", "spark")
    val hits = markers.map(m =>
      (length($"text") - length(expr(s"replace(text, '$m', '')")))
        / lit(m.length)).reduce(_ + _).cast("long")
    Tables.documents(s, dir)
      .select($"source",
        hits.as("hits"),
        (length($"text") -
          length(expr("replace(text, ' ', '')")) + 1L)
          .cast("long").as("toks"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"hits").as("marker_hits"),
        expr("sum(hits) * 10000 div sum(toks)").as("hits_per_10k"),
        sum(when($"hits" >= 3L, 1L).otherwise(0L)).as("flagged_docs"))
      .orderBy($"source")
  }

  private val q511Oracle =
    """WITH d AS (
      |  SELECT source,
      |    (length(text) - length(replace(text, 'slow', ''))) // 4 +
      |    (length(text) - length(replace(text, 'merge', ''))) // 5 +
      |    (length(text) - length(replace(text, 'spark', ''))) // 5
      |      AS hits,
      |    length(text) - length(replace(text, ' ', '')) + 1 AS toks
      |  FROM documents)
      |SELECT source,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(hits) AS BIGINT) AS marker_hits,
      |  CAST(sum(hits) * 10000 // sum(toks) AS BIGINT) AS hits_per_10k,
      |  CAST(sum(CASE WHEN hits >= 3 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS flagged_docs
      |FROM d GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q515
  /** UNIMAX language allocation (Chung et al. 2023 — the multilingual
    * pretraining budgeter): spend a total token budget as UNIFORMLY
    * across languages as possible, capping every language at a
    * maximum epoch count of its available data (1.2 epochs here) so
    * low-resource languages are never over-recycled into memorization
    * while high-resource ones absorb the slack. The optimum is
    * WATER-FILLING, and it has a closed rowwise form: with languages
    * sorted by capped capacity ascending, a language is CAPPED iff
    * `c_i·(L−i+1) + Σ_{j<i} c_j ≤ B` (even granting everyone from it
    * upward its own cap fits the budget), and the uncapped share is
    * θ = (B − Σ capped c) div (#uncapped) — one cumsum window over
    * |langs| rows, NO iterative loop. Scale shape: the only
    * data-proportional work is the lang-grain token fold (one
    * scan-side projection + one tiny shuffle); the waterfill runs
    * over the language cardinality. Exact BIGINT throughout. */
  def q515UnimaxAllocation(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir).createOrReplaceTempView("_q515_docs")
    s.sql(
      """WITH avail AS (
        |  SELECT lang, CAST(sum(length(text) -
        |    length(replace(text, ' ', '')) + 1) AS BIGINT) AS avail
        |  FROM _q515_docs GROUP BY lang),
        |c AS (
        |  SELECT lang, avail, avail * 12 div 10 AS cap_c,
        |    CAST(sum(avail) OVER () AS BIGINT) AS budget,
        |    COUNT(*) OVER () AS n_langs
        |  FROM avail),
        |ranked AS (
        |  SELECT *,
        |    ROW_NUMBER() OVER (ORDER BY cap_c, lang) AS i,
        |    COALESCE(SUM(cap_c) OVER (ORDER BY cap_c, lang
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0L)
        |      AS cum_before
        |  FROM c),
        |marked AS (
        |  SELECT *,
        |    cap_c * (n_langs - i + 1) + cum_before <= budget AS capped
        |  FROM ranked),
        |theta AS (
        |  SELECT (max(budget) - COALESCE(sum(CASE WHEN capped
        |      THEN cap_c END), 0L))
        |    div GREATEST(1L, count(CASE WHEN NOT capped THEN 1 END))
        |    AS theta
        |  FROM marked)
        |SELECT lang, avail AS avail_tokens,
        |  CAST(CASE WHEN capped THEN cap_c ELSE theta END AS BIGINT)
        |    AS alloc_tokens,
        |  capped,
        |  CAST((CASE WHEN capped THEN cap_c ELSE theta END) * 10000
        |    div avail AS BIGINT) AS epochs_bp
        |FROM marked CROSS JOIN theta
        |ORDER BY lang""".stripMargin)
  }

  private val q515Oracle =
    """WITH avail AS (
      |  SELECT lang, CAST(sum(length(text) -
      |    length(replace(text, ' ', '')) + 1) AS BIGINT) AS avail
      |  FROM documents GROUP BY lang),
      |c AS (
      |  SELECT lang, avail, avail * 12 // 10 AS cap_c,
      |    CAST(sum(avail) OVER () AS BIGINT) AS budget,
      |    COUNT(*) OVER () AS n_langs
      |  FROM avail),
      |ranked AS (
      |  SELECT *,
      |    ROW_NUMBER() OVER (ORDER BY cap_c, lang) AS i,
      |    COALESCE(SUM(cap_c) OVER (ORDER BY cap_c, lang
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS cum_before
      |  FROM c),
      |marked AS (
      |  SELECT *,
      |    cap_c * (n_langs - i + 1) + cum_before <= budget AS capped
      |  FROM ranked),
      |theta AS (
      |  SELECT (max(budget) - COALESCE(sum(CASE WHEN capped
      |      THEN cap_c END), 0))
      |    // GREATEST(1, count(CASE WHEN NOT capped THEN 1 END))
      |    AS theta
      |  FROM marked)
      |SELECT lang, avail AS avail_tokens,
      |  CAST(CASE WHEN capped THEN cap_c ELSE theta END AS BIGINT)
      |    AS alloc_tokens,
      |  capped,
      |  CAST((CASE WHEN capped THEN cap_c ELSE theta END) * 10000
      |    // avail AS BIGINT) AS epochs_bp
      |FROM marked CROSS JOIN theta
      |ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q521
  /** JUDGE-AGREEMENT MATRIX — pairwise Cohen's κ over shared
    * (doc, verdict) judgments, the LLM-judge governance readout: a
    * judge pair whose κ collapses toward 0 is agreeing no better than
    * chance (one of them is broken, drifted, or prompt-regressed),
    * and the matrix says WHICH pair — q453's κ machinery lifted from
    * one classifier-vs-truth to every judge-vs-judge cell. Four
    * planted judges each label a 4/5 subset of docs (doc_id % 5 skips
    * one stratum per judge) with per-judge error rates, so every pair
    * shares a distinct doc set and lands a distinct κ. All ratios are
    * ppm floor-div — bit-identical cross-engine.
    *
    * Scale shape: ONE equi-join on doc_id builds the shared-judgment
    * pairs (J·docs rows in, J²·docs pair rows only at the join — no
    * all-pairs over DOCS, only over the J judges, and J is
    * fleet-size-bounded), then one aggregation to the
    * (pair, verdict, verdict) cell grid; everything after the grid is
    * |J|²·|verdicts|² driver-size arithmetic. */
  def q521JudgeAgreement(s: SparkSession, dir: String): DataFrame = {
    Tables.documentsSpread(s, dir).select("doc_id")
      .createOrReplaceTempView("_q521_docs")
    s.sql(
      """WITH j AS (
        |  SELECT doc_id, judge,
        |    CASE WHEN (doc_id * 13 + 7 * (judge + 1)) % 10 < judge + 1
        |      THEN (doc_id % 3 + judge + 1) % 3
        |      ELSE doc_id % 3 END AS verdict
        |  FROM _q521_docs
        |  LATERAL VIEW explode(sequence(0, 3)) AS judge
        |  WHERE doc_id % 5 <> judge),
        |cells AS (
        |  SELECT a.judge AS ja, b.judge AS jb,
        |    a.verdict AS va, b.verdict AS vb,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM j a JOIN j b ON a.doc_id = b.doc_id AND a.judge < b.judge
        |  GROUP BY 1, 2, 3, 4),
        |tot AS (
        |  SELECT ja, jb, CAST(sum(n) AS BIGINT) AS nt,
        |    CAST(sum(CASE WHEN va = vb THEN n ELSE 0 END) AS BIGINT)
        |      AS agree
        |  FROM cells GROUP BY 1, 2),
        |marg AS (
        |  SELECT r.ja, r.jb, CAST(sum(r.rm * c.cm) AS BIGINT) AS rc
        |  FROM (SELECT ja, jb, va AS k, sum(n) AS rm FROM cells
        |        GROUP BY 1, 2, 3) r
        |  JOIN (SELECT ja, jb, vb AS k, sum(n) AS cm FROM cells
        |        GROUP BY 1, 2, 3) c
        |    ON r.ja = c.ja AND r.jb = c.jb AND r.k = c.k
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT t.ja, t.jb, t.nt,
        |    (t.agree * 1000000) div t.nt AS po_ppm,
        |    (m.rc * 1000000) div (t.nt * t.nt) AS pe_ppm
        |  FROM tot t JOIN marg m ON t.ja = m.ja AND t.jb = m.jb)
        |SELECT CAST(ja AS BIGINT) AS judge_a, CAST(jb AS BIGINT) AS judge_b,
        |  nt AS n_shared, po_ppm, pe_ppm,
        |  ((po_ppm - pe_ppm) * 1000000)
        |    div greatest(1000000 - pe_ppm, 1L) AS kappa_ppm
        |FROM scored ORDER BY judge_a, judge_b""".stripMargin)
  }

  private val q521Oracle =
    """WITH j AS (
      |  SELECT doc_id, judge,
      |    CASE WHEN (doc_id * 13 + 7 * (judge + 1)) % 10 < judge + 1
      |      THEN (doc_id % 3 + judge + 1) % 3
      |      ELSE doc_id % 3 END AS verdict
      |  FROM documents, (SELECT unnest([0, 1, 2, 3]) AS judge)
      |  WHERE doc_id % 5 <> judge),
      |cells AS (
      |  SELECT a.judge AS ja, b.judge AS jb,
      |    a.verdict AS va, b.verdict AS vb,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM j a JOIN j b ON a.doc_id = b.doc_id AND a.judge < b.judge
      |  GROUP BY 1, 2, 3, 4),
      |tot AS (
      |  SELECT ja, jb, CAST(sum(n) AS BIGINT) AS nt,
      |    CAST(sum(CASE WHEN va = vb THEN n ELSE 0 END) AS BIGINT)
      |      AS agree
      |  FROM cells GROUP BY 1, 2),
      |marg AS (
      |  SELECT r.ja, r.jb, CAST(sum(r.rm * c.cm) AS BIGINT) AS rc
      |  FROM (SELECT ja, jb, va AS k, sum(n) AS rm FROM cells
      |        GROUP BY 1, 2, 3) r
      |  JOIN (SELECT ja, jb, vb AS k, sum(n) AS cm FROM cells
      |        GROUP BY 1, 2, 3) c
      |    ON r.ja = c.ja AND r.jb = c.jb AND r.k = c.k
      |  GROUP BY 1, 2),
      |scored AS (
      |  SELECT t.ja, t.jb, t.nt,
      |    (t.agree * 1000000) // t.nt AS po_ppm,
      |    (m.rc * 1000000) // (t.nt * t.nt) AS pe_ppm
      |  FROM tot t JOIN marg m ON t.ja = m.ja AND t.jb = m.jb)
      |SELECT CAST(ja AS BIGINT) AS judge_a, CAST(jb AS BIGINT) AS judge_b,
      |  nt AS n_shared, po_ppm, pe_ppm,
      |  CAST(((po_ppm - pe_ppm) * 1000000)
      |    // greatest(1000000 - pe_ppm, 1) AS BIGINT) AS kappa_ppm
      |FROM scored ORDER BY judge_a, judge_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q521_judge_agreement" -> (q521JudgeAgreement _),
    "q515_unimax_allocation" -> (q515UnimaxAllocation _),
    "q510_fim_transform_plan" -> (q510FimTransformPlan _),
    "q511_synthetic_marker_audit" -> (q511SyntheticMarkerAudit _),
    "q502_token_budget_freeze" -> (q502TokenBudgetFreeze _),
    "q480_pipeline_capstone" -> (q480PipelineCapstone _),
    "q483_nb_quality_classifier" -> (q483NbQualityClassifier _),
    "q484_tokenizer_fertility" -> (q484TokenizerFertility _),
    "q485_doremi_weights" -> (q485DoremiWeights _),
    "q488_epoch_shuffle" -> (q488EpochShuffle _),
    "q479_pack_utilization" -> (q479PackUtilization _),
    "q478_prefix_cache_sharing" -> (q478PrefixCacheSharing _),
    "q474_license_audit" -> (q474LicenseAudit _),
    "q473_memorization_probe" -> (q473MemorizationProbe _),
    "q472_rrf_fusion" -> (q472RrfFusion _),
    "q471_vlm_interleaved_pack" -> (q471VlmInterleavedPack _),
    "q467_split_leak_audit" -> (q467SplitLeakAudit _),
    "q465_best_of_n_yield" -> (q465BestOfNYield _),
    "q464_span_corruption" -> (q464SpanCorruption _),
    "q457_fairness_audit" -> (q457FairnessAudit _),
    "q452_edit_distance_dedup" -> (q452EditDistanceDedup _),
    "q453_multiclass_eval" -> (q453MulticlassEval _),
    "q450_data_constrained_mix" -> (q450DataConstrainedMix _),
    "q447_annotator_reliability" -> (q447AnnotatorReliability _),
    "q448_fim_transform" -> (q448FimTransform _),
    "q443_bradley_terry" -> (q443BradleyTerry _),
    "q438_chat_format_lint" -> (q438ChatFormatLint _),
    "q439_length_bias_audit" -> (q439LengthBiasAudit _),
    "q440_loop_detection" -> (q440LoopDetection _),
    "q398_mojibake_audit" -> (q398MojibakeAudit _),
    "q353_nb_langid" -> (q353NbLangid _),
    "q363_logreg_gate_apply" -> (q363LogregGateApply _),
    "q352_quality_logreg" -> (q352QualityLogreg _),
    "q350_curriculum_schedule" -> (q350CurriculumSchedule _),
    "q346_tokenizer_fertility" -> (q346TokenizerFertility _),
    "q343_dsir_weights" -> (q343DsirWeights _),
    "q323_temperature_mix" -> (q323TemperatureMix _),
    "q291_crossfit_norm" -> (q291CrossfitNorm _),
    "q272_eb_shrinkage" -> (q272EbShrinkage _),
    "q273_isotonic_calibration" -> (q273IsotonicCalibration _),
    "q277_ipf_weights" -> (q277IpfWeights _),
    "q279_vocab_coverage" -> (q279VocabCoverage _),
    "q285_source_exclusivity" -> (q285SourceExclusivity _),
    "q259_good_turing" -> (q259GoodTuring _),
    "q252_log_odds" -> (q252LogOddsTokens _),
    "q254_filter_cascade" -> (q254FilterCascade _),
    "q167_lm_buckets"  -> (q167LmBuckets _),
    "q168_dataset_card" -> (q168DatasetCard _),
    "q175_vol_median"  -> (q175VolMedian _),
    "q176_coverage_matrix" -> (q176CoverageMatrix _),
    "q193_source_concentration" -> (q193SourceConcentration _),
    "q196_score_auc"   -> (q196ScoreAuc _),
    "q304_average_precision" -> (q304AveragePrecision _),
    "q306_brier_decomposition" -> (q306BrierDecomposition _),
    "q222_doc_entropy" -> (q222DocEntropy _),
    "q224_winsorized_stats" -> (q224WinsorizedStats _),
    "q225_feature_hashing" -> (q225FeatureHashing _),
    "q239_zipf_fit" -> (q239ZipfFit _),
    "q241_rendezvous_sharding" -> (q241RendezvousSharding _),
    "q242_independence_test" -> (q242IndependenceTest _),
    "q246_decision_stump" -> (q246DecisionStump _),
    "q198_oov_coverage" -> (q198OovCoverage _),
    "q215_topn_other"  -> (q215TopnOther _),
    "q216_pct_rank_features" -> (q216PctRankFeatures _),
    "q199_calibration_bins" -> (q199CalibrationBins _),
    "q206_slice_auc"   -> (q206SliceAuc _),
    "q60_text_stats"          -> (q60TextStats _),
    "q73_tfidf"               -> (q73TfIdf _),
    "q78_inverted_index"      -> (q78InvertedIndex _),
    "q61_lang_id"             -> (q61LangId _),
    "q62_quality_score"       -> (q62QualityScore _),
    "q63_fingerprint"         -> (q63Fingerprint _),
    "q72_token_counts"        -> (q72TokenCounts _),
    "q497_distinct_n"         -> (q497DistinctN _),
    "q77_rolling_fingerprint" -> (q77RollingFingerprint _),
    "q49_stratified_sample"   -> (q49StratifiedSample _),
    "q50_doc_chunks"          -> (q50DocChunks _),
    "q54_redact_pii"          -> (q54RedactPii _),
    "q57_redact_planted"      -> (q57RedactPlanted _),
    "q59_repetition"          -> (q59Repetition _),
    "q83_sequence_pack"       -> (q83SequencePack _),
    "q380_length_buckets"     -> (q380LengthBuckets _),
    "q384_html_extract"       -> (q384HtmlExtract _),
    "q385_bpe_apply"          -> (q385BpeApply _),
    "q382_loop_detect"        -> (q382LoopDetect _),
    "q84_url_domains"         -> (q84UrlDomains _),
    "q85_domain_cap"          -> (q85DomainCap _),
    "q88_quality_trim"        -> (q88QualityTrim _),
    "q91_train_val_test"      -> (q91TrainValTest _),
    "q92_trigram_counts"      -> (q92TrigramCounts _),
    "q96_domain_blocklist"    -> (q96DomainBlocklist _),
    "q105_vocab_encode"       -> (q105VocabEncode _),
    "q107_gopher_rules"       -> (q107GopherRules _),
    "q109_pmi_collocations"   -> (q109PmiCollocations _),
    "q110_weighted_sample"    -> (q110WeightedSample _),
    "q111_quantile_norm"      -> (q111QuantileNorm _),
    "q112_mixture_rebalance"  -> (q112MixtureRebalance _),
    "q116_canonical_urls"     -> (q116CanonicalUrls _),
    "q119_exact_k_sample"     -> (q119ExactKSample _),
    "q124_curation_funnel"    -> (q124CurationFunnel _),
    "q125_lm_score"           -> (q125LmScore _),
    "q128_bm25"               -> (q128Bm25 _),
    "q140_bpe_merges"         -> (q140BpeMerges _),
    "q145_pareto_frontier"    -> (q145ParetoFrontier _),
    "q129_source_divergence"  -> (q129SourceDivergence _),
    "q130_normalize"          -> (q130Normalize _),
  )

  val oracles: Map[String, String] = Map(
    "q521_judge_agreement" -> q521Oracle,
    "q515_unimax_allocation" -> q515Oracle,
    "q510_fim_transform_plan" -> q510Oracle,
    "q511_synthetic_marker_audit" -> q511Oracle,
    "q502_token_budget_freeze" -> q502Oracle,
    "q480_pipeline_capstone" -> q480Oracle,
    "q483_nb_quality_classifier" -> q483Oracle,
    "q484_tokenizer_fertility" -> q484Oracle,
    "q485_doremi_weights" -> q485Oracle,
    "q488_epoch_shuffle" -> q488Oracle,
    "q479_pack_utilization" -> q479Oracle,
    "q478_prefix_cache_sharing" -> q478Oracle,
    "q474_license_audit" -> q474Oracle,
    "q473_memorization_probe" -> q473Oracle,
    "q472_rrf_fusion" -> q472Oracle,
    "q471_vlm_interleaved_pack" -> q471Oracle,
    "q467_split_leak_audit" -> q467Oracle,
    "q465_best_of_n_yield" -> q465Oracle,
    "q464_span_corruption" -> q464Oracle,
    "q457_fairness_audit" -> q457Oracle,
    "q452_edit_distance_dedup" -> q452Oracle,
    "q453_multiclass_eval" -> q453Oracle,
    "q450_data_constrained_mix" -> q450Oracle,
    "q447_annotator_reliability" -> q447Oracle,
    "q448_fim_transform" -> q448Oracle,
    "q443_bradley_terry" -> q443Oracle,
    "q438_chat_format_lint" -> q438Oracle,
    "q439_length_bias_audit" -> q439Oracle,
    "q440_loop_detection" -> q440Oracle,
    "q398_mojibake_audit" -> q398Oracle,
    "q353_nb_langid" -> q353Oracle,
    "q363_logreg_gate_apply" -> q363Oracle,
    "q352_quality_logreg" -> q352Oracle,
    "q350_curriculum_schedule" -> q350Oracle,
    "q346_tokenizer_fertility" -> q346Oracle,
    "q343_dsir_weights" -> q343Oracle,
    "q323_temperature_mix" -> q323Oracle,
    "q291_crossfit_norm" -> q291Oracle,
    "q272_eb_shrinkage" -> q272Oracle,
    "q273_isotonic_calibration" -> q273Oracle,
    "q277_ipf_weights" -> q277Oracle,
    "q279_vocab_coverage" -> q279Oracle,
    "q285_source_exclusivity" -> q285Oracle,
    "q252_log_odds" -> q252Oracle,
    "q254_filter_cascade" -> q254Oracle,
    "q259_good_turing" -> q259Oracle,
    "q167_lm_buckets"  -> q167Oracle,
    "q168_dataset_card" -> q168Oracle,
    "q175_vol_median"  -> q175Oracle,
    "q176_coverage_matrix" -> q176Oracle,
    "q193_source_concentration" -> q193Oracle,
    "q196_score_auc"   -> q196Oracle,
    "q304_average_precision" -> q304Oracle,
    "q306_brier_decomposition" -> q306Oracle,
    "q198_oov_coverage" -> q198Oracle,
    "q215_topn_other"  -> q215Oracle,
    "q216_pct_rank_features" -> q216Oracle,
    "q222_doc_entropy" -> q222Oracle,
    "q224_winsorized_stats" -> q224Oracle,
    "q225_feature_hashing" -> q225Oracle,
    "q239_zipf_fit" -> q239Oracle,
    "q241_rendezvous_sharding" -> q241Oracle,
    "q242_independence_test" -> q242Oracle,
    "q246_decision_stump" -> q246Oracle,
    "q199_calibration_bins" -> q199Oracle,
    "q206_slice_auc"   -> q206Oracle,
    "q60_text_stats"          -> q60Oracle,
    "q61_lang_id"             -> q61Oracle,
    "q73_tfidf"               -> q73Oracle,
    "q78_inverted_index"      -> q78Oracle,
    "q62_quality_score"       -> q62Oracle,
    "q63_fingerprint"         -> q63Oracle,
    "q72_token_counts"        -> q72Oracle,
    "q497_distinct_n"         -> q497Oracle,
    "q77_rolling_fingerprint" -> q77Oracle,
    "q49_stratified_sample"   -> q49Oracle,
    "q50_doc_chunks"          -> q50Oracle,
    "q54_redact_pii"          -> q54Oracle,
    "q57_redact_planted"      -> q57Oracle,
    "q59_repetition"          -> q59Oracle,
    "q83_sequence_pack"       -> q83Oracle,
    "q380_length_buckets"     -> q380Oracle,
    "q384_html_extract"       -> q384Oracle,
    "q385_bpe_apply"          -> q385Oracle,
    "q382_loop_detect"        -> q382Oracle,
    "q84_url_domains"         -> q84Oracle,
    "q85_domain_cap"          -> q85Oracle,
    "q88_quality_trim"        -> q88Oracle,
    "q91_train_val_test"      -> q91Oracle,
    "q92_trigram_counts"      -> q92Oracle,
    "q96_domain_blocklist"    -> q96Oracle,
    "q105_vocab_encode"       -> q105Oracle,
    "q107_gopher_rules"       -> q107Oracle,
    "q109_pmi_collocations"   -> q109Oracle,
    "q110_weighted_sample"    -> q110Oracle,
    "q111_quantile_norm"      -> q111Oracle,
    "q112_mixture_rebalance"  -> q112Oracle,
    "q116_canonical_urls"     -> q116Oracle,
    "q119_exact_k_sample"     -> q119Oracle,
    "q124_curation_funnel"    -> q124Oracle,
    "q125_lm_score"           -> q125Oracle,
    "q128_bm25"               -> q128Oracle,
    "q140_bpe_merges"         -> q140Oracle,
    "q145_pareto_frontier"    -> q145Oracle,
    "q129_source_divergence"  -> q129Oracle,
    "q130_normalize"          -> q130Oracle,
  )
}
