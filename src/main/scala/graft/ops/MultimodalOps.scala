package graft.ops

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.expr.TextExprs

/** Multimodal-column plumbing for training-data pipelines: media
  * payloads ride as opaque `binary` columns next to typed metadata,
  * and decode/feature-extraction runs as a typed, batched
  * `mapPartitions` pass (the JVM analogue of an Arrow-batched
  * `mapInPandas` decode stage).
  *
  * The decode itself is a STUB — no image/audio codecs exist in this
  * environment — implemented as deterministic byte arithmetic
  * (length, md5 checksum, metadata-derived "resize"). Everything
  * around it is real and load-bearing: the binary schema, the typed
  * Encoders, the micro-batch shape (`grouped(decodeBatchSize)` ==
  * one vectorized decode call per batch), partition preservation,
  * and the frame-sampling explode. Swapping the stub body for a real
  * codec changes no plan shape.
  *
  * The `media` view derives deterministically from `documents`
  * (payload = utf-8 bytes of `text`), so every query here remains
  * DuckDB-oracle-checkable.
  */
object MultimodalOps {

  /** One media row: payload + declared (not decoded) metadata. */
  final case class MediaRow(
      media_id: Long,
      media_type: String,
      payload: Array[Byte],
      declared_w: Int,
      declared_h: Int)

  /** Decoded features (stub): byte stats + checksum + "resized" dims. */
  final case class MediaFeatures(
      media_id: Long,
      media_type: String,
      n_bytes: Long,
      checksum: String,
      out_w: Int,
      out_h: Int)

  val decodeBatchSize = 32
  val targetSize = 224 // fake "resize to model input" edge

  /** The media table: documents re-typed as binary payloads with
    * metadata. media_type cycles image/audio/video on doc_id; the
    * declared dims derive from n_chars (metadata travels with the
    * payload, as a real ingest would carry container headers). */
  def media(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(
        $"doc_id".as("media_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          ($"doc_id" % 3).cast("int") + 1).as("media_type"),
        $"text".cast("binary").as("payload"),
        (lit(64) + pmod($"n_chars", lit(512))).cast("int").as("declared_w"),
        (lit(64) + pmod($"n_chars" * 7, lit(512))).cast("int").as("declared_h"))
      .as[MediaRow]
  }

  /** The batched decode pass. Each `grouped` slice models one
    * vectorized decoder invocation (one Arrow batch / one GPU call);
    * rows never leave their partition. */
  def decodeFeatures(rows: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import rows.sparkSession.implicits._
    rows.mapPartitions { it =>
      it.grouped(decodeBatchSize).flatMap { batch =>
        // ---- stub decode: deterministic stand-in for codec work ----
        batch.map { m =>
          val md = MessageDigest.getInstance("MD5")
          val checksum = md.digest(m.payload).map("%02x".format(_)).mkString
          // fake "resize": clamp declared dims to the model edge,
          // preserving the declared aspect only via integer math
          val outW = math.min(m.declared_w, targetSize)
          val outH = math.min(m.declared_h, targetSize)
          MediaFeatures(m.media_id, m.media_type, m.payload.length.toLong,
            checksum, outW, outH)
        }
      }
    }
  }

  // ---------------------------------------------------------------- q75
  /** Full decode pipeline over the media view. The md5-of-payload
    * checksum makes the stub oracle-checkable byte-for-byte. */
  def q75MediaFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    decodeFeatures(media(s, dir)).toDF().orderBy($"media_id")
  }

  private val q75Oracle =
    """SELECT doc_id AS media_id,
      |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END
      |    AS media_type,
      |  CAST(strlen(text) AS BIGINT) AS n_bytes,
      |  md5(text) AS checksum,
      |  LEAST(64 + n_chars % 512, 224) AS out_w,
      |  LEAST(64 + (n_chars * 7) % 512, 224) AS out_h
      |FROM documents ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- q76
  /** Frame sampling for "video" payloads: one 16-byte frame every
    * `frameStride` bytes, exploded to (media_id, frame_idx, frame
    * hash). Runs as a relational explode so frame extraction stays
    * parallel and pushes no payload through a driver loop; at scale
    * the explode factor is bounded by payload size / stride. */
  val frameLen = 16
  val frameStride = 64

  def q76FrameSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    media(s, dir).toDF()
      .where($"media_type" === "video")
      .select($"media_id", $"payload".cast("string").as("content"))
      .where(length($"content") >= frameLen)
      .select($"media_id", $"content",
        posexplode(transform(
          sequence(lit(0), ((length($"content") - frameLen) / frameStride).cast("int")),
          i => $"content".substr(i * frameStride + 1, lit(frameLen)))))
      .select($"media_id", col("pos").as("frame_idx"),
        md5(col("col")).as("frame_hash"))
      .orderBy($"media_id", $"frame_idx")
  }

  private val q76Oracle =
    s"""WITH v AS (
       |  SELECT doc_id AS media_id, text AS content FROM documents
       |  WHERE doc_id % 3 = 2 AND length(text) >= $frameLen),
       |f AS (
       |  SELECT media_id, content,
       |    unnest(range(0, (length(content) - $frameLen) // $frameStride + 1))
       |      AS frame_idx
       |  FROM v)
       |SELECT media_id, frame_idx,
       |  md5(substr(content, CAST(frame_idx * $frameStride AS INT) + 1, $frameLen))
       |    AS frame_hash
       |FROM f ORDER BY media_id, frame_idx""".stripMargin

  // ---------------------------------------------------------------- q123
  /** Frame-level dedup — the multimodal twin of q64's content dedup:
    * a frame repeated across (or within) videos marks shared footage
    * (intros, slates, loops), and per-video duplicated-frame share is
    * the signal a video-corpus curator drops on. Composes q76's
    * frame extraction with the dedup family's count-then-classify
    * shape: one hash-agg over frame hashes (16-byte keys — payloads
    * never shuffle), a broadcast-sized hot-hash side joined back,
    * then a per-video rollup. The 31-token corpus repeats 16-byte
    * slices heavily, so both the dup and unique branches are
    * exercised without planting. */
  def q123FrameDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val frames = q76FrameSample(s, dir)
      .select($"media_id", $"frame_hash")
    val occ = frames.groupBy($"frame_hash")
      .agg(count(lit(1)).as("n_occ"))
    frames.join(occ, Seq("frame_hash"))
      .groupBy($"media_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(when($"n_occ" >= 2, 1L).otherwise(0L)).as("n_dup_frames"))
      .select($"media_id", $"n_frames", $"n_dup_frames",
        ($"n_dup_frames".cast("double") / $"n_frames").as("dup_ratio"))
      .orderBy($"media_id")
  }

  private val q123Oracle =
    s"""WITH v AS (
       |  SELECT doc_id AS media_id, text AS content FROM documents
       |  WHERE doc_id % 3 = 2 AND length(text) >= $frameLen),
       |f AS (
       |  SELECT media_id,
       |    md5(substr(content, CAST(i * $frameStride AS INT) + 1, $frameLen))
       |      AS frame_hash
       |  FROM (
       |    SELECT media_id, content,
       |      unnest(range(0, (length(content) - $frameLen) // $frameStride + 1)) AS i
       |    FROM v)),
       |occ AS (SELECT frame_hash, count(*) AS n_occ FROM f GROUP BY 1)
       |SELECT media_id, count(*) AS n_frames,
       |  CAST(sum(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dup_frames,
       |  CAST(sum(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
       |    AS dup_ratio
       |FROM f JOIN occ USING (frame_hash)
       |GROUP BY media_id ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- q315
  /** Audio chunking window/hop, in payload bytes. Window > hop makes
    * consecutive chunks OVERLAP — the frame+hop shape every audio
    * front-end (STFT, wav2vec-style encoders) consumes, and what
    * distinguishes this from q76's disjoint stride sampling. */
  val chunkLen = 48
  val chunkHop = 32

  /** Overlapping audio chunking: each "audio" payload explodes to
    * frame+hop byte windows — chunk i covers [i·hop, i·hop+len) —
    * including a FINAL SHORT chunk so the tail of the recording is
    * never silently dropped (no padding: the consumer sees the true
    * chunk length and pads model-side if it wants; a padded variant
    * is one rpad away and would bake a pad byte into the hash). The
    * same contract covers payloads SHORTER than one window: they
    * emit a single short chunk (chunk_idx 0, n_bytes = payload
    * length) rather than vanishing — the only rows excluded are
    * zero-length fragments whose start falls outside the payload.
    * Output is (media_id, chunk_idx, start_byte, n_bytes,
    * chunk_hash) — the manifest a downstream embedding stage maps
    * over, md5-hashed so the stub stays byte-for-byte
    * oracle-checkable (q75's discipline).
    *
    * Scale shape: one scan of the audio slice, explode bounded by
    * payload_len/hop per row, no shuffle before the oracle ORDER BY;
    * payloads never leave their partition un-chunked. */
  def q315AudioChunks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    media(s, dir).toDF()
      .where($"media_type" === "audio")
      .select($"media_id", $"payload".cast("string").as("content"))
      .select($"media_id", $"content",
        posexplode(transform(
          sequence(lit(0), ((length($"content") - 1) / chunkHop).cast("int")),
          i => $"content".substr(i * chunkHop + 1, lit(chunkLen)))))
      .select($"media_id", col("pos").cast("long").as("chunk_idx"),
        (col("pos") * chunkHop).cast("long").as("start_byte"),
        length(col("col")).cast("long").as("n_bytes"),
        md5(col("col")).as("chunk_hash"))
      // substr past the end yields sub-hop fragments below a window's
      // worth of signal; a chunk must START inside the payload
      .where($"n_bytes" > 0)
      .orderBy($"media_id", $"chunk_idx")
  }

  private val q315Oracle =
    s"""WITH a AS (
       |  SELECT doc_id AS media_id, text AS content FROM documents
       |  WHERE doc_id % 3 = 1),
       |c AS (
       |  SELECT media_id, content,
       |    unnest(range(0, (length(content) - 1) // $chunkHop + 1)) AS i
       |  FROM a)
       |SELECT media_id, CAST(i AS BIGINT) AS chunk_idx,
       |  CAST(i * $chunkHop AS BIGINT) AS start_byte,
       |  CAST(length(substr(content, CAST(i * $chunkHop AS INT) + 1, $chunkLen))
       |    AS BIGINT) AS n_bytes,
       |  md5(substr(content, CAST(i * $chunkHop AS INT) + 1, $chunkLen))
       |    AS chunk_hash
       |FROM c
       |WHERE length(substr(content, CAST(i * $chunkHop AS INT) + 1, $chunkLen)) > 0
       |ORDER BY media_id, chunk_idx""".stripMargin

  // ---------------------------------------------------------------- q404
  /** Silence threshold in milli mean-square units: a chunk whose mean
    * squared amplitude is below this is silence. Space bytes decode
    * to amplitude 0 (code 32 is the stub waveform's zero line);
    * letter bytes sit at 65–90 amplitude ⇒ voiced chunks score in
    * the millions of milli-units — four orders of magnitude of
    * separation, so the verdict is robust to any mix with >8%
    * letters. */
  val silenceTauMilli = 500000L

  /** VAD-style silence-trim planning over the q315 chunk grid — the
    * stage between chunking and the embedding fleet: per recording,
    * integer per-chunk energy (mean of squared amplitudes, amplitude
    * = byte code − 32 on the stub waveform where space IS silence),
    * a silent/voiced verdict per chunk, and the TRIM PLAN — the byte
    * range [first voiced chunk start, last voiced chunk end) a
    * decode fleet should actually process. Leading/trailing silence
    * is the cheap 10–30% a real pipeline pays storage and GPU time
    * for; the plan costs one scan, no decode (q316's gate-before-
    * fleet discipline). Energy is an in-array HOF fold (aggregate
    * over the chunk's code points) — exact integers, zero shuffles
    * below the readout. Fully-silent recordings emit −1 sentinels
    * (nothing to process — the drop list). Recordings with silent
    * padding are planted in-query (q57 device) so both trim branches
    * fire cross-engine; corpus audio is word text (never silent),
    * living the all-voiced branch. */
  def q404SilenceTrim(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = Seq(
      (-1L, " " * 120),                                   // all silence
      (-2L, " " * 64 + ("voice " * 12).trim + " " * 70))  // padded speech
      .toDF("media_id", "content")
    val audio = media(s, dir).toDF()
      .where($"media_type" === "audio")
      .select($"media_id", $"payload".cast("string").as("content"))
      .unionByName(planted)
    silenceTrimOf(audio)
  }

  /** The trim plan on any (media_id, content) frame — separated so
    * the spec can hand-check chunk verdicts on tiny fixtures. */
  private[ops] def silenceTrimOf(audio: DataFrame): DataFrame = {
    val s = audio.sparkSession
    import s.implicits._
    val chunks = audio
      .select($"media_id",
        posexplode(transform(
          sequence(lit(0), ((length($"content") - 1) / chunkHop).cast("int")),
          i => $"content".substr(i * chunkHop + 1, lit(chunkLen)))))
      .where(length(col("col")) > 0)
      .select($"media_id", col("pos").cast("long").as("chunk_idx"),
        length(col("col")).cast("long").as("n_bytes"),
        expr("""aggregate(
          |  transform(sequence(1, length(col)),
          |    i -> CAST((ascii(substring(col, i, 1)) - 32)
          |         * (ascii(substring(col, i, 1)) - 32) AS BIGINT)),
          |  0L, (acc, x) -> acc + x)""".stripMargin).as("sq_sum"))
      .select($"media_id", $"chunk_idx", $"n_bytes",
        expr("(1000 * sq_sum) div n_bytes").as("energy_milli"))
      .withColumn("voiced", expr(s"energy_milli >= $silenceTauMilli"))
    chunks.groupBy($"media_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(!$"voiced", 1L).otherwise(0L)).as("n_silent"),
        min(when($"voiced", $"chunk_idx")).as("first_v"),
        max(when($"voiced", $"chunk_idx")).as("last_v"))
      .select($"media_id", $"n_chunks", $"n_silent",
        coalesce($"first_v" * chunkHop, lit(-1L)).as("trim_start_byte"),
        coalesce($"last_v" * chunkHop + chunkLen, lit(-1L))
          .as("trim_end_byte"))
      .orderBy($"media_id")
  }

  private val q404Oracle = {
    s"""WITH a AS (
       |  SELECT doc_id AS media_id, text AS content FROM documents
       |  WHERE doc_id % 3 = 1
       |  UNION ALL
       |  SELECT -1, repeat(' ', 120)
       |  UNION ALL
       |  SELECT -2, repeat(' ', 64) || trim(repeat('voice ', 12))
       |    || repeat(' ', 70)),
       |ch0 AS (
       |  SELECT media_id,
       |    unnest(range(0, (length(content) - 1) // $chunkHop + 1)) AS i,
       |    content
       |  FROM a),
       |ch AS (
       |  SELECT media_id, CAST(i AS BIGINT) AS chunk_idx,
       |    substr(content, CAST(i * $chunkHop AS INT) + 1, $chunkLen) AS c
       |  FROM ch0
       |  WHERE length(substr(content, CAST(i * $chunkHop AS INT) + 1,
       |    $chunkLen)) > 0),
       |en AS (
       |  SELECT media_id, chunk_idx,
       |    (1000 * CAST(list_sum(list_transform(range(1, length(c) + 1),
       |       i -> CAST((ord(substr(c, CAST(i AS INT), 1)) - 32)
       |            * (ord(substr(c, CAST(i AS INT), 1)) - 32) AS BIGINT)))
       |       AS BIGINT))
       |      // length(c) AS energy_milli
       |  FROM ch),
       |v AS (
       |  SELECT media_id, chunk_idx,
       |    energy_milli >= $silenceTauMilli AS voiced
       |  FROM en)
       |SELECT media_id, CAST(count(*) AS BIGINT) AS n_chunks,
       |  CAST(sum(CASE WHEN voiced THEN 0 ELSE 1 END) AS BIGINT) AS n_silent,
       |  CAST(COALESCE(min(CASE WHEN voiced THEN chunk_idx END) * $chunkHop,
       |    -1) AS BIGINT) AS trim_start_byte,
       |  CAST(COALESCE(max(CASE WHEN voiced THEN chunk_idx END) * $chunkHop
       |    + $chunkLen, -1) AS BIGINT) AS trim_end_byte
       |FROM v GROUP BY media_id ORDER BY media_id""".stripMargin
  }

  // ---------------------------------------------------------------- q316
  /** Conformance thresholds: minimum edge, max aspect ratio (w:h or
    * h:w beyond maxAspect:1 flags), and the declared-dims → minimum
    * payload relation (a real gate compares container header size
    * against pixel count; the stub's stand-in is bytes ≥ w·h/4096). */
  val minEdge = 128
  val maxAspect = 4
  val payloadDivisor = 4096

  /** Media conformance gate — the multimodal twin of q142's tabular
    * contract checks: per media_type, how many items violate each
    * release rule (edge below [[minEdge]], aspect beyond
    * [[maxAspect]]:1, payload too small for the declared dims — the
    * truncated-file signal) and the clean share in ppm. A curator
    * reads this BEFORE a decode fleet runs: a 30%-truncated video
    * source is a source problem, not 10⁹ per-file retries.
    *
    * Scale shape: flags are a pure projection over the media scan
    * (no decode — that's the point: header metadata is enough to
    * gate on), then one map-side-combining agg to media_type grain
    * (3 rows). At 100 TB this is a single scan whose read schema
    * prunes the payload column entirely EXCEPT the length probe —
    * which parquet answers from the column without decoding it. */
  def q316MediaConformance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    media(s, dir).toDF()
      .select($"media_type",
        when($"declared_w" < minEdge || $"declared_h" < minEdge, 1L)
          .otherwise(0L).as("f_small"),
        when($"declared_w" > $"declared_h" * maxAspect ||
             $"declared_h" > $"declared_w" * maxAspect, 1L)
          .otherwise(0L).as("f_aspect"),
        when(length($"payload").cast("long") <
          expr(s"(CAST(declared_w AS BIGINT) * declared_h) div $payloadDivisor"), 1L)
          .otherwise(0L).as("f_short"))
      .groupBy($"media_type")
      .agg(count(lit(1)).as("n_items"),
        sum($"f_small").as("n_too_small"),
        sum($"f_aspect").as("n_extreme_aspect"),
        sum($"f_short").as("n_payload_short"),
        sum(when($"f_small" + $"f_aspect" + $"f_short" === 0L, 1L)
          .otherwise(0L)).as("n_clean"))
      .withColumn("clean_ppm", expr("(1000000 * n_clean) div n_items"))
      .orderBy($"media_type")
  }

  private val q316Oracle =
    s"""WITH m AS (
       |  SELECT
       |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
       |      ELSE 'video' END AS media_type,
       |    CAST(64 + n_chars % 512 AS BIGINT) AS w,
       |    CAST(64 + (n_chars * 7) % 512 AS BIGINT) AS h,
       |    CAST(strlen(text) AS BIGINT) AS nb
       |  FROM documents),
       |f AS (
       |  SELECT media_type,
       |    CASE WHEN w < $minEdge OR h < $minEdge THEN 1 ELSE 0 END AS f_small,
       |    CASE WHEN w > h * $maxAspect OR h > w * $maxAspect
       |      THEN 1 ELSE 0 END AS f_aspect,
       |    CASE WHEN nb < (w * h) // $payloadDivisor THEN 1 ELSE 0 END
       |      AS f_short
       |  FROM m)
       |SELECT media_type, CAST(count(*) AS BIGINT) AS n_items,
       |  CAST(sum(f_small) AS BIGINT) AS n_too_small,
       |  CAST(sum(f_aspect) AS BIGINT) AS n_extreme_aspect,
       |  CAST(sum(f_short) AS BIGINT) AS n_payload_short,
       |  CAST(sum(CASE WHEN f_small + f_aspect + f_short = 0
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
       |  CAST((1000000 * sum(CASE WHEN f_small + f_aspect + f_short = 0
       |    THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS clean_ppm
       |FROM f GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q344
  /** Byte positions sampled per image for the content fingerprint —
    * fixed so the probe cost is constant per image regardless of
    * payload size. */
  val resizeSamples = 64

  /** Letterbox-resize planning + strided content probe for "image"
    * payloads — the stage a decode fleet runs BEFORE any codec: all
    * resize GEOMETRY (downscale-only milli scale factor against the
    * [[targetSize]] model edge, output dims, symmetric-total padding)
    * is integer math on declared header dims, so the planner never
    * touches pixels; the content probe samples [[resizeSamples]]
    * bytes at a payload-proportional stride and hashes them — the
    * cheap stand-in for a perceptual thumbprint (and the real shape
    * of one: fixed probe count per item, cost independent of payload
    * size). Everything is a pure projection over the media scan —
    * no decode, no shuffle, q316's gate-before-fleet discipline
    * extended to the resize plan. The stub hash swaps for a real
    * resize+phash kernel with no plan change (q75's contract). */
  def q344ResizePlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    media(s, dir).toDF()
      .where($"media_type" === "image")
      .select($"media_id", $"payload".cast("string").as("content"),
        $"declared_w".cast("long").as("w"), $"declared_h".cast("long").as("h"))
      .withColumn("scale_milli",
        least(lit(1000L), expr(s"(1000 * $targetSize) div w"),
          expr(s"(1000 * $targetSize) div h")))
      .withColumn("out_w", expr("(w * scale_milli) div 1000"))
      .withColumn("out_h", expr("(h * scale_milli) div 1000"))
      .withColumn("stride",
        greatest(lit(1L), expr(s"CAST(length(content) AS BIGINT) div $resizeSamples")))
      .select($"media_id", $"w", $"h", $"scale_milli", $"out_w", $"out_h",
        (lit(targetSize.toLong) - $"out_w").as("pad_x"),
        (lit(targetSize.toLong) - $"out_h").as("pad_y"),
        md5(array_join(transform(sequence(lit(0), lit(resizeSamples - 1)),
          i => substring($"content", (i * $"stride" + 1).cast("int"), lit(1))), ""))
          .as("sample_hash"))
      .orderBy($"media_id")
  }

  private val q344Oracle =
    s"""WITH m AS (
       |  SELECT doc_id AS media_id, text AS content,
       |    CAST(64 + n_chars % 512 AS BIGINT) AS w,
       |    CAST(64 + (n_chars * 7) % 512 AS BIGINT) AS h
       |  FROM documents WHERE doc_id % 3 = 0),
       |g AS (
       |  SELECT media_id, content, w, h,
       |    LEAST(1000, (1000 * $targetSize) // w, (1000 * $targetSize) // h)
       |      AS scale_milli,
       |    GREATEST(1, length(content) // $resizeSamples) AS stride
       |  FROM m)
       |SELECT media_id, w, h, scale_milli,
       |  (w * scale_milli) // 1000 AS out_w,
       |  (h * scale_milli) // 1000 AS out_h,
       |  $targetSize - (w * scale_milli) // 1000 AS pad_x,
       |  $targetSize - (h * scale_milli) // 1000 AS pad_y,
       |  md5(list_reduce(list_transform(range(0, $resizeSamples),
       |    i -> substr(content, CAST(i * stride AS INT) + 1, 1)),
       |    (a, b) -> a || b)) AS sample_hash
       |FROM g ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- q345
  /** Token budget per packed sequence. */
  val interleaveBudget = 512L
  /** Token cost of one image block in an interleaved sequence (the
    * fixed patch-token count a vision encoder contributes). */
  val imageTokens = 64L
  /** Parallel packing lanes — each lane packs independently. */
  val interleaveBuckets = 8L

  final case class PackUnit(doc_id: Long, bucket: Long, cost: Long)
  final case class PackedUnit(doc_id: Long, bucket: Long, cost: Long,
      seq_in_bucket: Long, start_tok: Long)

  /** Interleaved image+text sequence packing (the MMC4/OBELICS
    * document shape): each document is an ATOMIC unit costing its
    * text tokens plus [[imageTokens]] when it carries an image — and
    * atomicity is exactly what q83's splittable token-stream packing
    * cannot express: an image block must not straddle a sequence
    * boundary, so a unit that would overflow the open sequence
    * CLOSES it (first-fit greedy) instead of spilling. That rule is
    * inherently sequential, so it runs as a SECONDARY-SORT fold:
    * repartition on the lane key, sortWithinPartitions by
    * (lane, doc_id), then one streaming `mapPartitions` pass whose
    * state resets at each lane change — genuinely O(1) state over a
    * lazy iterator, never buffering a lane on-heap (a
    * `flatMapGroups` formulation would `toArray` the lane:
    * corpus/lanes rows in one task's memory at 100 TB). Docs hash
    * across [[interleaveBuckets]] lanes for parallelism; the packing
    * quality loss vs one global lane is the standard shard-local
    * greedy trade, disclosed; lanes scale with cores at 100 TB. A
    * unit larger than the whole budget opens its own oversize
    * sequence rather than being dropped. The oracle replays the fold
    * as a per-lane recursive CTE — same rule, same order, bit-equal
    * placement. */
  def q345InterleavedPack(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val units = Tables.documents(s, dir)
      .select($"doc_id",
        (conv(substring(md5(concat(lit("ipack:"), $"doc_id".cast("string"))),
          1, 4), 16, 10).cast("long") % interleaveBuckets).as("bucket"),
        (size(DedupOps.spansN($"text", 1)).cast("long") +
          when($"doc_id" % 3 === 0, imageTokens).otherwise(0L)).as("cost"))
      .as[PackUnit]
    units
      .repartition(interleaveBuckets.toInt, $"bucket")
      .sortWithinPartitions($"bucket", $"doc_id")
      .mapPartitions { it =>
        // a partition may carry several lanes (hash mod partitions);
        // the sort groups them contiguously, so lane state resets on
        // the bucket change — one O(1)-state pass, iterator stays lazy
        var lane = -1L; var seq = 0L; var off = 0L
        it.map { u =>
          if (u.bucket != lane) { lane = u.bucket; seq = 0L; off = 0L }
          if (off > 0 && off + u.cost > interleaveBudget) { seq += 1; off = 0 }
          val placed = PackedUnit(u.doc_id, u.bucket, u.cost, seq, off)
          off += u.cost
          placed
        }
      }
      .toDF()
      .orderBy($"doc_id")
  }

  private val q345Oracle =
    s"""WITH RECURSIVE d AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5('ipack:' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
       |      % $interleaveBuckets AS bucket,
       |    CAST(len(string_split(lower(text), ' '))
       |      + CASE WHEN doc_id % 3 = 0 THEN $imageTokens ELSE 0 END
       |      AS BIGINT) AS cost,
       |    row_number() OVER (PARTITION BY
       |      ('0x' || substr(md5('ipack:' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
       |      % $interleaveBuckets ORDER BY doc_id) AS rn
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, bucket, cost, rn,
       |    CAST(0 AS BIGINT) AS seq_in_bucket, CAST(0 AS BIGINT) AS start_tok,
       |    cost AS next_off
       |  FROM d WHERE rn = 1
       |  UNION ALL
       |  SELECT d.doc_id, d.bucket, d.cost, d.rn,
       |    CASE WHEN p.next_off > 0 AND p.next_off + d.cost > $interleaveBudget
       |      THEN p.seq_in_bucket + 1 ELSE p.seq_in_bucket END,
       |    CASE WHEN p.next_off > 0 AND p.next_off + d.cost > $interleaveBudget
       |      THEN 0 ELSE p.next_off END,
       |    CASE WHEN p.next_off > 0 AND p.next_off + d.cost > $interleaveBudget
       |      THEN 0 ELSE p.next_off END + d.cost
       |  FROM p JOIN d ON d.bucket = p.bucket AND d.rn = p.rn + 1)
       |SELECT doc_id, bucket, cost, seq_in_bucket, start_tok
       |FROM p ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q360
  /** Hamming tolerance for perceptual near-dup. MUST stay below
    * [[phashBandCount]]: pigeonhole — ≤ tau flipped bits cannot
    * touch all bands, so one band always matches exactly and the
    * banded join has guaranteed recall at the threshold. */
  val phashTau = 3
  val phashBandCount = 4 // 4 bands x 15 bits over the 60-bit hash

  /** The planted perceptual family (q57's plant-in-query device —
    * the synthetic corpus is perceptually uniform, min pairwise
    * Hamming 12, so without plants the operator would never fire):
    * A/B identical (hd 0), C = A with ONE character changed (each
    * char feeds two gradient comparisons ⇒ hd 2 ≤ tau), D = the
    * inverted pattern (every bit differs ⇒ never even a candidate). */
  private[ops] val phashPlants: Seq[(Long, String)] = {
    val a = ("ab" * 30 + "a").take(61)
    Seq((-1L, a), (-2L, a), (-3L, a.updated(30, 'z')), (-4L, ("ba" * 30 + "b").take(61)))
  }

  /** The 60-bit dHash as a SQL expression over payload column `c` —
    * bit i = is byte probe i brighter than probe i+1, over 61
    * payload-proportional strided probes (the dHash gradient idea on
    * the stub decode; a real codec would feed 8×8 luma here, changing
    * no plan shape). ONE definition shared by q360 and q517 so the
    * two operators' hashes can never drift. */
  private[ops] def dhashCol(c: String) = expr(
    s"""aggregate(sequence(0, 59), 0L, (acc, i) ->
       |  acc + IF(ascii(substring($c, 1 + CAST((i * length($c)) div 61 AS INT), 1)) >
       |           ascii(substring($c, 1 + CAST(((i + 1) * length($c)) div 61 AS INT), 1)),
       |           shiftleft(1L, i), 0L))""".stripMargin)

  /** The same dHash as a DuckDB scalar over column `c`. */
  private[ops] def dhashSqlOf(c: String): String =
    s"""(SELECT CAST(sum(CASE WHEN
       |     ord(substr($c, 1 + ((i * length($c)) // 61), 1)) >
       |     ord(substr($c, 1 + (((i + 1) * length($c)) // 61), 1))
       |   THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT)
       | FROM range(0, 60) t(i))""".stripMargin

  /** dHash-style perceptual near-duplicate detection over media
    * payloads — the IMAGE analogue of q67's SimHash text near-dup:
    * a 60-bit difference hash (bit i = is byte probe i brighter than
    * probe i+1, over 61 payload-proportional strided probes — the
    * dHash gradient idea on the stub decode; a real codec would feed
    * 8×8 luma here, changing no plan shape), then a banded
    * Hamming-tolerant self-join: 4×15-bit bands generate candidates
    * (guaranteed recall at tau < bands, the q69 pigeonhole), exact
    * `bit_count(xor)` verifies. Only (id, hash) longs move — pair
    * work scales with band-bucket density, never n²; payloads stay
    * in the scan. */
  def q360PhashNeardup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = phashPlants.toDF("media_id", "text")
    val base = Tables.documents(s, dir)
      .select($"doc_id".as("media_id"), $"text")
      .unionByName(planted)
    // evaluated ONCE (the banded self-join references it twice, and
    // the 60-probe hash dominates the query at sf0.1)
    val hashed = base.select($"media_id", dhashCol("text").as("ph"))
      .localCheckpoint(true)
    val bands = hashed.select($"media_id", $"ph",
        explode(sequence(lit(0), lit(phashBandCount - 1))).as("b"))
      .withColumn("bv", expr("(ph >> (b * 15)) & 32767"))
    val cand = bands.as("l").join(bands.as("r"),
        col("l.b") === col("r.b") && col("l.bv") === col("r.bv") &&
          col("l.media_id") < col("r.media_id"))
      .select(col("l.media_id").as("a"), col("r.media_id").as("b2"),
        col("l.ph").as("pa"), col("r.ph").as("pb"))
      .distinct()
    cand.withColumn("hamming", expr("bit_count(pa ^ pb)").cast("long"))
      .where($"hamming" <= phashTau)
      .select($"a".as("media_a"), $"b2".as("media_b"), $"hamming")
      .orderBy($"media_a", $"media_b")
  }

  private val q360Oracle = {
    val plants = phashPlants
      .map { case (id, t) => s"SELECT CAST($id AS BIGINT) AS media_id, '$t' AS text" }
      .mkString("\n  UNION ALL ")
    s"""WITH base AS (
       |  SELECT doc_id AS media_id, text FROM documents
       |  UNION ALL $plants),
       |h AS (
       |  SELECT media_id, ${dhashSqlOf("text")} AS ph
       |  FROM base),
       |bands AS (
       |  SELECT media_id, ph, b, (ph >> (CAST(b AS INT) * 15)) & 32767 AS bv
       |  FROM h, range(0, $phashBandCount) r(b)),
       |cand AS (
       |  SELECT DISTINCT l.media_id AS a, r.media_id AS b2,
       |    l.ph AS pa, r.ph AS pb
       |  FROM bands l JOIN bands r
       |    ON l.b = r.b AND l.bv = r.bv AND l.media_id < r.media_id)
       |SELECT a AS media_a, b2 AS media_b,
       |  CAST(bit_count(xor(pa, pb)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(pa, pb)) <= $phashTau
       |ORDER BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------- q373
  /** `binaryFile` ingestion — the shape a real multimodal corpus
    * actually arrives in: millions of image/audio objects as
    * INDIVIDUAL FILES on an object store, not rows in a table. The
    * media payloads land as one file per object (executor-parallel
    * write; at scale this directory IS the input, the landing step
    * doesn't exist), then Spark's `binaryFile` source lists and reads
    * them — each file one row of (path, modificationTime, length,
    * content), listing parallelized by the source, payloads read
    * straight into the binary column with no decode. The identity is
    * recovered from the path (the object key carries it — standard
    * object-store layout), and the md5-of-content check proves
    * byte-for-byte ingest fidelity against the documents-derived
    * payload truth the oracle replays. Directory-listing cost at 10⁸
    * files is the known pain point: the production move is fewer,
    * larger container files (tar/parquet-packed payloads — q75's
    * table shape), which is exactly what this ingest feeds. */
  def q373BinaryFileIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = Scratch.dir("graft_binmedia")
      .toString
    media(s, dir).foreachPartition { it: Iterator[MediaRow] =>
      it.foreach { m =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(tmp, f"${m.media_id}%010d.bin"), m.payload)
      }
    }
    s.read.format("binaryFile").load(tmp)
      .select(
        regexp_extract($"path", "([0-9]+)\\.bin$", 1).cast("long")
          .as("media_id"),
        $"length".as("n_bytes"),
        md5($"content").as("checksum"))
      .orderBy($"media_id")
  }

  private val q373Oracle =
    """SELECT doc_id AS media_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
      |  md5(text) AS checksum
      |FROM documents ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- q498
  /** [NS] SCENE-CUT DETECTION over sampled video frames — the
    * shot-boundary pass a VLM training pipeline runs so frame
    * sampling happens PER SHOT, not per fixed stride (one keyframe
    * per shot beats 10 near-identical frames of one static scene):
    * consecutive frames whose 32-bit signature differs by ≥ 8 bits
    * mark a cut (identical/near-identical frames — the static-scene
    * case — differ by 0; independent content sits near the binomial
    * mean of 16), and mean shot length = frames / (cuts + 1). Rides
    * q76's frame extraction; the per-video lag window shuffles only
    * (media_id, idx, 8-byte sig) — frame bytes never move — and
    * each video's frame count bounds its partition. Both engines
    * hex-parse the same md5 prefix and count the same xor bits, so
    * the report is hash-exact. */
  def q498SceneCuts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val frames = q76FrameSample(s, dir)
      .select($"media_id", $"frame_idx",
        expr("cast(conv(substring(frame_hash, 1, 8), 16, 10) as bigint)")
          .as("sig"))
    val w = Window.partitionBy($"media_id").orderBy($"frame_idx")
    frames
      .withColumn("prev", lag($"sig", 1).over(w))
      .withColumn("is_cut",
        when($"prev".isNotNull &&
          expr("bit_count(sig ^ prev)") >= 8, 1L).otherwise(0L))
      .groupBy($"media_id")
      .agg(count(lit(1)).as("n_frames"), sum($"is_cut").as("n_cuts"))
      .select($"media_id", $"n_frames", $"n_cuts",
        expr("n_frames * 1000 div (n_cuts + 1)").as("shot_len_milli"))
      .orderBy($"media_id")
  }

  private val q498Oracle =
    s"""WITH v AS (
       |  SELECT doc_id AS media_id, text AS content FROM documents
       |  WHERE doc_id % 3 = 2 AND length(text) >= $frameLen),
       |f AS (
       |  SELECT media_id, i AS frame_idx,
       |    ('0x' || substr(md5(substr(content,
       |      CAST(i * $frameStride AS INT) + 1, $frameLen)), 1, 8))::BIGINT
       |      AS sig
       |  FROM (
       |    SELECT media_id, content,
       |      unnest(range(0, (length(content) - $frameLen) // $frameStride + 1))
       |        AS i
       |    FROM v)),
       |d AS (
       |  SELECT media_id, sig,
       |    lag(sig) OVER (PARTITION BY media_id ORDER BY frame_idx) AS prev
       |  FROM f)
       |SELECT media_id, CAST(count(*) AS BIGINT) AS n_frames,
       |  CAST(sum(CASE WHEN prev IS NOT NULL AND
       |    bit_count(xor(sig, prev)) >= 8 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_cuts,
       |  CAST(count(*) * 1000 // (sum(CASE WHEN prev IS NOT NULL AND
       |    bit_count(xor(sig, prev)) >= 8 THEN 1 ELSE 0 END) + 1)
       |    AS BIGINT) AS shot_len_milli
       |FROM d GROUP BY media_id ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- q517
  /** The planted poison pairs (q57's plant-in-query device): the
    * first two share a CAPTION but carry perceptually opposite
    * payloads (every gradient bit differs); the second two share a
    * PAYLOAD under different captions. The two families use different
    * gradient periods (`ab` alternation vs `aabb` steps) so they can
    * never near-dup EACH OTHER — each plant fires exactly its own
    * class. */
  private[ops] val pairPlants: Seq[(Long, String, String)] = {
    val a   = ("ab" * 30 + "a").take(61)
    val inv = ("ba" * 30 + "b").take(61)
    val b2  = ("aabb" * 16).take(61)
    Seq(
      (-11L, "a dog on a beach", a),
      (-12L, "a dog on a beach", inv),
      (-21L, "sunset over the bay", b2),
      (-22L, "crowded market street", b2))
  }

  /** PAIR-INTEGRITY audit over (caption, image) training pairs — the
    * web-scraped-pairs poison case a contrastive/caption model
    * pipeline must gate on: alt-text copied verbatim across DIFFERENT
    * images teaches the model a false equivalence, and one image
    * re-hosted under DIFFERENT captions collapses its embedding
    * target. Two classes, composed from the family's own primitives:
    *
    *  - `caption_copied_image_distinct`: pairs sharing an exact
    *    normalized caption (md5 key — the q64 exact-dedup shape)
    *    whose payload dHashes ([[dhashCol]], q360's) disagree beyond
    *    [[phashTau]];
    *  - `image_copied_caption_distinct`: payload near-dups from the
    *    banded Hamming join (q360's 4×15-bit bands — guaranteed
    *    recall at tau, never all-pairs) whose caption keys differ.
    *
    * Scale shape: only (pair_id, 32-byte caption key, 60-bit hash)
    * longs move — captions and payloads stay in the scan. Class 1
    * joins WITHIN caption-key groups (group sizes are the exact-dup
    * distribution; a pathologically hot caption is exactly the
    * boilerplate alt-text a pipeline wants flagged, and AQE skew-join
    * handles its group); class 2 rides the banded join's bucket
    * density. At 100 TB both are the priced q64/q360 shapes — no new
    * shuffle class. */
  def q517PairIntegrity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = pairPlants.toDF("pair_id", "caption", "img")
    val base = Tables.documents(s, dir)
      .select($"doc_id".as("pair_id"),
        TextExprs.lower(substring($"text", 1, 64)).as("caption"),
        $"text".as("img"))
      .unionByName(planted)
    // hashes evaluate ONCE: the frame feeds four join sides (caption
    // pairs l/r, bands l/r), and without the freeze the 60-probe
    // dHash re-computes per reference — at sf0.1 that is 4× the
    // query's dominant cost for identical results
    val hashed = base.select($"pair_id", md5($"caption").as("ck"),
      dhashCol("img").as("ph")).localCheckpoint(true)
    // class 1: same caption key, images beyond tolerance
    val capDup = hashed.as("l").join(hashed.as("r"),
        col("l.ck") === col("r.ck") &&
          col("l.pair_id") < col("r.pair_id"))
      .select(col("l.pair_id").as("pair_a"),
        col("r.pair_id").as("pair_b"),
        col("l.ph").as("pa"), col("r.ph").as("pb"))
      .withColumn("hamming", expr("bit_count(pa ^ pb)").cast("long"))
      .where($"hamming" > phashTau)
      .select(lit("caption_copied_image_distinct").as("cls"),
        $"pair_a", $"pair_b", $"hamming")
    // class 2: banded payload near-dup, caption keys differ
    val bands = hashed.select($"pair_id", $"ck", $"ph",
        explode(sequence(lit(0), lit(phashBandCount - 1))).as("b"))
      .withColumn("bv", expr("(ph >> (b * 15)) & 32767"))
    val imgDup = bands.as("l").join(bands.as("r"),
        col("l.b") === col("r.b") && col("l.bv") === col("r.bv") &&
          col("l.pair_id") < col("r.pair_id"))
      .select(col("l.pair_id").as("pair_a"),
        col("r.pair_id").as("pair_b"),
        col("l.ph").as("pa"), col("r.ph").as("pb"),
        col("l.ck").as("cka"), col("r.ck").as("ckb"))
      .distinct()
      .withColumn("hamming", expr("bit_count(pa ^ pb)").cast("long"))
      .where($"hamming" <= phashTau && $"cka" =!= $"ckb")
      .select(lit("image_copied_caption_distinct").as("cls"),
        $"pair_a", $"pair_b", $"hamming")
    capDup.unionByName(imgDup).orderBy($"cls", $"pair_a", $"pair_b")
  }

  private val q517Oracle = {
    val plants = pairPlants.map { case (id, cap, img) =>
      s"SELECT CAST($id AS BIGINT) AS pair_id, '$cap' AS caption, '$img' AS img"
    }.mkString("\n  UNION ALL ")
    s"""WITH base AS (
       |  SELECT doc_id AS pair_id, lower(substr(text, 1, 64)) AS caption,
       |    text AS img
       |  FROM documents
       |  UNION ALL $plants),
       |h AS (
       |  SELECT pair_id, md5(caption) AS ck, ${dhashSqlOf("img")} AS ph
       |  FROM base),
       |cap AS (
       |  SELECT 'caption_copied_image_distinct' AS cls,
       |    l.pair_id AS pair_a, r.pair_id AS pair_b,
       |    CAST(bit_count(xor(l.ph, r.ph)) AS BIGINT) AS hamming
       |  FROM h l JOIN h r ON l.ck = r.ck AND l.pair_id < r.pair_id
       |  WHERE bit_count(xor(l.ph, r.ph)) > $phashTau),
       |bands AS (
       |  SELECT pair_id, ck, ph, b,
       |    (ph >> (CAST(b AS INT) * 15)) & 32767 AS bv
       |  FROM h, range(0, $phashBandCount) r(b)),
       |img AS (
       |  SELECT DISTINCT 'image_copied_caption_distinct' AS cls,
       |    l.pair_id AS pair_a, r.pair_id AS pair_b,
       |    CAST(bit_count(xor(l.ph, r.ph)) AS BIGINT) AS hamming
       |  FROM bands l JOIN bands r
       |    ON l.b = r.b AND l.bv = r.bv AND l.pair_id < r.pair_id
       |  WHERE bit_count(xor(l.ph, r.ph)) <= $phashTau AND l.ck <> r.ck)
       |SELECT * FROM cap UNION ALL SELECT * FROM img
       |ORDER BY cls, pair_a, pair_b""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q517_pair_integrity" -> (q517PairIntegrity _),
    "q498_scene_cuts" -> (q498SceneCuts _),
    "q373_binaryfile_ingest" -> (q373BinaryFileIngest _),
    "q360_phash_neardup" -> (q360PhashNeardup _),
    "q345_interleaved_pack" -> (q345InterleavedPack _),
    "q344_resize_plan"   -> (q344ResizePlan _),
    "q75_media_features" -> (q75MediaFeatures _),
    "q76_frame_sample"   -> (q76FrameSample _),
    "q123_frame_dedup"   -> (q123FrameDedup _),
    "q404_silence_trim"  -> (q404SilenceTrim _),
    "q315_audio_chunks"  -> (q315AudioChunks _),
    "q316_media_conformance" -> (q316MediaConformance _),
  )

  val oracles: Map[String, String] = Map(
    "q517_pair_integrity" -> q517Oracle,
    "q498_scene_cuts" -> q498Oracle,
    "q404_silence_trim"  -> q404Oracle,
    "q373_binaryfile_ingest" -> q373Oracle,
    "q360_phash_neardup" -> q360Oracle,
    "q345_interleaved_pack" -> q345Oracle,
    "q344_resize_plan"   -> q344Oracle,
    "q75_media_features" -> q75Oracle,
    "q76_frame_sample"   -> q76Oracle,
    "q123_frame_dedup"   -> q123Oracle,
    "q315_audio_chunks"  -> q315Oracle,
    "q316_media_conformance" -> q316Oracle,
  )
}
