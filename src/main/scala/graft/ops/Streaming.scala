package graft.ops

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.TransformWithState
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor, StreamingQueryListener, StreamingQueryProgress, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.sql.graftbridge.SessionBridge
import graft.{GraftSession, Tables}

/** Structured Streaming operator sweep (SURVEY.md §2.2 streaming rows):
  * file source, tumbling/sliding/session event-time windows, watermark
  * + late data, streaming dedup, and arbitrary stateful processing via
  * mapGroupsWithState.
  *
  * Every query runs `Trigger.AvailableNow` over the bounded events
  * table and lands in a memory sink, so its result equals a batch
  * computation and can be DuckDB-oracled (SURVEY.md §7.4 risk 3).
  *
  * Scale notes: the file source's checkpointed listing is the
  * replacement for the reference's GCS→Pub/Sub notification chain; at
  * 100 TB you shard the landing dir by `batch_ts=` partitions and the
  * source lists incrementally. Watermarks bound all stateful operator
  * state (session windows, dedup) so executors don't accumulate
  * unbounded state at scale.
  */
object Streaming {

  private val sinkId = new AtomicInteger(0)

  /** Scratch dirs created by [[scratchDir]] while BUILDING the current
    * query (landing dirs, sentinel parquet, checkpoints), deleted by
    * [[freshBuild]] when that query's build ends, however it ends.
    * Thread-local so parallel test suites can't delete each other's
    * in-flight sources; a 59-query bench session leaks nothing. */
  private[ops] val scratch = ThreadLocal.withInitial(() =>
    scala.collection.mutable.ArrayBuffer.empty[Path])

  /** Input bytes of the stream sources built for the current query
    * (set by [[eventsStream]]), consumed by [[drain]] to size the
    * stateful shuffle. Thread-local for the same reason as
    * [[scratch]]. */
  private[ops] val streamInputBytes = ThreadLocal.withInitial[Long](() => 0L)

  /** A registry entry that owns its build's thread-local state. It
    * starts from zero stream-input bytes ([[drain]] consumes the
    * count, but a build that throws before its drain would otherwise
    * leave it to inflate the next query's state width on this thread)
    * and deletes every scratch dir registered on this thread when the
    * build ends, so a failed query leaves nothing for the next one to
    * delete. No result reads scratch: drained rows live in the memory
    * sink, and foreachBatch queries collect or checkpoint theirs. */
  private[ops] def freshBuild(q: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame = (s, dir) => {
    streamInputBytes.set(0L)
    try q(s, dir)
    finally { val dirs = scratch.get(); dirs.foreach(Scratch.rmTree); dirs.clear() }
  }

  /** A temp dir that [[freshBuild]] deletes when this query's build
    * ends, however it ends; made under [[Scratch.root]], so a delete
    * that fails still goes when the JVM exits. */
  private[ops] def scratchDir(prefix: String): Path = {
    val d = Files.createTempDirectory(Scratch.root, prefix)
    scratch.get() += d
    d
  }

  /** The mtime [[deliver]] stamps on `delivery_0`. */
  private val firstDeliveryMs = 1000000000000L

  /** Land `df` in `landing` as the one flat file `delivery_<i>.parquet`
    * — the reference's ingest contract (stage a batch, then publish it
    * atomically where the loader watches; Extract.land's shape). The
    * file is written in a stage dir inside `landing` (a `_` name, which
    * the file source never lists), renamed into place, and stamped
    * with mtime `firstDeliveryMs + i` minutes: the file source replays
    * by mtime, so `maxFilesPerTrigger=1` reads deliveries in index
    * order, never in write-timing order. The stage dir is deleted
    * before this returns. */
  private[ops] def deliver(landing: Path, i: Int, df: DataFrame): Unit = {
    import scala.jdk.CollectionConverters._
    val stage = landing.resolve(s"_stage_$i")
    try {
      df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val ls = Files.list(stage)
      val part = try ls.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      finally ls.close()
      val dst = Files.move(part, landing.resolve(s"delivery_$i.parquet"))
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(firstDeliveryMs + i * 60000L))
      ()
    } finally Scratch.rmTree(stage)
  }

  /** The state store `transformWithState` requires. */
  private val rocksDb = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Target stream-input bytes per state-store partition. Every
    * stateful-operator partition is a state-store INSTANCE with a
    * fixed per-micro-batch commit cost (delta file + snapshot
    * maintenance + provider bookkeeping) that is paid whether or not
    * the partition holds data, so a partition should own at least
    * tens of MB of stream input to amortize it. r15/r16 measured the
    * cost directly: the interval-join family ran 2.5–7× FASTER at 8
    * cores than at 32 at sf0.1 (PERF_r15 scaling block — state work
    * scaled with shuffle partitions = cpus, not with data). */
  private val statePartitionBytes = 32L * 1024 * 1024

  /** The bounded events stream: the static parquet file re-read as a
    * file-source stream (schema declared, never inferred — the
    * streaming contract), with the nanos→µs conversion of
    * Tables.events applied. */
  private def eventsStream(s: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    // the file source lists a DIRECTORY (at scale: the landing dir,
    // partitioned by batch); locally the table is a single parquet
    // file, so expose it through a symlinked landing dir
    val landing = scratchDir("graft_events_landing_")
    Files.createSymbolicLink(
      landing.resolve("events.parquet"), java.nio.file.Paths.get(path))
    val schema: StructType = s.read.parquet(path).schema
    streamInputBytes.set(streamInputBytes.get() +
      Files.size(java.nio.file.Paths.get(path)))
    val raw = s.readStream.schema(schema).parquet(landing.toString)
    if (schema("ts").dataType == LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }

  /** All fixture event times are Jan 2024 at every sf (TESTDATA.md);
    * this is 2100-01-01T00:00:00Z in µs — safely beyond any of them.
    * A CONSTANT, not max(ts)+1: deriving it from the data would cost
    * a full-table driver-side pre-pass before the stream starts. */
  private val sentinelUs = 4102444800000000L

  /** Materialize `rows` as a one-off parquet dir and re-open it as a
    * file-source stream — the far-future-sentinel idiom (q30–q32,
    * q47): unioning a sentinel row past the event-time domain
    * advances the watermark over every real window/interval, so
    * Append mode flushes all real results on the bounded fixture.
    * The scratch dir is registered for [[freshBuild]]'s cleanup. */
  private def sentinelStream(s: SparkSession, rows: DataFrame): DataFrame = {
    val tmp = scratchDir("graft_sentinel_")
    rows.write.mode("overwrite").parquet(tmp.toString)
    s.readStream.schema(s.read.parquet(tmp.toString).schema).parquet(tmp.toString)
  }

  /** Run a streaming DataFrame into a memory sink until AvailableNow
    * drains, then return the materialized table on `s`. The stream
    * runs on a [[graft.GraftSession.scoped]] clone of `s` carrying
    * this query's state width, plus RocksDB when the plan holds a
    * `transformWithState` (the operator requires it); `s` itself is
    * never changed, so concurrent drains on one session cannot see
    * each other's confs. The sink's temp view is dropped immediately
    * (the returned DataFrame's analyzed plan already holds the sink
    * relation, so results stay readable) — without this, a long
    * bench/verify session accumulates one materialized `graft_mem_N`
    * table per streaming query for its whole life. */
  private def drain(s: SparkSession, df: DataFrame, mode: OutputMode): DataFrame = {
    val name = s"graft_mem_${sinkId.incrementAndGet()}"
    // r16: size the stateful shuffle by the stream's INPUT BYTES, not
    // the session's core count (guide §2: scale-adaptive partitioning,
    // never a constant tuned for local or cluster). Streaming state
    // exchanges are AQE-exempt — shuffle.partitions at query start is
    // the only lever — and each partition is a state-store instance
    // with fixed per-batch commit cost (see statePartitionBytes). At
    // 100 TB, bytes/32 MB vastly exceeds any cluster's
    // defaultParallelism, so the clamp keeps full width; on a small
    // stream the width follows the data instead of paying one store
    // per core. The width is set on the stream's own scoped session,
    // never on `s`.
    val inBytes = streamInputBytes.get()
    streamInputBytes.set(0L)
    val width = if (inBytes <= 0L) Nil else Seq("spark.sql.shuffle.partitions" ->
      math.max(1L, math.min(s.sparkContext.defaultParallelism.toLong,
        (inBytes + statePartitionBytes - 1) / statePartitionBytes)).toString)
    val plan = df.queryExecution.logical
    val store = if (plan.exists(_.isInstanceOf[TransformWithState])) Seq(rocksDb) else Nil
    val scoped = GraftSession.scoped(s, width ++ store: _*)
    SessionBridge.ofRows(scoped, plan).writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
    val out = scoped.table(name)
    scoped.catalog.dropTempView(name)
    SessionBridge.ofRows(s, out.queryExecution.analyzed)
  }

  // ---------------------------------------------------------------- q30
  /** Tumbling 1-day event-time windows (epoch-aligned, so the batch
    * oracle is date_trunc). Append mode + watermark, never Complete:
    * Complete re-emits the entire result every trigger and retains one
    * state row per (window × type) for the stream's whole life —
    * unbounded on a years-long stream. With a watermark, window state
    * is dropped as the watermark passes it, so executor state is
    * bounded by the watermark horizon regardless of stream length;
    * the far-future sentinel (filtered back out — its own window never
    * closes, belt and braces) flushes every real window on the
    * bounded fixture so the result still equals the batch oracle. */
  def q30Tumbling(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = eventsStream(s, dir).select($"ts", $"event_type", $"value")
    val sentinel = sentinelStream(s, s.range(1).select(
      timestamp_micros(lit(sentinelUs)).as("ts"),
      lit("sentinel").as("event_type"), lit(0.0).as("value")))
    val agg = base.union(sentinel)
      .withWatermark("ts", "1 minute")
      .groupBy(window($"ts", "1 day"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast("decimal(12,2)")).cast("double").as("sum_value"))
      .select($"window.start".as("day"), $"event_type", $"n_events", $"sum_value")
    drain(s, agg, OutputMode.Append())
      .filter($"day" < timestamp_micros(lit(sentinelUs)))
      .orderBy($"day", $"event_type")
  }

  private val q30Oracle =
    """SELECT date_trunc('day', ts) AS day, event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin

  // ---------------------------------------------------------------- q31
  /** Sliding windows (6h length, 3h step): every event lands in exactly
    * two windows; the oracle materializes both shifted buckets. Same
    * append+watermark+sentinel shape as q30 (state bounded by the
    * watermark horizon, not stream length); the sentinel lands in TWO
    * sliding windows, so the cutoff filter sits below both. */
  def q31Sliding(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = eventsStream(s, dir).select($"ts", $"event_type")
    val sentinel = sentinelStream(s, s.range(1).select(
      timestamp_micros(lit(sentinelUs)).as("ts"), lit("sentinel").as("event_type")))
    val agg = base.union(sentinel)
      .withWatermark("ts", "1 minute")
      .groupBy(window($"ts", "6 hours", "3 hours"), $"event_type")
      .agg(count(lit(1)).as("n_events"))
      .select($"window.start".as("w_start"), $"event_type", $"n_events")
    drain(s, agg, OutputMode.Append())
      // both sentinel windows start at or after sentinelUs - 3h
      .filter($"w_start" < timestamp_micros(lit(sentinelUs - 10800000000L)))
      .orderBy($"w_start", $"event_type")
  }

  private val q31Oracle =
    """WITH e AS (SELECT epoch_us(ts) AS us, event_type FROM events),
      |b AS (
      |  SELECT make_timestamp(us // 10800000000 * 10800000000) AS w_start, event_type FROM e
      |  UNION ALL
      |  SELECT make_timestamp(us // 10800000000 * 10800000000 - 10800000000) AS w_start, event_type FROM e)
      |SELECT w_start, event_type, COUNT(*) AS n_events
      |FROM b GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin

  // ---------------------------------------------------------------- q32
  /** Session windows (30-min gap) per user, append mode + watermark.
    * Append withholds sessions the watermark hasn't passed, so a
    * far-future sentinel event (filtered back out) advances the
    * watermark and flushes every real session — the bounded-stream
    * idiom for exact batch equivalence. */
  def q32SessionWindows(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = eventsStream(s, dir).select($"user_id", $"ts", $"value")
    val sentinel = sentinelStream(s, s.range(1).select(lit(-1L).as("user_id"),
      timestamp_micros(lit(sentinelUs)).as("ts"), lit(0.0).as("value")))
    val agg = base.union(sentinel)
      .withWatermark("ts", "1 minute")
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast("decimal(12,2)")).cast("double").as("sum_value"))
      .select($"user_id", $"session_window.start".as("session_start"),
        $"session_window.end".as("session_end"), $"n_events", $"sum_value")
    drain(s, agg, OutputMode.Append())
      .filter($"user_id" >= 0)
      .orderBy($"user_id", $"session_start")
  }

  private val q32Oracle =
    """WITH o AS (
      |  SELECT user_id, ts, value, event_id,
      |    CASE WHEN LAG(ts) OVER w IS NULL
      |           OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                           ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM o)
      |SELECT user_id, MIN(ts) AS session_start,
      |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM sess GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  // ---------------------------------------------------------------- q33
  /** Streaming dedup under watermark: the stream unioned with itself
    * simulates the reference's at-least-once redelivery duplicates
    * (SURVEY.md §2.3); dropDuplicates restores exactly-once output.
    * State is pruned by the watermark at scale. */
  def q33StreamDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val once  = eventsStream(s, dir)
    val twice = once.union(eventsStream(s, dir)) // independent second scan
    val deduped = twice
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")
      .select($"event_id", $"event_type", $"value")
    drain(s, deduped, OutputMode.Append()).orderBy($"event_id")
  }

  private val q33Oracle =
    """SELECT event_id, event_type, value FROM events ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q194
  /** Streaming dedup with BOUNDED state:
    * `dropDuplicatesWithinWatermark` keeps a key's dedup state only
    * until the watermark passes its event time + delay, where q33's
    * plain `dropDuplicates` holds every key it has ever seen for the
    * stream's whole life — on an unbounded id-carrying stream that
    * state grows forever, and this operator is the API Spark added
    * (3.5+) to fix exactly that. The semantic trade is explicit:
    * duplicates are only suppressed if redelivered WITHIN the
    * watermark delay — the at-least-once redelivery window a real
    * bus (the reference's Pub/Sub, SURVEY §2.3) actually guarantees —
    * so the fixture's immediate self-union redelivery dedupes
    * completely and the oracle is the exact distinct. A late
    * redelivery BEYOND the delay would pass through; the downstream
    * q114-style batch dedup is the standard second line. */
  def q194DedupWithinWatermark(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val once  = eventsStream(s, dir)
    val twice = once.union(eventsStream(s, dir))
    val deduped = twice
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .select($"event_id", $"event_type", $"value")
    drain(s, deduped, OutputMode.Append()).orderBy($"event_id")
  }

  // ---------------------------------------------------------------- q34
  /** Arbitrary stateful processing (mapGroupsWithState): per-user
    * max inter-event gap in µs — the KeyValueGroupedDataset custom
    * state path the built-in operators can't express.
    *
    * State is O(1) per key — `(n_events, lastTs, maxGap)` — never a
    * growing collection: at 100 TB a per-user Seq of every timestamp
    * is exactly the unbounded-state failure mode watermarks exist to
    * prevent. Each batch sorts only its own rows (bounded by trigger
    * size) and folds them into the constant-size state; events
    * arriving in later triggers must be ts-ordered w.r.t. the state's
    * lastTs (the file source delivers batches in order). An
    * out-of-order batch FAILS FAST instead of silently under-
    * reporting gaps (negative deltas would vanish into math.max) — a
    * producer without that guarantee needs a watermark-sized buffer.
    * StreamingSpec unit-drives [[foldGaps]] across two ordered
    * batches and pins both the fold and the fail-fast. */
  private[ops] def foldGaps(uid: Long, rows: Iterator[(Long, Long)],
      state: GroupState[(Long, Long, Long)]): (Long, Long, Long) = {
    val batch = rows.map(_._2).toArray
    java.util.Arrays.sort(batch)
    val (n0, last0, gap0) = state.getOption.getOrElse((0L, Long.MinValue, 0L))
    if (batch.nonEmpty && last0 != Long.MinValue && batch(0) < last0)
      throw new IllegalStateException(
        s"out-of-order batch for key $uid: batch min ${batch(0)} precedes " +
          s"state lastTs $last0 — buffer out-of-order producers by the watermark")
    var last = last0
    var gap = gap0
    var i = 0
    while (i < batch.length) {
      if (last != Long.MinValue) gap = math.max(gap, batch(i) - last)
      last = batch(i)
      i += 1
    }
    val n = n0 + batch.length
    state.update((n, last, gap))
    (uid, n, gap)
  }

  def q34StatefulGaps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val typed: Dataset[(Long, Long)] = eventsStream(s, dir)
      .select($"user_id", unix_micros($"ts").as("ts_us"))
      .as[(Long, Long)]
    val result = typed
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(foldGaps _)
      .toDF("user_id", "n_events", "max_gap_us")
    drain(s, result, OutputMode.Update()).orderBy($"user_id")
  }

  private val q34Oracle =
    """WITH d AS (
      |  SELECT user_id,
      |    epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS gap
      |  FROM events)
      |SELECT user_id, COUNT(*) AS n_events,
      |  COALESCE(MAX(gap), 0) AS max_gap_us
      |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q35
  /** Session gap in µs shared by q35's state fold and its Scaladoc. */
  private val sessionGapUs = 30L * 60 * 1000 * 1000

  /** Batch fold for q35: split one key's sorted timestamps into
    * gap-delimited sessions, emit one (uid, start, end, n) row per
    * session. O(1) state (lastTs) with the same out-of-order
    * fail-fast as [[foldGaps]] — plus a session-continuation guard:
    * a batch whose first event falls WITHIN the gap of state lastTs
    * would extend a session this operator already emitted (Append
    * mode can't retract), so that case fails fast too rather than
    * silently splitting one session into two. A producer that can
    * deliver mid-session batch boundaries needs the
    * keep-open-session-in-state + event-time-timeout formulation. */
  private[ops] def foldSessions(uid: Long, rows: Iterator[(Long, Long)],
      state: GroupState[Long]): Iterator[(Long, Long, Long, Long)] = {
    val batch = rows.map(_._2).toArray
    java.util.Arrays.sort(batch)
    if (batch.nonEmpty && state.exists && batch(0) < state.get)
      throw new IllegalStateException(
        s"out-of-order batch for key $uid: batch min ${batch(0)} precedes " +
          s"state lastTs ${state.get} — buffer out-of-order producers by the watermark")
    if (batch.nonEmpty && state.exists && batch(0) - state.get <= sessionGapUs)
      throw new IllegalStateException(
        s"session-spanning batch boundary for key $uid: batch min ${batch(0)} is " +
          s"within the session gap of state lastTs ${state.get}, but that session " +
          "was already emitted — buffer by the gap or emit sessions on timeout")
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    var start = 0
    var i = 1
    while (i <= batch.length) {
      if (i == batch.length || batch(i) - batch(i - 1) > sessionGapUs) {
        out += ((uid, batch(start), batch(i - 1), (i - start).toLong))
        start = i
      }
      i += 1
    }
    if (batch.nonEmpty) state.update(batch(batch.length - 1))
    out.iterator
  }

  /** Sessionization via flatMapGroupsWithState — MULTI-row emission
    * per group per trigger, which mapGroupsWithState (q34: exactly one
    * row per group) cannot express. Splits each user's events into
    * 30-minute-gap sessions: (user_id, session_start, session_end =
    * last event ts, n_events). Same custom-state sessionization the
    * built-in session_window runs in q32, so the oracle is the same
    * recursive-gap SQL shape — the point here is the arbitrary-state
    * operator surface.
    *
    * The bounded single-file source delivers each key's events in one
    * batch, so every session closes within the invocation; a
    * continuous producer would keep the open session in state and
    * emit it on event-time timeout once the watermark passes
    * session_end + gap. */
  def q35FlatMapSessions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val typed: Dataset[(Long, Long)] = eventsStream(s, dir)
      .select($"user_id", unix_micros($"ts").as("ts_us"))
      .as[(Long, Long)]
    val sessions = typed
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(foldSessions _)
      .toDF("user_id", "start_us", "end_us", "n_events")
      .select($"user_id",
        timestamp_micros($"start_us").as("session_start"),
        timestamp_micros($"end_us").as("session_end"),
        $"n_events")
    drain(s, sessions, OutputMode.Append()).orderBy($"user_id", $"session_start")
  }

  private val q35Oracle =
    """WITH o AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN LAG(ts) OVER w IS NULL
      |           OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                           ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM o)
      |SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
      |  COUNT(*) AS n_events
      |FROM sess GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  // ---------------------------------------------------------------- q44
  /** Stream-stream interval join: per-user view→purchase attribution
    * within one hour — the two-sided-state streaming operator class
    * (q30–q35 are all single-input). Both sides buffer rows in state;
    * Spark derives each side's state retention from the watermark +
    * the time-range join condition, so at 100 TB a view is evicted
    * one hour after the watermark passes it — state is bounded by
    * (arrival rate × interval), never by stream length. Shuffles
    * both sides by user_id once; the bounded AvailableNow drain makes
    * the inner-join output equal the batch interval join, which is
    * the oracle. */
  def q44StreamStreamJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val views = eventsStream(s, dir)
      .where($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), $"ts".as("view_ts"))
      .withWatermark("view_ts", "1 minute")
    val purchases = eventsStream(s, dir)
      .where($"event_type" === "purchase")
      .select($"user_id".as("p_uid"), $"event_id".as("purchase_id"),
        $"ts".as("purchase_ts"), $"value".as("purchase_value"))
      .withWatermark("purchase_ts", "1 minute")
    val joined = views.join(purchases,
      $"user_id" === $"p_uid" &&
        $"purchase_ts" >= $"view_ts" &&
        $"purchase_ts" <= $"view_ts" + expr("INTERVAL 1 HOUR"))
      .select($"user_id", $"view_id", $"purchase_id",
        $"view_ts", $"purchase_ts", $"purchase_value")
    drain(s, joined, OutputMode.Append())
      .orderBy($"user_id", $"view_id", $"purchase_id")
  }

  private val q44Oracle =
    """SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
      |  v.ts AS view_ts, p.ts AS purchase_ts, p.value AS purchase_value
      |FROM events v JOIN events p
      |  ON v.user_id = p.user_id
      | AND v.event_type = 'view' AND p.event_type = 'purchase'
      | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
      |ORDER BY 1, 2, 3""".stripMargin

  // ---------------------------------------------------------------- q47
  /** Stream-stream LEFT OUTER interval join: q44's attribution with
    * unconverted views preserved as NULL rows. Outer results can only
    * be emitted once the watermark proves no future match can arrive,
    * so both sides get a far-future sentinel row (q32's bounded-
    * stream idiom — the global watermark is the MIN across inputs,
    * hence BOTH sides need one): the watermark then passes every real
    * view's interval and all unmatched views flush. The sentinel
    * view/purchase are >1h apart so they can't match each other, and
    * both filter out on user_id >= 0. Same bounded state story as
    * q44. */
  def q47StreamLeftJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sentinel = sentinelStream(s, s.range(2).select(
      (lit(-1L) - $"id").as("event_id"),
      // second sentinel a day later: outside the 1h join interval
      timestamp_micros(lit(sentinelUs) + $"id" * 86400000000L).as("ts"),
      lit(-1L).as("user_id"),
      element_at(array(lit("view"), lit("purchase")), ($"id" + 1).cast("int")).as("event_type"),
      lit(0.0).as("value")))
    val all = eventsStream(s, dir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .union(sentinel.select($"event_id", $"ts", $"user_id", $"event_type", $"value"))
    val views = all.where($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), $"ts".as("view_ts"))
      .withWatermark("view_ts", "1 minute")
    val purchases = all.where($"event_type" === "purchase")
      .select($"user_id".as("p_uid"), $"event_id".as("purchase_id"),
        $"ts".as("purchase_ts"), $"value".as("purchase_value"))
      .withWatermark("purchase_ts", "1 minute")
    val joined = views.join(purchases,
      $"user_id" === $"p_uid" &&
        $"purchase_ts" >= $"view_ts" &&
        $"purchase_ts" <= $"view_ts" + expr("INTERVAL 1 HOUR"),
      "left_outer")
      .select($"user_id", $"view_id", $"purchase_id", $"purchase_value")
    drain(s, joined, OutputMode.Append())
      .filter($"user_id" >= 0)
      .orderBy($"user_id", $"view_id", $"purchase_id".asc_nulls_first)
  }

  private val q47Oracle =
    """SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
      |  p.value AS purchase_value
      |FROM (SELECT * FROM events WHERE event_type = 'view') v
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON v.user_id = p.user_id
      | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
      |ORDER BY 1, 2, 3 NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- q310
  /** Stream-stream FULL OUTER interval join — the last member of the
    * q44/q47 family: q44 keeps matches, q47 additionally preserves
    * unconverted views; this also preserves ORPHAN PURCHASES (no
    * view within the preceding hour) as NULL-view rows — the side a
    * funnel auditor reads for attribution holes (purchases arriving
    * with no recorded impression: lost telemetry, direct traffic).
    * Mechanics are q47's with both outer directions: each side's
    * unmatched rows flush once the watermark proves no partner can
    * arrive, so BOTH sides need the far-future sentinel (the global
    * watermark is the MIN across inputs); user_id coalesces across
    * sides because either can be NULL now. Same bounded two-sided
    * state as q44 — retention = interval, never stream length. */
  def q310StreamFullOuterJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sentinel = sentinelStream(s, s.range(2).select(
      (lit(-1L) - $"id").as("event_id"),
      // second sentinel a day later: outside the 1h join interval
      timestamp_micros(lit(sentinelUs) + $"id" * 86400000000L).as("ts"),
      lit(-1L).as("user_id"),
      element_at(array(lit("view"), lit("purchase")), ($"id" + 1).cast("int")).as("event_type"),
      lit(0.0).as("value")))
    val all = eventsStream(s, dir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .union(sentinel.select($"event_id", $"ts", $"user_id", $"event_type", $"value"))
    val views = all.where($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), $"ts".as("view_ts"))
      .withWatermark("view_ts", "1 minute")
    val purchases = all.where($"event_type" === "purchase")
      .select($"user_id".as("p_uid"), $"event_id".as("purchase_id"),
        $"ts".as("purchase_ts"), $"value".as("purchase_value"))
      .withWatermark("purchase_ts", "1 minute")
    val joined = views.join(purchases,
      $"user_id" === $"p_uid" &&
        $"purchase_ts" >= $"view_ts" &&
        $"purchase_ts" <= $"view_ts" + expr("INTERVAL 1 HOUR"),
      "full_outer")
      .select(coalesce($"user_id", $"p_uid").as("uid"),
        $"view_id", $"purchase_id", $"purchase_value")
    drain(s, joined, OutputMode.Append())
      .filter($"uid" >= 0)
      .select($"uid".as("user_id"), $"view_id", $"purchase_id",
        $"purchase_value")
      .orderBy($"user_id", $"view_id".asc_nulls_first,
        $"purchase_id".asc_nulls_first)
  }

  private val q310Oracle =
    """SELECT COALESCE(v.user_id, p.user_id) AS user_id,
      |  v.event_id AS view_id, p.event_id AS purchase_id,
      |  p.value AS purchase_value
      |FROM (SELECT * FROM events WHERE event_type = 'view') v
      |FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON v.user_id = p.user_id
      | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
      |ORDER BY 1, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- q358
  /** Stream-stream LEFT SEMI interval join — the membership form of
    * the q44/q47/q310 family: each view that CONVERTED (≥1 purchase
    * within the following hour) emits exactly ONCE, carrying only
    * view columns — the "qualified leads" feed where q44 would fan a
    * view out once per matching purchase and force a downstream
    * dedup with per-key state. Spark's semi join marks the buffered
    * left row matched in state and emits it a single time; state
    * retention is the same interval-bounded story as q44 (a view is
    * droppable one hour + delay past the watermark). Sentinels ride
    * on both sides (q47's device — the global watermark is the min
    * across inputs) so the bounded drain flushes everything; they
    * filter out on user_id. The oracle is the EXISTS form — the
    * correlated-subquery semantics this operator streams. */
  def q358StreamSemiJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sentinel = sentinelStream(s, s.range(2).select(
      (lit(-1L) - $"id").as("event_id"),
      timestamp_micros(lit(sentinelUs) + $"id" * 86400000000L).as("ts"),
      lit(-1L).as("user_id"),
      element_at(array(lit("view"), lit("purchase")), ($"id" + 1).cast("int")).as("event_type"),
      lit(0.0).as("value")))
    val all = eventsStream(s, dir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .union(sentinel.select($"event_id", $"ts", $"user_id", $"event_type", $"value"))
    val views = all.where($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), $"ts".as("view_ts"))
      .withWatermark("view_ts", "1 minute")
    val purchases = all.where($"event_type" === "purchase")
      .select($"user_id".as("p_uid"), $"event_id".as("purchase_id"),
        $"ts".as("purchase_ts"))
      .withWatermark("purchase_ts", "1 minute")
    val joined = views.join(purchases,
      $"user_id" === $"p_uid" &&
        $"purchase_ts" >= $"view_ts" &&
        $"purchase_ts" <= $"view_ts" + expr("INTERVAL 1 HOUR"),
      "left_semi")
    drain(s, joined, OutputMode.Append())
      .filter($"user_id" >= 0)
      .select($"user_id", $"view_id", $"view_ts")
      .orderBy($"user_id", $"view_id")
  }

  private val q358Oracle =
    """SELECT v.user_id, v.event_id AS view_id, v.ts AS view_ts
      |FROM events v
      |WHERE v.event_type = 'view' AND EXISTS (
      |  SELECT 1 FROM events p
      |  WHERE p.user_id = v.user_id AND p.event_type = 'purchase'
      |    AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR)
      |ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q87
  /** Stream-static join: the event stream enriched against a STATIC
    * dimension (customer → market segment) before a windowed
    * aggregate — the standard streaming-enrichment shape (clicks ×
    * user table, requests × model registry). The static side is
    * `broadcast()`: stateless for the stream (nothing joins "later",
    * so no join state at all — unlike q44/q47's two-sided interval
    * state) and re-resolved per micro-batch, which is also how dim
    * updates become visible. At 100 TB/day of events the stream side
    * still only shuffles on the window-agg keys; the dim ships once
    * per executor per batch. Same append+watermark+sentinel drain as
    * q30, so aggregate state stays watermark-bounded. */
  def q87StreamStaticJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dim = broadcast(Tables.customer(s, dir)
      .select($"c_custkey", $"c_mktsegment"))
    val enriched = eventsStream(s, dir).select($"ts", $"user_id", $"value")
      .join(dim, $"user_id" === $"c_custkey")
      .select($"ts", $"c_mktsegment".as("segment"), $"value")
    val sentinel = sentinelStream(s, s.range(1).select(
      timestamp_micros(lit(sentinelUs)).as("ts"),
      lit("sentinel").as("segment"), lit(0.0).as("value")))
    val agg = enriched.union(sentinel)
      .withWatermark("ts", "1 minute")
      .groupBy(window($"ts", "1 day"), $"segment")
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast("decimal(12,2)")).cast("double").as("sum_value"))
      .select($"window.start".as("day"), $"segment", $"n_events", $"sum_value")
    drain(s, agg, OutputMode.Append())
      .filter($"day" < timestamp_micros(lit(sentinelUs)))
      .orderBy($"day", $"segment")
  }

  private val q87Oracle =
    """SELECT date_trunc('day', ts) AS day, c_mktsegment AS segment,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY 1, 2 ORDER BY day, segment""".stripMargin

  // ---------------------------------------------------------------- q121
  /** Streaming admission dedup — q114's content gate as a STATEFUL
    * STREAM: every delivery's docs are fingerprinted and checked
    * against all previously admitted content, exactly what the
    * 6-hourly ingestion loop runs continuously. Two identical
    * deliveries land as separate files; `maxFilesPerTrigger=1` makes
    * each its own micro-batch, and flatMapGroupsWithState keyed by
    * fingerprint carries the seen-set ACROSS batches: the first
    * delivery admits one doc per fingerprint (min doc_id; in-batch
    * twins → `dup_in_batch`), the second is rejected wholesale as
    * `dup_prior_delivery`. The oracle encodes that separation — if
    * both files collapsed into one batch the second copy would
    * classify as `dup_in_batch` and the hash would fail, so batch
    * isolation itself is oracle-verified. In-batch duplicates are
    * planted in-query (every 21st doc shares one boilerplate
    * string — q114's device). State is one boolean per fingerprint;
    * a production stream bounds it with an event-time timeout or by
    * compacting admitted fingerprints into the stored table
    * (etl/Load's content-dedup path). */
  def q121StreamAdmission(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = s"$dir/documents.parquet"
    val landing = scratchDir("graft_docs_landing_")
    Seq("delivery_a.parquet", "delivery_b.parquet").foreach { n =>
      Files.createSymbolicLink(
        landing.resolve(n), java.nio.file.Paths.get(path))
    }
    val schema = s.read.parquet(path).schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(landing.toString)
    val fps = stream.select($"doc_id",
      md5(when($"doc_id" % 21 === 0, lit("batch boilerplate duplicate"))
        .otherwise($"text")).as("fp")).as[(Long, String)]
    val verdicts = fps.groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[(Long, String)], state: GroupState[Boolean]) =>
          val ids = rows.map(_._1).toSeq.sorted
          if (!state.exists) {
            state.update(true)
            Iterator((ids.head, "admitted")) ++
              ids.tail.iterator.map((_, "dup_in_batch"))
          } else ids.iterator.map((_, "dup_prior_delivery"))
      }.toDF("doc_id", "verdict")
    drain(s, verdicts, OutputMode.Append()).orderBy($"doc_id", $"verdict")
  }

  private val q121Oracle =
    """WITH f AS (
      |  SELECT doc_id,
      |    md5(CASE WHEN doc_id % 21 = 0 THEN 'batch boilerplate duplicate'
      |             ELSE text END) AS fp
      |  FROM documents),
      |m AS (SELECT fp, min(doc_id) AS keeper FROM f GROUP BY fp)
      |SELECT doc_id,
      |  CASE WHEN doc_id = keeper THEN 'admitted'
      |       ELSE 'dup_in_batch' END AS verdict
      |FROM f JOIN m USING (fp)
      |UNION ALL
      |SELECT doc_id, 'dup_prior_delivery' FROM f
      |ORDER BY doc_id, verdict""".stripMargin

  // ---------------------------------------------------------------- q144
  /** Incremental materialized-view maintenance — the streaming side
    * of q90's merge: per-type count/sum aggregates kept current by
    * MERGING each micro-batch's partial aggregate into the view,
    * never rescanning history. Count and fixed-point micro-unit sums
    * are SELF-MERGING aggregates (associative + commutative), the
    * algebra class incremental views need no retraction logic for;
    * exact integers make the merged result bit-equal to a full
    * recompute — which is precisely what the oracle runs, so
    * "incremental ≡ recompute" is hash-proven on every run.
    *
    * The fixture stages the events table as two disjoint deliveries
    * (even/odd event_id); `maxFilesPerTrigger=1` forces one
    * micro-batch each, and the emitted `n_batches=2` column pins
    * that the result really was built by two successive merges —
    * a single collapsed batch would hash-fail the pin. At scale the
    * per-batch partial aggregate is map-sided, the view table is
    * group-cardinality, and history is never re-read: the property
    * that makes a 6-hourly 100 TB feed maintainable. */
  def q144IncrementalMv(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val landing = scratchDir("graft_mv_landing_")
    val ev = s.read.parquet(s"$dir/events.parquet")
    Seq(0, 1).foreach(par => deliver(landing, par, ev.where($"event_id" % 2 === par)))
    val stream = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(landing.toString)
    var mv: DataFrame = null
    var nBatches = 0
    val q = stream
      .select($"event_type",
        expr("CAST(round(value * 1000000D) AS BIGINT)").as("vq"))
      .writeStream.outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val delta = batch.groupBy("event_type")
          .agg(count(lit(1)).as("n_events"), sum("vq").as("sum_value_micro"))
        mv = (if (mv == null) delta
              else mv.unionByName(delta).groupBy("event_type")
                .agg(sum("n_events").as("n_events"),
                  sum("sum_value_micro").as("sum_value_micro")))
          .localCheckpoint(true)
        nBatches += 1
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    mv.select($"event_type", $"n_events", $"sum_value_micro",
        lit(nBatches).as("n_batches"))
      .orderBy($"event_type")
  }

  // ---------------------------------------------------------------- q388
  /** Stream⋈dimension with PER-BATCH dimension refresh — the
    * slowly-changing-dimension-in-flight pattern q87 cannot express:
    * q87's stream-static join resolves the static side ONCE at plan
    * time, so a dimension updated mid-stream keeps serving stale
    * rows until restart. The foreachBatch formulation re-reads the
    * dimension SNAPSHOT inside every micro-batch (one dimension-
    * sized broadcast per batch — the production cost model: dim read
    * amortizes over the batch, stream side never re-plans), so
    * enrichment always reflects the dimension as-of the batch.
    * The fixture upgrades the dimension between the two deliveries
    * (purchase recategorizes cold → hot after batch 0 commits), and
    * the output carries (delivery, category) so the oracle proves
    * batch 1 joined the NEW snapshot — the exact behavior the
    * static-join formulation fails. Emissions are batch-aggregate
    * grain (q240's collect discipline). */
  def q388DimRefresh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val landing = scratchDir("graft_dimr_landing_")
    val dimDir = scratchDir("graft_dimr_dim_")
    val ev = s.read.parquet(s"$dir/events.parquet")
    Seq(0, 1).foreach(par => deliver(landing, par, ev.where($"event_id" % 2 === par)))
    val types = ev.select($"event_type").distinct()
    def writeDim(hot: Boolean): Unit =
      types.select($"event_type",
        (if (hot) when($"event_type" === "purchase", "hot").otherwise("cold")
         else lit("cold")).as("category"))
        .coalesce(1).write.mode("overwrite").parquet(dimDir.toString)
    writeDim(hot = false)
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, Long)]
    val q = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(landing.toString)
      .select($"event_type")
      .writeStream.outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val dim = s.read.parquet(dimDir.toString) // fresh snapshot
        rows ++= batch.join(broadcast(dim), "event_type")
          .groupBy($"event_type", $"category")
          .agg(count(lit(1)).as("n"))
          .collect()
          .map(r => (id, r.getString(0), r.getString(1), r.getLong(2)))
        if (id == 0L) writeDim(hot = true) // the mid-stream dim upgrade
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    rows.toSeq.toDF("delivery", "event_type", "category", "n_events")
      .orderBy($"delivery", $"event_type")
  }

  private val q388Oracle =
    """SELECT CAST(0 AS BIGINT) AS delivery, event_type,
      |  'cold' AS category, CAST(count(*) AS BIGINT) AS n_events
      |FROM events WHERE event_id % 2 = 0 GROUP BY 2
      |UNION ALL
      |SELECT 1, event_type,
      |  CASE WHEN event_type = 'purchase' THEN 'hot' ELSE 'cold' END,
      |  count(*)
      |FROM events WHERE event_id % 2 = 1 GROUP BY 2, 3
      |ORDER BY delivery, event_type""".stripMargin

  private val q144Oracle =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
      |    AS sum_value_micro,
      |  2 AS n_batches
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q158
  /** Incremental decayed trending — q144's merge loop with a decay
    * weight, the "what's hot now" view every feed keeps: each event
    * contributes `count >> (lastDay − eventDay)` (halving per day of
    * age), so scores are dominated by the trailing week and old
    * volume fades without ever re-scanning history.
    *
    * The design point: decay anchors to EVENT TIME against a fixed
    * horizon, not to processing order — so each delivery's
    * contribution is computable from that delivery alone, the merge
    * stays commutative/associative (q144's self-merging algebra),
    * and late or re-ordered deliveries cannot change the result.
    * Per-batch floors are well-defined because the contribution
    * grain is (type, day) and a day lands wholly in one weekly
    * delivery. All integer: count then right-shift, so the merged
    * score is bit-equal to the oracle's one-shot recompute, and the
    * emitted per-week batch count pins that the stream really ran
    * one micro-batch per delivery. State is group-cardinality (one
    * row per type); history is never re-read. */
  def q158DecayedTrending(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = graft.Tables.events(s, dir)
      .select($"event_type", to_date($"ts").as("day"))
    val d0 = ev.agg(min($"day")).head().getDate(0)
    val staged = ev.select($"event_type",
      datediff($"day", lit(d0)).as("day_idx"))
    val dMax = staged.agg(max($"day_idx")).head().getInt(0)
    val weeks = staged.select(($"day_idx" / 7).cast("int").as("wk"))
      .distinct().orderBy($"wk").collect().map(_.getInt(0))
    val landing = scratchDir("graft_trend_landing_")
    weeks.foreach(wk => deliver(landing, wk,
      staged.where($"day_idx" >= wk * 7 && $"day_idx" < (wk + 1) * 7)))
    val stream = s.readStream
      .schema(s.read.parquet(landing.toString).schema)
      .option("maxFilesPerTrigger", 1).parquet(landing.toString)
    var mv: DataFrame = null
    var nBatches = 0
    val q = stream.writeStream.outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val delta = batch.groupBy("event_type", "day_idx")
          .agg(count(lit(1)).as("n"))
          .select(col("event_type"),
            expr(s"shiftright(n, CAST($dMax - day_idx AS INT))")
              .as("trend_score"))
          .groupBy("event_type")
          .agg(sum("trend_score").as("trend_score"))
        mv = (if (mv == null) delta
              else mv.unionByName(delta).groupBy("event_type")
                .agg(sum("trend_score").as("trend_score")))
          .localCheckpoint(true)
        nBatches += 1
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    mv.select($"event_type", $"trend_score", lit(nBatches).as("n_batches"))
      .orderBy($"event_type")
  }

  private val q158Oracle =
    """WITH d AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day
      |  FROM events),
      |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM d),
      |c AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS n
      |      FROM d GROUP BY 1, 2),
      |k AS (SELECT CAST(count(DISTINCT (day - d0) // 7) AS INT) AS n_batches
      |      FROM d, b)
      |SELECT event_type,
      |  CAST(sum(n >> CAST(d1 - day AS INT)) AS BIGINT) AS trend_score,
      |  (SELECT n_batches FROM k) AS n_batches
      |FROM c, b GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q177
  /** The q177 processor: per-user running (count, micro-sum) in a
    * typed ValueState, one emission per (user, delivery). Class-level
    * (not an anonymous closure) so the serialized processor carries
    * no enclosing-scope references. */
  private class RunningTotalsProcessor
      extends StatefulProcessor[Long, (Long, Long), (Long, Long, Long)] {
    @transient private var totals: ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[(Long, Long)]("totals",
        org.apache.spark.sql.Encoders.product[(Long, Long)], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timers: TimerValues): Iterator[(Long, Long, Long)] = {
      var (n, sv) = if (totals.exists()) totals.get() else (0L, 0L)
      rows.foreach { r => n += 1; sv += r._2 }
      totals.update((n, sv))
      Iterator((key, n, sv))
    }
  }

  /** Cross-delivery running totals via `transformWithState` — the
    * Spark 4 arbitrary-state API (typed `StatefulProcessor` with
    * named state variables on the RocksDB state store), successor to
    * q34/q35's [flat]mapGroupsWithState: state is declared per
    * VARIABLE (value/list/map) instead of one opaque case class,
    * which is what lets the store TTL/evict per variable and scale
    * state beyond executor heap. Semantics here: each user's
    * (event count, micro-value sum) accumulates across deliveries,
    * emitting the running totals once per delivery the user appears
    * in — q144 maintains that view RELATIONALLY in foreachBatch;
    * this maintains it as OPERATOR STATE, the shape to reach for
    * when per-key logic stops being an algebra (caps, resets,
    * per-key decisions) and q144's merge stops expressing it.
    *
    * The fixture stages two disjoint deliveries (even/odd event_id,
    * mtime-ordered, `maxFilesPerTrigger=1` — q144's device), so
    * every user with events in both emits twice and the second row
    * proves state survived the batch boundary. State is per-user
    * (two longs); the oracle replays both emissions relationally.
    * RocksDB is the required provider for this API — `drain` runs
    * every `transformWithState` stream on a session scoped to it
    * (checkpoint state lives on executors / local disk at scale, the
    * point of the RocksDB backend). */
  def q177TransformWithState(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val landing = scratchDir("graft_tws_landing_")
    val ev = s.read.parquet(s"$dir/events.parquet")
    Seq(0, 1).foreach(par => deliver(landing, par, ev.where($"event_id" % 2 === par)))
    val stream = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(landing.toString)
      .select($"user_id", expr("CAST(round(value * 1000000D) AS BIGINT)").as("vq"))
      .as[(Long, Long)]
    val out = stream.groupByKey(_._1)
      .transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Append())
    drain(s, out.toDF("user_id", "n_so_far", "sum_so_far_micro"),
      OutputMode.Append())
      .orderBy($"user_id", $"n_so_far")
  }

  private val q177Oracle =
    """WITH ev AS (
      |  SELECT user_id, event_id,
      |    CAST(round(value * 1000000) AS BIGINT) AS vq
      |  FROM events),
      |e AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(vq) AS BIGINT) AS sv
      |  FROM ev WHERE event_id % 2 = 0 GROUP BY 1),
      |a AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(vq) AS BIGINT) AS sv
      |  FROM ev GROUP BY 1),
      |has_odd AS (SELECT DISTINCT user_id FROM ev WHERE event_id % 2 = 1)
      |SELECT user_id, n AS n_so_far, sv AS sum_so_far_micro FROM e
      |UNION ALL
      |SELECT a.user_id, a.n, a.sv FROM a JOIN has_odd USING (user_id)
      |ORDER BY user_id, n_so_far""".stripMargin

  // ---------------------------------------------------------------- q179
  /** q179's processor: open session in a ValueState, closed sessions
    * emitted either by an in-batch gap or by an EVENT-TIME TIMER
    * once the watermark passes session end + gap — the
    * keep-open-session-in-state + emit-on-timeout formulation that
    * [[foldSessions]]'s fail-fast Scaladoc names as the
    * production-grade alternative (q35 must throw on a
    * session-spanning batch boundary because Append cannot retract;
    * with timers the session simply stays open until the watermark
    * PROVES no more events can join it). Stale timers (superseded by
    * a later event extending the session) are not deleted but
    * guarded: the expiry handler re-checks against the CURRENT
    * session end and emits nothing for an obsolete timer. */
  private class TimeoutSessionProcessor
      extends StatefulProcessor[Long, (Long, Long), (Long, Long, Long, Long)] {
    @transient private var open: ValueState[(Long, Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[(Long, Long, Long)]("open",
        org.apache.spark.sql.Encoders.product[(Long, Long, Long)],
        TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timers: TimerValues): Iterator[(Long, Long, Long, Long)] = {
      val batch = rows.map(_._2).toArray
      java.util.Arrays.sort(batch)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      var (st, en, n) = if (open.exists()) open.get() else (-1L, -1L, 0L)
      batch.foreach { t =>
        if (st == -1L) { st = t; en = t; n = 1L }
        else if (t - en > sessionGapUs) {
          out += ((key, st, en, n)); st = t; en = t; n = 1L
        } else { en = math.max(en, t); n += 1L }
      }
      if (st != -1L) {
        open.update((st, en, n))
        getHandle.registerTimer(en / 1000L + sessionGapUs / 1000L + 1L)
      }
      out.iterator
    }
    override def handleExpiredTimer(key: Long, timers: TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[(Long, Long, Long, Long)] = {
      if (!open.exists()) Iterator.empty
      else {
        val (st, en, n) = open.get()
        // a timer registered for an OLDER session end is obsolete if
        // later events extended the session past it
        if (info.getExpiryTimeInMs < en / 1000L + sessionGapUs / 1000L + 1L)
          Iterator.empty
        else { open.clear(); Iterator((key, st, en, n)) }
      }
    }
  }

  /** Timeout-emitted sessionization via `transformWithState` +
    * event-time timers: q35's semantics WITHOUT its
    * session-spanning-batch fail-fast — the open session waits in
    * state and is emitted only when the watermark passes
    * `end + gap`, so mid-session delivery boundaries are handled
    * instead of rejected. The far-future sentinel (its own dummy
    * key, filtered out) advances the watermark so every real
    * session's timer fires on the bounded fixture; Spark's no-data
    * micro-batch then flushes the tail. State per user is three
    * longs + pending timers; at scale RocksDB holds both off-heap
    * and the watermark bounds timer lifetime. Oracle: the identical
    * gap-session SQL as q35 — two different streaming formulations,
    * one batch truth. */
  def q179TimeoutSessions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    timeoutSessionsOf(s, Seq(ev.select($"user_id", $"ts")))
  }

  /** The timer pipeline on explicit (user_id, ts) DELIVERIES — each
    * staged as its own mtime-ordered file so `maxFilesPerTrigger=1`
    * replays them as separate micro-batches. Separated so the spec
    * can deliver a session SPLIT across two batches: the exact input
    * [[foldSessions]] (q35) must fail fast on, and the one this
    * formulation exists to handle. */
  private[ops] def timeoutSessionsOf(s: SparkSession,
      deliveries: Seq[DataFrame]): DataFrame = {
    import s.implicits._
    val landing = scratchDir("graft_tmo_landing_")
    // TWO sentinel deliveries after the real ones: the first advances
    // the watermark past every real session; the second exists so one
    // more micro-batch RUNS with that advanced watermark —
    // AvailableNow terminates after the last file, so timers made
    // fireable by delivery N only get a chance to fire while
    // processing delivery N+1
    val sentinels = Seq(sentinelUs, sentinelUs + 86400L * 1000000L).map { ts =>
      s.range(1).select(lit(-1L).as("user_id"),
        timestamp_micros(lit(ts)).as("ts"))
    }
    (deliveries ++ sentinels).zipWithIndex.foreach { case (df, i) =>
      deliver(landing, i, df.select($"user_id", $"ts".cast("timestamp").as("ts")))
    }
    val schema = s.read.parquet(landing.toString).schema
    val raw = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(landing.toString)
    val typed = raw
      .withWatermark("ts", "0 seconds")
      .select($"user_id", unix_micros($"ts").as("ts_us"))
      .as[(Long, Long)]
    val sessions = typed.groupByKey(_._1)
      .transformWithState(new TimeoutSessionProcessor,
        TimeMode.EventTime(), OutputMode.Append())
    drain(s,
      sessions.toDF("user_id", "start_us", "end_us", "n_events")
        .where($"user_id" >= 0L)
        .select($"user_id",
          timestamp_micros($"start_us").as("session_start"),
          timestamp_micros($"end_us").as("session_end"),
          $"n_events"),
      OutputMode.Append())
      .orderBy($"user_id", $"session_start")
  }

  // ---------------------------------------------------------------- q181
  /** q181's processor: per-user MAP state (event_type → count). The
    * third state-variable kind (q177 Value, q179 Value+timers, here
    * Map): map entries read/write INDIVIDUALLY against the store, so
    * a user with a thousand counters touches only the entries a
    * batch updates — the reason MapState exists instead of a
    * case-class-of-everything ValueState, which deserializes whole
    * per update. Emits the updated entries (only those) per batch. */
  private class TypeCountsProcessor
      extends StatefulProcessor[Long, (Long, String), (Long, String, Long)] {
    @transient private var counts: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
        timers: TimerValues): Iterator[(Long, String, Long)] = {
      val touched = scala.collection.mutable.LinkedHashSet.empty[String]
      rows.foreach { case (_, et) =>
        val cur = if (counts.containsKey(et)) counts.getValue(et) else 0L
        counts.updateValue(et, cur + 1L)
        touched += et
      }
      touched.iterator.map(et => (key, et, counts.getValue(et)))
    }
  }

  /** Per-(user, event-type) running counts via MapState — the
    * per-entry state surface: each delivery emits the updated
    * counters only, so downstream consumers get a CHANGELOG of the
    * profile rather than full re-emissions (the q180-compactable
    * shape). Two parity deliveries (q177's device) prove entries
    * accumulate across batches; the oracle replays both emission
    * waves relationally. */
  def q181MapStateProfile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val landing = scratchDir("graft_map_landing_")
    val ev = s.read.parquet(s"$dir/events.parquet")
    Seq(0, 1).foreach(par => deliver(landing, par, ev.where($"event_id" % 2 === par)))
    val stream = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(landing.toString)
      .select($"user_id", $"event_type").as[(Long, String)]
    val out = stream.groupByKey(_._1)
      .transformWithState(new TypeCountsProcessor,
        TimeMode.None(), OutputMode.Append())
    drain(s, out.toDF("user_id", "event_type", "n_so_far"),
      OutputMode.Append())
      .orderBy($"user_id", $"event_type", $"n_so_far")
  }

  private val q181Oracle =
    """WITH e AS (
      |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
      |  FROM events WHERE event_id % 2 = 0 GROUP BY 1, 2),
      |a AS (
      |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |has_odd AS (
      |  SELECT DISTINCT user_id, event_type FROM events WHERE event_id % 2 = 1)
      |SELECT user_id, event_type, n AS n_so_far FROM e
      |UNION ALL
      |SELECT a.user_id, a.event_type, a.n
      |FROM a JOIN has_odd USING (user_id, event_type)
      |ORDER BY user_id, event_type, n_so_far""".stripMargin

  // ---------------------------------------------------------------- q182
  /** How many most-recent events the q182 feature keeps per user. */
  val recentK = 3

  /** q182's processor: the user's last [[recentK]] events in a
    * ListState — the third state-variable kind (q177 Value, q181
    * Map): list entries APPEND without deserializing the existing
    * list, the shape for bounded event buffers; the trim-to-k pass
    * only runs when the key actually receives rows. */
  private class RecentEventsProcessor
      extends StatefulProcessor[Long, (Long, Long, Long, String), (Long, Seq[String])] {
    @transient private var recent: ListState[(Long, Long, String)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      recent = getHandle.getListState[(Long, Long, String)]("recent",
        org.apache.spark.sql.Encoders.product[(Long, Long, String)],
        TTLConfig.NONE)
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, Long, String)],
        timers: TimerValues): Iterator[(Long, Seq[String])] = {
      val merged = (recent.get().toSeq ++
        rows.map(r => (r._2, r._3, r._4)).toSeq)
        .sortBy(t => (t._1, t._2)).takeRight(recentK)
      recent.put(merged.toArray)
      Iterator((key, merged.map(_._3)))
    }
  }

  /** Per-user recent-activity feature (last [[recentK]] event types,
    * event-time ordered) maintained in ListState and re-emitted per
    * delivery — the online feature-store shape: a serving layer
    * reads the latest emission per user, and the per-delivery rows
    * are its changelog. Parity deliveries (q177's device) prove the
    * buffer carries across batches: the delivery-2 emission must
    * interleave delivery-1 events with the new ones wherever event
    * time dictates, which a stateless per-batch window could not
    * produce. Oracle replays both emissions from the parity split. */
  def q182RecentFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val landing = scratchDir("graft_rf_landing_")
    val ev = s.read.parquet(s"$dir/events.parquet")
    Seq(0, 1).foreach(par => deliver(landing, par, ev.where($"event_id" % 2 === par)))
    val schema = ev.schema
    val raw = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(landing.toString)
    val tsUs = if (schema("ts").dataType == LongType) expr("ts div 1000")
      else unix_micros(col("ts"))
    val stream = raw
      .select($"user_id", tsUs.as("tus"), $"event_id", $"event_type")
      .as[(Long, Long, Long, String)]
    val out = stream.groupByKey(_._1)
      .transformWithState(new RecentEventsProcessor,
        TimeMode.None(), OutputMode.Append())
    // '|'-joined buffer (≥1 entry per emission, so never the empty
    // array where Spark "" and DuckDB NULL would diverge): the
    // driver's comparator hashes scalar cells, not arrays.
    drain(s, out.toDF("user_id", "recent_types"), OutputMode.Append())
      .select($"user_id", concat_ws("|", $"recent_types").as("recent_types"))
      .orderBy($"user_id", $"recent_types")
  }

  private val q182Oracle =
    s"""WITH ev AS (
       |  SELECT user_id, epoch_us(ts) AS tus, event_id, event_type
       |  FROM events),
       |le AS (
       |  SELECT user_id,
       |    list_transform(
       |      list_sort(list({'tus': tus, 'event_id': event_id,
       |                      'event_type': event_type})),
       |      e -> e.event_type) AS types
       |  FROM ev WHERE event_id % 2 = 0 GROUP BY user_id),
       |la AS (
       |  SELECT user_id,
       |    list_transform(
       |      list_sort(list({'tus': tus, 'event_id': event_id,
       |                      'event_type': event_type})),
       |      e -> e.event_type) AS types
       |  FROM ev GROUP BY user_id),
       |has_odd AS (SELECT DISTINCT user_id FROM ev WHERE event_id % 2 = 1)
       |SELECT user_id,
       |  array_to_string(
       |    types[greatest(1, len(types) - ${recentK - 1}):len(types)], '|')
       |    AS recent_types
       |FROM le
       |UNION ALL
       |SELECT la.user_id,
       |  array_to_string(
       |    types[greatest(1, len(types) - ${recentK - 1}):len(types)], '|')
       |FROM la JOIN has_odd USING (user_id)
       |ORDER BY user_id, recent_types""".stripMargin

  // ---------------------------------------------------------------- q184
  /** q184's processor: q177's running totals, but the state is SEEDED
    * from a batch-computed dataset via handleInitialState before any
    * stream row arrives. */
  private class BootstrappedTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        Long, (Long, Long), (Long, Long, Long), (Long, Long, Long)] {
    @transient private var totals: ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[(Long, Long)]("totals",
        org.apache.spark.sql.Encoders.product[(Long, Long)], TTLConfig.NONE)
    override def handleInitialState(key: Long, initial: (Long, Long, Long),
        timers: TimerValues): Unit =
      totals.update((initial._2, initial._3))
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timers: TimerValues): Iterator[(Long, Long, Long)] = {
      var (n, sv) = if (totals.exists()) totals.get() else (0L, 0L)
      rows.foreach { r => n += 1; sv += r._2 }
      totals.update((n, sv))
      Iterator((key, n, sv))
    }
  }

  /** State bootstrap via `transformWithState` + initial state: the
    * migration/backfill handoff every stateful stream eventually
    * needs — history already sits in a TABLE (or a replaced job's
    * checkpoint can't be reused), and the new streaming query must
    * start from those totals, not from zero, without replaying the
    * archive through the stream. Here the even-delivery half of
    * events is the "historical table": its per-user totals are
    * computed in BATCH, handed to the processor as the initial-state
    * dataset, and the stream processes ONLY the odd delivery — each
    * user's single emission must equal whole-history totals, which
    * is only possible if handleInitialState seeded the ValueState.
    * Same oracle rows as q177's second emission wave. */
  def q184BootstrappedState(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val landing = scratchDir("graft_bs_landing_")
    val ev = s.read.parquet(s"$dir/events.parquet")
    // only the odd half streams; the even half is "history"
    deliver(landing, 1, ev.where($"event_id" % 2 === 1))
    val history = ev.where($"event_id" % 2 === 0)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(value * 1000000D) AS BIGINT)")).as("sv"))
      .select($"user_id", $"n", $"sv".cast("long"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
    val stream = s.readStream.schema(ev.schema).parquet(landing.toString)
      .select($"user_id", expr("CAST(round(value * 1000000D) AS BIGINT)").as("vq"))
      .as[(Long, Long)]
    val out = stream.groupByKey(_._1)
      .transformWithState(new BootstrappedTotalsProcessor,
        TimeMode.None(), OutputMode.Append(), history)
    drain(s, out.toDF("user_id", "n_total", "sum_total_micro"),
      OutputMode.Append())
      .orderBy($"user_id")
  }

  private val q184Oracle =
    """WITH ev AS (
      |  SELECT user_id, event_id,
      |    CAST(round(value * 1000000) AS BIGINT) AS vq
      |  FROM events),
      |has_odd AS (SELECT DISTINCT user_id FROM ev WHERE event_id % 2 = 1)
      |SELECT a.user_id, CAST(count(*) AS BIGINT) AS n_total,
      |  CAST(sum(vq) AS BIGINT) AS sum_total_micro
      |FROM ev a JOIN has_odd USING (user_id)
      |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin

  // ---------------------------------------------------------------- q221
  /** Per-bucket capacity of the q221 space-saving summaries. */
  private[ops] val ssCapacity = 512
  /** Bucket fan-out for the q221 heavy-hitter partitioning. */
  private[ops] val ssBuckets = 8L

  /** q221's processor: one space-saving summary (Metwally et al.
    * 2005) per hash bucket in MapState[item → (count, overcount)].
    * A new item beyond capacity REPLACES the current minimum —
    * (min-count asc, item asc), a deterministic total order — and
    * inherits its count as `est = min+1, err = min`: the classic
    * guarantee est − err ≤ true ≤ est, and any item with true count
    * > N_bucket/capacity is retained. Batch rows fold in ascending
    * `seq` order (buffered + sorted — batch-bounded memory) so
    * eviction sequences replay identically run to run; without
    * eviction the fold is order-free and the sort is pure hygiene.
    * State is CAPACITY-bounded per bucket — the point: top-k over an
    * unbounded stream in O(buckets × capacity) state, vs q181's
    * per-key-unbounded profile map. */
  private class SpaceSavingProcessor(capacity: Int)
      extends StatefulProcessor[Long, (Long, Long, Long), (Long, Long, Long, Long)] {
    @transient private var counts: MapState[Long, (Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[Long, (Long, Long)]("counts",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.product[(Long, Long)], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long)],
        timers: TimerValues): Iterator[(Long, Long, Long, Long)] = {
      rows.toArray.sortBy(_._3).foreach { case (_, item, _) =>
        if (counts.containsKey(item)) {
          val (c, e) = counts.getValue(item)
          counts.updateValue(item, (c + 1L, e))
        } else {
          val entries = counts.iterator().toArray
          if (entries.length < capacity) counts.updateValue(item, (1L, 0L))
          else {
            val (minItem, (minC, _)) =
              entries.minBy { case (it, (c, _)) => (c, it) }
            counts.removeKey(minItem)
            counts.updateValue(item, (minC + 1L, minC))
          }
        }
      }
      counts.iterator().map { case (it, (c, e)) => (key, it, c, e) }
    }
  }

  /** Streaming heavy hitters with BOUNDED state — the q33/q194 story
    * told for aggregation instead of dedup: exact streaming counts
    * (q181) hold one state entry per distinct key forever, which an
    * unbounded id-carrying stream turns into unbounded state; the
    * space-saving summary caps state at buckets × capacity entries
    * while guaranteeing every sufficiently-frequent item survives
    * with a bracketed estimate. Buckets partition items by hash so
    * the summaries shard across executors and merge losslessly (an
    * item lives in exactly one bucket); the final batch-side cut is
    * the global top 10 by (est desc, item) total order.
    *
    * On this fixture per-bucket cardinality sits under the 512-entry
    * capacity, so every estimate is EXACT with zero overcount and
    * the relational top-10 is the oracle; the eviction path is
    * regression-pinned by the spec's skewed planted stream (the cap
    * is real, not decoration — same posture as q65's bucket cap). */
  def q221StreamHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val landing = scratchDir("graft_ss_landing_")
    val ev = s.read.parquet(s"$dir/events.parquet")
    deliver(landing, 0, ev)
    val stream = s.readStream.schema(ev.schema)
      .parquet(landing.toString)
      .select(($"user_id" % ssBuckets).as("bucket"), $"user_id", $"event_id")
      .as[(Long, Long, Long)]
    val out = stream.groupByKey(_._1)
      .transformWithState(new SpaceSavingProcessor(ssCapacity),
        TimeMode.None(), OutputMode.Append())
    drain(s, out.toDF("bucket", "item", "est_count", "max_overcount"),
      OutputMode.Append())
      .orderBy($"est_count".desc, $"item").limit(10)
      .select($"item", $"est_count", $"max_overcount")
  }

  private val q221Oracle =
    """SELECT user_id AS item, CAST(count(*) AS BIGINT) AS est_count,
      |  CAST(0 AS BIGINT) AS max_overcount
      |FROM events GROUP BY 1
      |ORDER BY est_count DESC, item LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q240
  /** q240's processor: q177's running totals with a PROCESSING-TIME
    * TTL on the state variable — the state-hygiene knob the
    * arbitrary-state API exists for: a key silent longer than the
    * TTL has its state evicted by the STORE (no per-key timer code,
    * no manual sweep), which is what keeps an unbounded-key stream's
    * state bounded by its ACTIVE key set. TTL requires
    * TimeMode.ProcessingTime. */
  private class TtlTotalsProcessor(ttlMs: Long)
      extends StatefulProcessor[Long, (Long, Long), (Long, Long, Long)] {
    @transient private var totals: ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[(Long, Long)]("totals",
        org.apache.spark.sql.Encoders.product[(Long, Long)],
        TTLConfig(java.time.Duration.ofMillis(ttlMs)))
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timers: TimerValues): Iterator[(Long, Long, Long)] = {
      var (n, sv) = if (totals.exists()) totals.get() else (0L, 0L)
      rows.foreach { r => n += 1; sv += r._2 }
      totals.update((n, sv))
      Iterator((key, n, sv))
    }
  }

  /** State TTL across a stop/restart boundary — q177 proves state
    * SURVIVES deliveries; this proves the opposite discipline: with
    * an 800 ms TTL and a forced >1.5 s quiet period between
    * deliveries (stop, sleep, redeliver, resume from the SAME
    * checkpoint), every user's delivery-1 state has expired by
    * delivery 2, so second-wave emissions restart from zero —
    * delivery-2-only counts, which is exactly what the oracle
    * asserts (vs q177's cumulative second wave). The restart runs
    * through a real checkpoint (foreachBatch sink — the
    * recovery-capable sink — RocksDB state store), i.e. the
    * operational shape of a deployed job picking up after downtime
    * longer than its retention. Expiry is deterministic here
    * because the quiet period strictly exceeds the TTL; the spec
    * pins the contrast against q177 directly. */
  def q240TtlState(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val landing = scratchDir("graft_ttl_landing_")
    val cp = scratchDir("graft_ttl_cp_")
    val ev = s.read.parquet(s"$dir/events.parquet")
    val rows = new scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]
    // the stream runs its own restart loop, not drain(), so it is
    // built on its own RocksDB-scoped session
    val rs = GraftSession.scoped(s, rocksDb)
    def runOnce(): Unit = {
      val stream = rs.readStream.schema(ev.schema).parquet(landing.toString)
        .select($"user_id", expr("CAST(round(value * 1000000D) AS BIGINT)"))
        .as[(Long, Long)]
        .groupByKey(_._1)
        .transformWithState(new TtlTotalsProcessor(800L),
          TimeMode.ProcessingTime(), OutputMode.Append())
        .toDF("user_id", "n_so_far", "sum_so_far_micro")
      // NOT AvailableNow, and NOT processAllAvailable(): a
      // processing-time-mode stateful operator reports "another batch
      // required" after EVERY batch (it must keep ticking to advance
      // the TTL clock), so both no-more-work exits never latch — the
      // probe run committed 330+ empty ticks. Termination here is
      // COMMIT-driven, not output-driven: foreachBatch appends its
      // rows BEFORE the checkpoint commit log records the batch, so
      // stopping on first output can kill the query in that window —
      // the next runOnce() then REPLAYS the delivery against fresh
      // state (foreachBatch is at-least-once), duplicating the first
      // wave and never reading the second (observed exactly once
      // under heavy box load). Progress events post only after the
      // commit lands, so the progress of the batch that CONSUMED the
      // delivery — the file source's end offset moved past its start
      // offset — makes stop() safe. That holds for a delivery of zero
      // rows too, which an input-row count would wait on forever. A
      // deadline turns a wedged stream into a loud failure, and the
      // stream stops however the wait ends.
      val q = stream.writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          val batch = df.collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          rows.synchronized { rows ++= batch }
          ()
        }
        .option("checkpointLocation", cp.toString)
        .start()
      val deadline = System.nanoTime() + 120L * 1000000000L
      def consumed(p: StreamingQueryProgress): Boolean =
        p.sources.exists(src => src.endOffset != null && src.endOffset != src.startOffset)
      try while (!q.recentProgress.exists(consumed)) {
        if (System.nanoTime() > deadline)
          throw new IllegalStateException("q240 delivery batch never committed")
        Thread.sleep(100)
      } finally q.stop()
      q.awaitTermination()
    }
    deliver(landing, 0, ev.where($"event_id" % 2 === 0)); runOnce()
    // strictly exceeds the 800 ms TTL. ~4× margin rather than 2×:
    // the test's correctness rides on wall-clock gaps, and one
    // full-suite run on a heavily loaded box flaked at 1600 ms —
    // the wider quiet period keeps the expiry unambiguous under
    // scheduler contention without meaningfully slowing the suite
    Thread.sleep(3000)
    deliver(landing, 1, ev.where($"event_id" % 2 === 1)); runOnce()
    rows.toSeq.toDF("user_id", "n_so_far", "sum_so_far_micro")
      .orderBy($"user_id", $"n_so_far", $"sum_so_far_micro")
  }

  private val q240Oracle =
    """WITH ev AS (
      |  SELECT user_id, event_id,
      |    CAST(round(value * 1000000) AS BIGINT) AS vq
      |  FROM events),
      |waves AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(vq) AS BIGINT) AS sv
      |  FROM ev WHERE event_id % 2 = 0 GROUP BY user_id
      |  UNION ALL
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(vq) AS BIGINT) AS sv
      |  FROM ev WHERE event_id % 2 = 1 GROUP BY user_id)
      |SELECT user_id, n AS n_so_far, sv AS sum_so_far_micro
      |FROM waves ORDER BY user_id, n_so_far, sum_so_far_micro""".stripMargin

  // ---------------------------------------------------------------- q298
  /** DYNAMIC-gap session windows — the Structured Streaming feature
    * q32's fixed 30 minutes can't express: the gap is an expression
    * of the event itself (a purchase "closes" its session after
    * 5 minutes; browsing keeps it open for 30), so each event
    * extends its session to ts + gap(event) and sessions are the
    * merged intervals. Same append/watermark/sentinel idiom as q32;
    * the oracle is the classic interval-island fold with per-row
    * interval ends — MAX(ts+g) over the prefix, break when the next
    * event starts strictly after it (touching merges, q32's pinned
    * boundary semantics). [[dynamicSessionsOf]] runs the identical
    * aggregation on a BATCH frame (session_window works in both
    * modes) so the spec can pin the merge boundary planted-exactly.
    *
    * Scale shape: one keyed shuffle; session state is
    * watermark-bounded per key, never stream-length. */
  def q298DynamicSessions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = eventsStream(s, dir)
      .select($"user_id", $"ts", $"event_type")
    val sentinel = sentinelStream(s, s.range(1)
      .select(lit(-1L).as("user_id"),
        timestamp_micros(lit(sentinelUs)).as("ts"),
        lit("view").as("event_type")))
    val agg = dynamicSessionsOf(base.union(sentinel)
      .withWatermark("ts", "1 minute"))
    drain(s, agg, OutputMode.Append())
      .filter($"user_id" >= 0)
      .orderBy($"user_id", $"session_start")
  }

  /** The dynamic-gap aggregation on any (user_id, ts, event_type)
    * frame — batch or stream. */
  private[ops] def dynamicSessionsOf(ev: DataFrame): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    val gap = when($"event_type" === "purchase", lit("5 minutes"))
      .otherwise(lit("30 minutes"))
    ev.groupBy(session_window($"ts", gap), $"user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(when($"event_type" === "purchase", 1L).otherwise(0L))
          .as("n_purchases"))
      .select($"user_id", $"session_window.start".as("session_start"),
        $"session_window.end".as("session_end"), $"n_events",
        $"n_purchases")
  }

  private val q298Oracle =
    """WITH e AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN event_type = 'purchase' THEN INTERVAL 5 MINUTE
      |         ELSE INTERVAL 30 MINUTE END AS g
      |  FROM events),
      |m AS (
      |  SELECT user_id, ts, event_id, g,
      |    MAX(ts + g) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      |  FROM e),
      |o AS (
      |  SELECT *, CASE WHEN pmax IS NULL OR ts > pmax THEN 1 ELSE 0 END
      |    AS brk
      |  FROM m),
      |sess AS (
      |  SELECT *, SUM(brk) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM o)
      |SELECT user_id, MIN(ts) AS session_start,
      |  MAX(ts + g) AS session_end, COUNT(*) AS n_events,
      |  CAST(SUM(CASE WHEN g = INTERVAL 5 MINUTE THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_purchases
      |FROM sess GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  // ---------------------------------------------------------------- q397
  /** Longest wait for a finished audit's termination event to reach
    * its listener: a guard against a wedged listener bus, never a
    * pacing delay. */
  private val auditWedgeSeconds = 60L

  /** Run `pipe` into a memory sink under `Trigger.AvailableNow` and
    * return `probe` of each of its progress events it is defined at,
    * in arrival order, as a `StreamingQueryListener` saw them while
    * the query ran. The
    * listener bus delivers asynchronously but in FIFO order, and a
    * run's `QueryTerminatedEvent` is posted after its last progress
    * event, so once the listener has seen this run's termination it
    * has seen every batch: there is no poll and no expected batch
    * count, and a delivery of zero rows ends as fast as a full one.
    * The bounded wait only turns a wedged bus into a loud failure.
    * The run is told apart from other streams on the session by its
    * `runId`, taken from its own start event (posted before any of
    * its progress). The listener and the sink's temp view are removed
    * however the run ends. */
  private def progressAudit[T](pipe: DataFrame)(
      probe: PartialFunction[StreamingQueryProgress, T]): Seq[T] = {
    import scala.jdk.CollectionConverters._
    import StreamingQueryListener._
    val s = pipe.sparkSession
    val name = s"graft_mem_${sinkId.incrementAndGet()}"
    val runId = new AtomicReference[java.util.UUID]()
    val ended = new CountDownLatch(1)
    val seen = new ConcurrentLinkedQueue[T]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        if (e.name == name) runId.set(e.runId)
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.runId == runId.get) probe.lift(e.progress).foreach(seen.add)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (e.runId == runId.get) ended.countDown()
    }
    s.streams.addListener(listener)
    try {
      pipe.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
      if (!ended.await(auditWedgeSeconds, TimeUnit.SECONDS))
        throw new IllegalStateException(
          s"$name: no termination event on the listener bus after $auditWedgeSeconds s")
    } finally {
      s.streams.removeListener(listener)
      s.catalog.dropTempView(name)
    }
    seen.asScala.toSeq
  }

  /** Streaming progress audit via `StreamingQueryListener` — the
    * event-driven observability surface (SLA alerting, ingest
    * dashboards, the replacement for the reference's Cloud Run
    * request logs): a listener subscribes to the session's stream
    * bus and records every micro-batch's (batchId, numInputRows) AS
    * THE QUERY RUNS, with no second read of anything. The fixture is
    * q144's two-delivery landing dir (even/odd event_id split,
    * `maxFilesPerTrigger=1` → one micro-batch per delivery), so the
    * audit must read exactly two batches whose input rows are the
    * delivery sizes — numInputRows counts SOURCE rows, so the
    * downstream purchase filter must not dent it (that asymmetry is
    * the oracle's whole content). The bus is asynchronous;
    * [[progressAudit]] reads until the run's own termination event,
    * the discipline any production listener needs. Batches without
    * input rows are not reported. */
  def q397ProgressAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val landing = scratchDir("graft_audit_landing_")
    val ev = s.read.parquet(s"$dir/events.parquet")
    Seq(0, 1).foreach(par => deliver(landing, par, ev.where($"event_id" % 2 === par)))
    val pipe = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(landing.toString)
      .where($"event_type" === "purchase").select($"event_id", $"value")
    progressAudit(pipe) {
      case p if p.numInputRows > 0 => (p.batchId, p.numInputRows)
    }.sortBy(_._1).toDF("batch_id", "input_rows")
  }

  private val q397Oracle =
    """SELECT CAST(0 AS BIGINT) AS batch_id,
      |  CAST(count(*) AS BIGINT) AS input_rows
      |FROM events WHERE event_id % 2 = 0
      |UNION ALL
      |SELECT 1, CAST(count(*) AS BIGINT) FROM events WHERE event_id % 2 = 1
      |ORDER BY batch_id""".stripMargin

  // ---------------------------------------------------------------- q407
  /** State-store growth audit (`stateOperators` progress metrics) —
    * q397's listener turned on the metric that actually pages at
    * 3 am: STATE size. A streaming dedup keyed on user_id processes
    * the two-delivery fixture; after each micro-batch the listener
    * records the state operator's total and newly-written key counts.
    * The numbers are exactly predictable from the fixture (batch 0:
    * every even-side user enters state; batch 1: only users whose
    * FIRST appearance is odd-side are new), so the audit itself is
    * oracle-checked — and that check is the operational contract: a
    * dedup whose state grows faster than new-key arrival is leaking
    * (no watermark eviction), which is how unbounded-state incidents
    * actually present. Read through q397's [[progressAudit]]. */
  def q407StateAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val landing = scratchDir("graft_state_landing_")
    val ev = s.read.parquet(s"$dir/events.parquet")
    Seq(0, 1).foreach(par => deliver(landing, par, ev.where($"event_id" % 2 === par)))
    val pipe = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(landing.toString)
      .select($"user_id", $"event_id").dropDuplicates("user_id")
    progressAudit(pipe) {
      case p if p.numInputRows > 0 && p.stateOperators.nonEmpty =>
        (p.batchId, p.numInputRows, p.stateOperators(0).numRowsTotal,
          p.stateOperators(0).numRowsUpdated)
    }.sortBy(_._1).toDF("batch_id", "input_rows", "state_keys_total", "state_keys_new")
  }

  private val q407Oracle =
    """WITH ev AS (SELECT event_id, user_id FROM events),
      |b0 AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |  FROM ev WHERE event_id % 2 = 0),
      |b1 AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_rows FROM ev
      |  WHERE event_id % 2 = 1),
      |alltot AS (
      |  SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM ev)
      |SELECT CAST(0 AS BIGINT) AS batch_id, b0.n_rows AS input_rows,
      |  b0.n_users AS state_keys_total, b0.n_users AS state_keys_new
      |FROM b0
      |UNION ALL
      |SELECT 1, b1.n_rows, alltot.n_users, alltot.n_users - b0.n_users
      |FROM b0, b1, alltot
      |ORDER BY batch_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q407_state_audit" -> (q407StateAudit _),
    "q397_progress_audit" -> (q397ProgressAudit _),
    "q298_dynamic_sessions" -> (q298DynamicSessions _),
    "q177_transform_with_state" -> (q177TransformWithState _),
    "q179_timeout_sessions" -> (q179TimeoutSessions _),
    "q181_mapstate_profile" -> (q181MapStateProfile _),
    "q182_recent_features"  -> (q182RecentFeatures _),
    "q184_bootstrapped_state" -> (q184BootstrappedState _),
    "q194_dedup_within_watermark" -> (q194DedupWithinWatermark _),
    "q30_stream_tumbling" -> (q30Tumbling _),
    "q31_stream_sliding"  -> (q31Sliding _),
    "q32_session_windows" -> (q32SessionWindows _),
    "q33_stream_dedup"    -> (q33StreamDedup _),
    "q34_stateful_gaps"   -> (q34StatefulGaps _),
    "q35_flatmap_sessions" -> (q35FlatMapSessions _),
    "q44_stream_stream_join" -> (q44StreamStreamJoin _),
    "q47_stream_left_join"   -> (q47StreamLeftJoin _),
    "q310_stream_full_outer_join" -> (q310StreamFullOuterJoin _),
    "q358_stream_semi_join" -> (q358StreamSemiJoin _),
    "q87_stream_static_join" -> (q87StreamStaticJoin _),
    "q121_stream_admission"  -> (q121StreamAdmission _),
    "q144_incremental_mv"    -> (q144IncrementalMv _),
    "q388_dim_refresh"   -> (q388DimRefresh _),
    "q158_decayed_trending"  -> (q158DecayedTrending _),
    "q221_stream_heavy_hitters" -> (q221StreamHeavyHitters _),
    "q240_ttl_state" -> (q240TtlState _),
  ).map { case (name, q) => name -> freshBuild(q) }

  val oracles: Map[String, String] = Map(
    "q407_state_audit" -> q407Oracle,
    "q397_progress_audit" -> q397Oracle,
    "q298_dynamic_sessions" -> q298Oracle,
    "q177_transform_with_state" -> q177Oracle,
    "q179_timeout_sessions" -> q35Oracle,
    "q181_mapstate_profile" -> q181Oracle,
    "q182_recent_features"  -> q182Oracle,
    "q184_bootstrapped_state" -> q184Oracle,
    "q194_dedup_within_watermark" -> q33Oracle,
    "q221_stream_heavy_hitters" -> q221Oracle,
    "q240_ttl_state" -> q240Oracle,
    "q30_stream_tumbling" -> q30Oracle,
    "q31_stream_sliding"  -> q31Oracle,
    "q32_session_windows" -> q32Oracle,
    "q33_stream_dedup"    -> q33Oracle,
    "q34_stateful_gaps"   -> q34Oracle,
    "q35_flatmap_sessions" -> q35Oracle,
    "q44_stream_stream_join" -> q44Oracle,
    "q47_stream_left_join"   -> q47Oracle,
    "q310_stream_full_outer_join" -> q310Oracle,
    "q358_stream_semi_join" -> q358Oracle,
    "q87_stream_static_join" -> q87Oracle,
    "q121_stream_admission"  -> q121Oracle,
    "q144_incremental_mv"    -> q144Oracle,
    "q388_dim_refresh"   -> q388Oracle,
    "q158_decayed_trending"  -> q158Oracle,
  )
}
