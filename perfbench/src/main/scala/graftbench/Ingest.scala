package graftbench

import java.nio.file.{Files, Path, Paths}
import java.time.Instant

import scala.collection.mutable
import scala.util.Random
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.etl.{Extract, Schemas, Transform}
import graft.tablelog.TableLog

/** The `ingest` workload: the reference pipeline kept running. A single
  * generator thread lands posts-shaped JSON blobs on a fixed schedule
  * (open loop) while one long-running stream loads them exactly once into
  * a TableLog table; midway the stream is stopped and restarted on its
  * checkpoint. Then the stream is stopped again, a backlog is landed all
  * at once, and the drain is timed from the stream's restart.
  *
  * The reference lands one 100-post array (about 25 KB) every six hours.
  * Payload shape and size follow it; the landing rate and the backlog are
  * stress choices, compressed in time (see perfbench/README.md). */
object Ingest {
  /** Open-loop landing rate: 100 freshness samples in 8 s. */
  val BlobsPerSecond = 12.5
  /** Backlog blobs per second of `--seconds`: 320 at 8 s, the runs an
    * outage of 80 days would leave at one run per six hours. */
  val BacklogPerSecond = 40
  /** Length of the untimed warm-up open loop. */
  val WarmUpSeconds = 2.0
  private val Epoch = Instant.parse("2024-01-01T00:00:00Z")
  private val SixHours = 6L * 3600L

  final case class Blob(index: Int, firstId: Long, rows: Int, payload: String,
      fingerprint: Long) {
    def lastId: Long = firstId + rows - 1
    def name: String = s"blob$index"
  }

  def rowFingerprint(userId: Long, id: Long, title: String, body: String): Long =
    MurmurHash3.stringHash(s"$userId|$id|$title|$body") & 0xffffffffL

  /** Seeded payloads built from the sf0.1 document words and event users.
    * The seed draws each blob's row count (50 to 150, the reference's 100
    * on average), each row's text lengths (a title of 3 to 8 words and a
    * body of four lines of 5 to 9 words, about 250 bytes of JSON per row
    * like the reference's posts) and which blobs are single objects (a
    * bare JSON object instead of an array, one blob in ten on average).
    * The distributions are fixed, so seeds differ in their inputs but not
    * in the expected load. */
  def payloads(seed: Long, n: Int, words: IndexedSeq[String],
      users: IndexedSeq[Long]): IndexedSeq[Blob] = {
    val rng = new Random(seed)
    def text(lo: Int, hi: Int) =
      Seq.fill(lo + rng.nextInt(hi - lo + 1))(words(rng.nextInt(words.size))).mkString(" ")
    var nextId = 1L
    (0 until n).map { b =>
      val single = rng.nextDouble() < 0.1
      val rows = if (single) 1 else 50 + rng.nextInt(101)
      var fp = 0L
      val objs = (0 until rows).map { r =>
        val id = nextId + r
        val userId = users(rng.nextInt(users.size))
        val title = text(3, 8)
        val lines = Seq.fill(4)(text(5, 9))
        fp += rowFingerprint(userId, id, title, lines.mkString("\n"))
        val body = lines.mkString("\\n")
        s"""{"userId": $userId, "id": $id, "title": "$title", "body": "$body"}"""
      }
      val blob = Blob(b, nextId, rows,
        if (single) objs.head else objs.mkString("[", ",\n", "]"), fp)
      nextId += rows
      blob
    }
  }

  private val TableDdl = "userId BIGINT, id BIGINT, title STRING, body STRING, processedAt TIMESTAMP"

  def start(spark: SparkSession, landing: String, table: String, checkpoint: String)
      : StreamingQuery =
    Transform.conform(spark.readStream.schema(Schemas.postsSource)
        .option("multiLine", "true").json(landing))
      .writeStream.format("graft.sources.GraftLogStreamProvider")
      .option("path", table).option("txnAppId", "perfbench-ingest")
      .option("checkpointLocation", checkpoint)
      .start()

  /** `op` is "generator" on the open-loop thread, "backlog" on the main one. */
  def land(blob: Blob, landing: String, op: String): Unit =
    Trace.span("etl.extract.land", op) {
      Extract.land(() => blob.payload, landing, Epoch.plusSeconds(SixHours * blob.index))
    }

  /** Highest key committed so far, advanced incrementally from the log.
    * Freshness comes from commit stamps, not from this poll, so the poll
    * can be coarse and stay out of the stream's way. */
  object Watermark { val PollMs = 20L }
  final class Watermark(table: String) {
    import Watermark.PollMs
    private var seen = 0L
    @volatile var high = 0L
    def poll(): Long = {
      val v = TableLog.latestVersion(table)
      if (v > seen) {
        TableLog.commits(table, v, seen).foreach(_.adds.foreach(f => high = math.max(high, f.max)))
        seen = v
      }
      high
    }
    def await(id: Long, timeoutMs: Long): Boolean = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (poll() < id && System.currentTimeMillis() < deadline) Thread.sleep(PollMs)
      high >= id
    }
  }

  private def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
  }

  def run(spark: SparkSession, a: Args): Map[String, Any] = {
    val sc = spark.sparkContext
    sc.setJobGroup("harness.setup", "setup")
    val sf = s"${a.data}/sf0.1"
    val words = spark.read.parquet(s"$sf/documents.parquet").select("text").collect()
      .flatMap(_.getString(0).split(" ")).distinct.sorted.toIndexedSeq
    val users = spark.read.parquet(s"$sf/events.parquet").select("user_id").distinct()
      .collect().map(_.getLong(0)).sorted.toIndexedSeq
    val nOpen = math.max(2, math.round(a.seconds * BlobsPerSecond).toInt)
    val nBacklog = math.max(2, a.seconds * BacklogPerSecond)
    val root = Paths.get(a.out, "ingest")

    // Warm-up: the open loop itself for WarmUpSeconds into a scratch table,
    // so the per-batch driver path is JIT-compiled before anything is timed.
    val warm = root.resolve("warm")
    val warmLanding = warm.resolve("landing").toString
    val warmTable = warm.resolve("table").toString
    Files.createDirectories(Paths.get(warmLanding))
    TableLog.createEmpty(warmTable, TableDdl, "id")
    val wq = start(spark, warmLanding, warmTable, warm.resolve("checkpoint").toString)
    val warmBlobs = payloads(a.seed ^ 0x3a3aL, (WarmUpSeconds * BlobsPerSecond).toInt, words, users)
    val w0 = Clock.nowMs
    warmBlobs.foreach { b =>
      val wait = w0 + b.index * 1000.0 / BlobsPerSecond - Clock.nowMs
      if (wait > 0) Thread.sleep(wait.toLong)
      land(b, warmLanding, "warm-up")
    }
    new Watermark(warmTable).await(warmBlobs.last.lastId, 60000L)
    wq.stop()

    // Set-up, repeated three times: payloads plus an empty table. The
    // median counts towards setup_s; the last one is measured against.
    var blobs: IndexedSeq[Blob] = IndexedSeq.empty
    val setups = (1 to 3).map { i =>
      val t0 = Clock.nowMs
      blobs = payloads(a.seed, nOpen + nBacklog, words, users)
      TableLog.createEmpty(root.resolve(s"run$i/table").toString, TableDdl, "id")
      (Clock.nowMs - t0) / 1000.0
    }.sorted
    val base = root.resolve("run3")
    val landing = base.resolve("landing").toString
    val table = base.resolve("table").toString
    val checkpoint = base.resolve("checkpoint").toString
    Files.createDirectories(Paths.get(landing))
    val (open, backlog) = blobs.splitAt(nOpen)
    // the stream is restarted after the batch that commits this blob
    val restartAfter = open(nOpen * 2 / 5 + new Random(a.seed ^ 0x5eedL).nextInt(nOpen / 5 + 1))
    sc.clearJobGroup()

    val wm = new Watermark(table)
    var query = start(spark, landing, table, checkpoint)
    val c0 = Meters.cpuS
    val t0 = Clock.nowMs + 100.0
    val setupS = (t0 - Meters.jvmStartMs) / 1000.0 - setups.sum + setups(1)
    val due = open.map(b => t0 + b.index * 1000.0 / BlobsPerSecond)
    val landedAt = Array.fill(blobs.size)(0.0)
    val landS = Array.fill(blobs.size)(0.0)
    @volatile var generatorEnd = 0.0
    val generator = new Thread(() => {
      open.foreach { b =>
        val wait = due(b.index) - Clock.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1.0) * 1e6).toInt)
        landedAt(b.index) = Clock.nowMs
        land(b, landing, "generator")
        landS(b.index) = (Clock.nowMs - landedAt(b.index)) / 1000.0
      }
      generatorEnd = Clock.nowMs
    }, "perfbench-generator")
    generator.start()

    wm.await(restartAfter.lastId, 60000L)
    val r0 = Clock.nowMs
    val vAtStop = Trace.span("etl.load.restart", "stream") {
      query.stop()
      val v = TableLog.latestVersion(table)
      query = start(spark, landing, table, checkpoint)
      v
    }
    while (TableLog.latestVersion(table) == vAtStop && Clock.nowMs - r0 < 60000.0) {
      wm.poll(); Thread.sleep(Watermark.PollMs)
    }
    // until the first commit after the restart, by its stamp
    val restartS = ((if (TableLog.latestVersion(table) > vAtStop)
      TableLog.commitStamp(table, vAtStop + 1).toDouble else Clock.nowMs) - r0) / 1000.0
    generator.join()
    val openDone = wm.await(open.last.lastId, 60000L)
    val openMs = Clock.nowMs

    // Backfill: the backlog lands while the loader is down, so the
    // restarted stream finds all of it at once (landed while the stream
    // runs, its split into micro-batches varies and the drain time with
    // it); the drain is timed from the restart.
    query.stop()
    backlog.foreach { b =>
      landedAt(b.index) = Clock.nowMs
      land(b, landing, "backlog")
      landS(b.index) = (Clock.nowMs - landedAt(b.index)) / 1000.0
    }
    val b0 = Clock.nowMs
    query = start(spark, landing, table, checkpoint)
    val drained = wm.await(backlog.last.lastId, 90000L)
    val t1 = Clock.nowMs
    val c1 = Meters.cpuS
    query.stop()

    // ---- untimed: table facts, exactly-once check, freshness ----
    sc.setJobGroup("harness.check", "check")
    val leaked = spark.streams.active.length
    spark.streams.active.foreach(_.stop())
    if (a.inject.contains("duplicate-row"))
      TableLog.append(TableLog.snapshot(spark, table).limit(1), table, 1)
    val versions = TableLog.latestVersion(table)
    def timed[T](name: String)(f: => T): (T, Double) = {
      val s = Clock.nowMs
      val r = Trace.span(name, "check")(f)
      (r, (Clock.nowMs - s) / 1000.0)
    }
    val (_, stateEarlyS) = timed("tablelog.state")(TableLog.state(table, math.min(versions, 5L)))
    val (snap, stateLateS) = timed("tablelog.state")(TableLog.state(table))
    val (rows, snapshotS) = timed("tablelog.snapshot") {
      TableLog.snapshot(spark, table)
        .select(col("userId"), col("id"), col("title"), col("body")).collect()
    }
    // per version: commit stamp and the blobs it made queryable
    val lastIds = blobs.map(_.lastId).toArray
    val commitMs = Array.fill(blobs.size)(Double.NaN)
    val blobsPerVersion = mutable.ArrayBuffer.empty[(Long, Int, Boolean)]
    var covered = 0
    TableLog.commits(table).foreach { c =>
      val hi = (0L +: c.adds.map(_.max)).max
      val before = covered
      while (covered < blobs.size && lastIds(covered) <= hi) {
        commitMs(covered) = TableLog.commitStamp(table, c.version).toDouble
        covered += 1
      }
      if (covered > before) blobsPerVersion += ((c.version, covered - before, covered > nOpen))
    }
    // exactly-once: every blob's rows present once, content as generated
    val firstIds = blobs.map(_.firstId).toArray
    val gotRows = Array.fill(blobs.size)(0L)
    val gotFp = Array.fill(blobs.size)(0L)
    val ids = mutable.HashSet.empty[Long]
    val dupBlobs = mutable.Set.empty[Int]
    var strays = 0L
    rows.foreach { r =>
      val id = r.getLong(1)
      val i = java.util.Arrays.binarySearch(firstIds, id) match {
        case k if k >= 0 => k
        case k => -k - 2
      }
      if (i < 0 || id > lastIds(i)) strays += 1
      else {
        if (!ids.add(id)) dupBlobs += i
        gotRows(i) += 1
        gotFp(i) += rowFingerprint(r.getLong(0), id, r.getString(2), r.getString(3))
      }
    }
    val failures = blobs.filter { b =>
      gotRows(b.index) != b.rows || gotFp(b.index) != b.fingerprint || dupBlobs(b.index)
    }.map { b =>
      val why = if (dupBlobs(b.index)) "duplicate id"
        else if (gotRows(b.index) != b.rows) s"${gotRows(b.index)} of ${b.rows} rows"
        else "content fingerprint differs"
      s"${b.name}: $why"
    } ++ (if (strays > 0) Seq(s"table: $strays rows with ids no blob generated") else Nil)
    val freshness = open.map(b => (commitMs(b.index) - due(b.index)) / 1000.0)
    // The pipeline's own time: the midway restart, the catch-up from the
    // last due land until its rows are committed, and the drain, from commit
    // stamps where there are any (the poll only bounds the waits). The
    // open loop's fixed schedule is left out.
    def stamped(i: Int, polledMs: Double) =
      if (commitMs(i).isNaN) polledMs else commitMs(i)
    val catchUpS = (stamped(open.last.index, openMs) - due(open.last.index)) / 1000.0
    val drainS = (stamped(backlog.last.index, t1) - b0) / 1000.0
    sc.clearJobGroup()
    Map("setup_s" -> setupS, "setup_repeats_s" -> setups,
      "timed_start_ms" -> t0, "timed_end_ms" -> t1, "generator_end_ms" -> generatorEnd,
      "wall_s" -> (restartS + catchUpS + drainS), "catch_up_s" -> catchUpS,
      "cpu_s" -> (c1 - c0),
      "open_blobs" -> nOpen, "backlog_blobs" -> nBacklog,
      "open_committed" -> openDone, "backlog_drained" -> drained,
      "freshness_s" -> freshness, "due_ms" -> due,
      "gen_late_s" -> open.map(b => (landedAt(b.index) - due(b.index)) / 1000.0),
      "land_s" -> landS.toSeq, "land_bytes" -> blobs.map(_.payload.length.toLong).sum,
      "drain_s" -> drainS, "backlog_rows" -> backlog.map(_.rows.toLong).sum,
      "restart_s" -> restartS, "restart_after" -> restartAfter.name,
      "versions" -> versions, "active_files" -> snap.active.size,
      "state_early_s" -> stateEarlyS, "state_late_s" -> stateLateS,
      "snapshot_s" -> snapshotS, "table_bytes" -> dirBytes(Paths.get(table)),
      "blobs_per_version" -> blobsPerVersion.map { case (v, n, bl) =>
        Map("version" -> v, "blobs" -> n, "backlog" -> bl) },
      "attempted" -> blobs.size, "failures" -> failures, "leaked_streams" -> leaked)
  }
}
