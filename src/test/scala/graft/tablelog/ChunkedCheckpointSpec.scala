package graft.tablelog

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual}
import graft.SparkSuite
import graft.sources.GraftLogScanBuilder
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Round-10 manifest-scalability pins: checkpoints are a
  * stats-carrying manifest LIST over bounded chunk files, planning
  * prunes whole chunks before parsing file entries, checkpoint bytes
  * written per commit are bounded by the touched files (clean chunks
  * re-referenced, never rewritten), and the temporal partition
  * rendering is zone-free micros arithmetic. */
class ChunkedCheckpointSpec extends SparkSuite {

  private def freshDir(): String =
    Files.createTempDirectory("tlog_chunk_").toString + "/t"

  private val emptyOpts = new CaseInsensitiveStringMap(
    java.util.Collections.emptyMap[String, String]())

  /** 4 commits × 8 files, one identity partition value per commit —
    * v4 lands exactly on the checkpoint cadence with an empty tail. */
  private def mkPartitioned(): String = {
    import spark.implicits._
    val t = freshDir()
    def slice(p: String, base: Long) =
      (0L until 64L).map(i => (base + i, p)).toDF("k", "part")
    TableLog.create(slice("a", 0L), t, "k", numFiles = 8,
      partCols = Seq("part"))
    TableLog.append(slice("b", 100L), t, numFiles = 8)
    TableLog.append(slice("c", 200L), t, numFiles = 8)
    TableLog.append(slice("d", 300L), t, numFiles = 8)
    t
  }

  test("checkpoint is a chunked manifest list; partition predicate " +
      "parses fewer chunks than total; results stay exact") {
    val t = mkPartitioned()
    assert(Files.exists(TableLog.checkpointPath(t, 4L)))
    val snap = TableLog.state(t)
    val ix = snap.chunkIndex.getOrElse(fail("no chunk index on a " +
      "chunk-checkpointed table"))
    // metadata resolution parsed ZERO file entries (the loadTable cost)
    assert(ix.chunksParsed == 0, s"metadata load parsed ${ix.chunksParsed}")
    assert(ix.chunksTotal == 4, s"32 files / 8 per chunk, got ${ix.chunksTotal}")
    assert(snap.schemaDdl.nonEmpty && snap.partCols == Seq("part"))
    // a partition predicate prunes at CHUNK grain: only matching
    // chunks' file entries are parsed at all
    val b = new GraftLogScanBuilder(spark, t, snap, emptyOpts)
    b.pushFilters(Array(EqualTo("part", "c")))
    val (read, total) = b.chunksReadOfTotal
    assert(read < total, s"read $read of $total chunks")
    assert(read >= 1 && b.chosenFiles.nonEmpty)
    assert(b.chosenFiles.forall(_.parts.forall(_.values == Seq("c"))))
    // the pruned read is exact: same rows as an unpruned scan+filter
    val got = TableLog.snapshot(spark, t).where(col("part") === "c")
      .select(col("k")).collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (200L until 264L))
    // forcing the full listing parses the rest and matches a strict replay
    assert(snap.active.size == 32)
    assert(ix.chunksParsed == ix.chunksTotal)
  }

  test("key-range predicate prunes chunks by the chunk key envelope") {
    val t = mkPartitioned()
    val snap = TableLog.state(t)
    val b = new GraftLogScanBuilder(spark, t, snap, emptyOpts)
    b.pushFilters(Array(GreaterThanOrEqual("k", java.lang.Long.valueOf(300L))))
    val (read, total) = b.chunksReadOfTotal
    assert(read < total, s"read $read of $total chunks")
    assert(b.chosenFiles.forall(_.max >= 300L))
    assert(b.chosenFiles.map(_.rows).sum >= 64L)
  }

  test("temporal transform: a raw ts range predicate prunes chunks " +
      "through the days() envelope") {
    import spark.implicits._
    val t = freshDir()
    def day(d: Int) = // UTC midnight + offset, as zone-free micros
      java.time.Instant.parse(f"2024-03-${d}%02dT06:00:00Z")
    def slice(d: Int, base: Long) =
      (0L until 32L).map(i => (base + i, java.sql.Timestamp.from(day(d))))
        .toDF("k", "ts")
    TableLog.create(slice(1, 0L), t, "k", numFiles = 8,
      partCols = Seq("days:ts"))
    TableLog.append(slice(2, 100L), t, numFiles = 8)
    TableLog.append(slice(3, 200L), t, numFiles = 8)
    TableLog.append(slice(4, 300L), t, numFiles = 8)
    val snap = TableLog.state(t)
    assert(snap.chunkIndex.exists(_.chunksTotal == 4))
    val b = new GraftLogScanBuilder(spark, t, snap, emptyOpts)
    b.pushFilters(Array(GreaterThanOrEqual("ts",
      java.sql.Timestamp.from(day(4)))))
    val (read, total) = b.chunksReadOfTotal
    assert(read < total, s"read $read of $total chunks")
    assert(b.chosenFiles.forall(_.parts.forall(
      _.values == Seq("2024-03-04"))))
  }

  test("checkpoint bytes are bounded: clean chunks are re-referenced " +
      "by the next checkpoint without being rewritten") {
    import spark.implicits._
    val t = mkPartitioned()
    val (_, refs4opt) = TableLog.parseCheckpointList(t, 4L)
    val refs4 = refs4opt.getOrElse(fail("v4 checkpoint is not chunked"))
    // four single-file appends to v8 — the second checkpoint fires
    (0 until 4).foreach { j =>
      TableLog.append(Seq((1000L + j, "e")).toDF("k", "part"), t,
        numFiles = 1)
    }
    assert(Files.exists(TableLog.checkpointPath(t, 8L)))
    val (_, refs8opt) = TableLog.parseCheckpointList(t, 8L)
    val refs8 = refs8opt.getOrElse(fail("v8 checkpoint is not chunked"))
    val names4 = refs4.map(_.relName).toSet
    val names8 = refs8.map(_.relName).toSet
    // every untouched chunk is REUSED byte-identically (same file);
    // only the 4 new files re-chunked — bytes written per checkpoint
    // are O(touched files + list), never O(active files)
    assert(names4.subsetOf(names8),
      s"clean chunks were rewritten: ${names4 -- names8}")
    assert((names8 -- names4).size == 1,
      s"expected one fresh chunk for 4 new files, got ${names8 -- names4}")
    assert(refs8.map(_.rows).sum == 64L * 4 + 4)
    // and the chunked load equals a strict full replay
    val snap = TableLog.state(t)
    assert(snap.active.size == 36 && snap.active.map(_.liveRows).sum == 260L)
    assert(TableLog.snapshot(spark, t).count() == 260L)
  }

  test("rewrites dirty only their own chunks: a partition-scoped " +
      "delete re-chunks the touched files, the rest re-reference") {
    import spark.implicits._
    val t = mkPartitioned()
    val (_, Some(refs4)) = TableLog.parseCheckpointList(t, 4L): @unchecked
    // delete partition b (8 files rewritten away), then pad commits
    // to the next checkpoint cadence
    TableLog.deleteWhere(spark, t, col("part") === "b", numFiles = 1)
    (0 until 3).foreach { j =>
      TableLog.append(Seq((2000L + j, "f")).toDF("k", "part"), t,
        numFiles = 1)
    }
    val (_, Some(refs8)) = TableLog.parseCheckpointList(t, 8L): @unchecked
    val reused = refs4.map(_.relName).toSet
      .intersect(refs8.map(_.relName).toSet)
    // partition-pure chunks: only b's chunk went dirty
    assert(reused.size == 3, s"expected 3 clean chunks reused, got $reused")
    assert(TableLog.snapshot(spark, t).where(col("part") === "b").count() == 0)
    assert(TableLog.snapshot(spark, t).count() == 64L * 3 + 3)
  }

  test("temporal partition values render zone-free: DST-gap instants " +
      "and pre-epoch instants bucket by exact micros floorDiv") {
    // America/New_York's 2024 spring-forward gap is local
    // 02:00–03:00 on Mar 10; this instant's UTC wall clock (02:30)
    // falls inside it — the session-zone round-trip the old
    // rendering took shifts it by an hour
    val ny = graft.GraftSession.scoped(spark,
      "spark.sql.session.timeZone" -> "America/New_York")
    val cases = Seq(
      ("2024-03-10T02:30:00Z", "2024-03-10", "2024-03", "2024-03-10-02"),
      ("1969-12-31T23:30:00Z", "1969-12-31", "1969-12", "1969-12-31-23"))
    cases.foreach { case (inst, d, m, h) =>
      val micros = java.time.Instant.parse(inst).getEpochSecond * 1000000L
      val df = ny.sql(s"SELECT timestamp_micros(${micros}L) AS ts")
      def rendered(spec: String): String =
        df.select(TableLog.partValueCol(spec, df.schema)).head().getString(0)
      assert(rendered("days:ts") == d, s"days($inst)")
      assert(rendered("months:ts") == m, s"months($inst)")
      assert(rendered("hours:ts") == h, s"hours($inst)")
      // and the SQL rendering equals the task writer's arithmetic
      assert(d == TableLog.renderDay(TableLog.epochDayOfMicros(micros)))
      assert(h == TableLog.renderHour(TableLog.epochHourOfMicros(micros)))
    }
  }

  test("a spec evolution between checkpoints must not republish stale " +
      "envelopes: reused chunks blank theirs and results stay exact") {
    import spark.implicits._
    val t = mkPartitioned() // v4 checkpoints under identity 'part'
    TableLog.setPartitionSpec(t, Nil)                    // v5: evolve
    (0 until 3).foreach(j => TableLog.append(
      Seq((5000L + j, "e")).toDF("k", "part"), t, numFiles = 1)) // v8 ckpt
    val (hdr8, Some(refs8)) =
      TableLog.parseCheckpointList(t, 8L): @unchecked
    // the v8 header carries the evolved spec; every REUSED chunk's
    // envelope must be unbounded (their bounds were folded under the
    // old spec and must not prune under the new header)
    assert(hdr8.pspecs.exists(_.last == Nil))
    val (_, Some(refs4)) = TableLog.parseCheckpointList(t, 4L): @unchecked
    val reused = refs4.map(_.relName).toSet
    refs8.filter(r => reused(r.relName)).foreach(r =>
      assert(r.env.forall(_.isEmpty),
        s"reused chunk ${r.relName} republished a stale envelope: ${r.env}"))
    // and the rows of every old partition are still all there
    assert(TableLog.snapshot(spark, t).where($"part" === "c").count() == 64L)
    assert(TableLog.snapshot(spark, t).count() == 259L)
  }

  test("vacuumLogChunks reclaims chunk generations no checkpoint " +
      "references; referenced chunks survive and reads stay exact") {
    import spark.implicits._
    val t = mkPartitioned()                               // ckpt v4
    // dirty one chunk and pad to the next checkpoint: v8's list drops
    // one v4 chunk, whose file becomes an orphan generation
    TableLog.deleteWhere(spark, t, $"part" === "b", numFiles = 1)
    (0 until 3).foreach(j => TableLog.append(
      Seq((6000L + j, "f")).toDF("k", "part"), t, numFiles = 1))
    val (_, Some(refs4)) = TableLog.parseCheckpointList(t, 4L): @unchecked
    val (_, Some(refs8)) = TableLog.parseCheckpointList(t, 8L): @unchecked
    val superseded = refs4.map(_.relName).toSet -- refs8.map(_.relName).toSet
    assert(superseded.size == 1,
      s"the delete should supersede exactly b's chunk, got $superseded")
    // superseded chunks stay referenced BY V4's OWN list (checkpoint
    // lists are never deleted) — nothing reclaims
    val n0 = TableLog.vacuumLogChunks(t, graceMillis = 0L)
    assert(n0 == 0, s"all chunks referenced, got $n0 reclaimed")
    // orphan a fake raced chunk file and reclaim exactly it
    val orphan = java.nio.file.Paths.get(t, "_log", "c-deadbeef0000.chunk")
    java.nio.file.Files.writeString(orphan, "op chunk\nkey \nschema \n")
    assert(TableLog.vacuumLogChunks(t, graceMillis = 0L) == 1)
    assert(!java.nio.file.Files.exists(orphan))
    assert(TableLog.snapshot(spark, t).count() == 64L * 3 + 3)
  }
}
