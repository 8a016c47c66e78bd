package graft.tablelog

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.{GraftSession, SparkSuite}

object TableLogSpec {
  /** Shared mutable state for the nondeterministic-predicate pins —
    * a companion static so the udf closure and the asserting test
    * see the same counter in local mode. */
  val ndFlips = new java.util.concurrent.atomic.AtomicLong(0L)
}

class TableLogSpec extends SparkSuite {

  private def freshDir(): String =
    Files.createTempDirectory("tlog_spec_").toString

  private def kv(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("k", "v")
  }

  test("create + append + snapshot roundtrip; history accounts rows") {
    val t = freshDir()
    TableLog.create(kv((0L to 99L).map(i => (i, s"a$i"))), t, "k", 1)
    TableLog.append(kv((100L to 199L).map(i => (i, s"b$i"))), t, 1)
    val got = TableLog.snapshot(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 200 && got(0L) == "a0" && got(150L) == "b150")
    val h = TableLog.history(t)
    assert(h.map(x => (x.version, x.op, x.rowsAdded, x.rowsRemoved, x.totalRows))
      == Seq((1L, "create", 100L, 0L, 100L), (2L, "append", 100L, 0L, 200L)))
  }

  test("compaction is a logical no-op and shrinks the file count") {
    val t = freshDir()
    TableLog.create(kv((0L to 49L).map(i => (i, s"x$i"))), t, "k", 4)
    TableLog.append(kv((50L to 99L).map(i => (i, s"x$i"))), t, 4)
    val before = TableLog.snapshot(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val filesBefore = TableLog.state(t).active.size
    TableLog.compact(spark, t, 2)
    val after = TableLog.snapshot(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after == before, "compaction changed table contents")
    val st = TableLog.state(t)
    assert(st.active.size == 2 && st.active.size < filesBefore)
    // file-grain history visible: remove = all old, add = 2 new
    val h3 = TableLog.history(t).last
    assert(h3.op == "compact" && h3.nRemoves == filesBefore && h3.nAdds == 2
      && h3.rowsAdded == 100L && h3.rowsRemoved == 100L)
  }

  test("time travel: old versions are immutable under later rewrites") {
    val t = freshDir()
    TableLog.create(kv(Seq(1L -> "one", 2L -> "two")), t, "k", 1)
    TableLog.deleteWhere(spark, t, col("v") === "one", 1)
    TableLog.compact(spark, t, 1)
    assert(TableLog.snapshot(spark, t, version = 1L).count() == 2)
    assert(TableLog.snapshot(spark, t).collect().map(_.getString(1)).toSeq
      == Seq("two"))
  }

  test("delete: key-pruned copy-on-write rewrites only intersecting files") {
    val t = freshDir()
    TableLog.create(kv((0L to 99L).map(i => (i, s"a$i"))), t, "k", 1)
    TableLog.append(kv((100L to 199L).map(i => (i, s"b$i"))), t, 1)
    TableLog.deleteWhere(spark, t, col("k").between(10L, 20L), 1,
      pruneCandidates = Some(TableLog.prunedFiles(_, 10L, 20L)))
    val h = TableLog.history(t).last
    // only the [0,99] file intersects: one remove, its 89 survivors re-added
    assert(h.op == "delete" && h.nRemoves == 1 && h.rowsRemoved == 100L
      && h.rowsAdded == 89L && h.totalRows == 189L)
    assert(TableLog.snapshot(spark, t).where(col("k").between(10L, 20L)).count() == 0)
    assert(TableLog.snapshot(spark, t).count() == 189)
  }

  test("delete: NULL-cond rows survive (SQL DELETE semantics)") {
    val t = freshDir()
    import spark.implicits._
    val df = Seq((1L, Some("x")), (2L, Some("y")), (3L, None))
      .toDF("k", "v")
    TableLog.create(df, t, "k", 1)
    TableLog.deleteWhere(spark, t, col("v") === "x", 1)
    val left = TableLog.snapshot(spark, t).collect().map(_.getLong(0)).toSet
    assert(left == Set(2L, 3L), "NULL-cond row must not be deleted")
  }

  test("delete with no matches is a version no-op") {
    val t = freshDir()
    TableLog.create(kv(Seq(1L -> "a")), t, "k", 1)
    val v = TableLog.deleteWhere(spark, t, col("v") === "zzz", 1)
    assert(v == 1L && TableLog.latestVersion(t) == 1L)
  }

  test("merge rewrites only files holding matched keys; inserts land fresh") {
    val t = freshDir()
    TableLog.create(kv((0L to 99L).map(i => (i, s"a$i"))), t, "k", 1)
    TableLog.append(kv((100L to 199L).map(i => (i, s"b$i"))), t, 1)
    val changes = kv(Seq(150L -> "UPDATED", 500L -> "INSERTED"))
    TableLog.merge(spark, t, changes, 1)
    val h = TableLog.history(t).last
    assert(h.op == "merge" && h.nRemoves == 1, // only the [100,199] file
      s"expected exactly the matched file rewritten, got $h")
    val got = TableLog.snapshot(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 201 && got(150L) == "UPDATED"
      && got(500L) == "INSERTED" && got(0L) == "a0")
  }

  test("lost commit race rebases appends, aborts conflicting rewrites") {
    val t = freshDir()
    TableLog.create(kv(Seq(1L -> "a")), t, "k", 1)
    val f1 = TableLog.state(t).active.head
    // writer B compacts to v2, removing f1
    TableLog.compact(spark, t, 1)
    assert(TableLog.latestVersion(t) == 2L)
    // writer A staged an append against v1: rebase-safe, lands at v3
    val v = TableLog.commit(t, expected = 1L, op = "append",
      adds = Seq(TableLog.AddFile("data/zz/p.parquet", 1L, 9L, 9L)),
      removes = Nil, schemaDdl = "", keyCol = "")
    assert(v == 3L)
    // writer A' planned a rewrite of f1 against v1: f1 is gone — abort
    intercept[java.util.ConcurrentModificationException] {
      TableLog.commit(t, expected = 1L, op = "delete", adds = Nil,
        removes = Seq(f1.relPath), schemaDdl = "", keyCol = "")
    }
  }

  test("checkpoint written on cadence; replay-from-checkpoint = full replay") {
    val t = freshDir()
    TableLog.create(kv(Seq(1L -> "a")), t, "k", 1)
    (2 to 5).foreach(i => TableLog.append(kv(Seq(i.toLong -> s"r$i")), t, 1))
    val ckpt = Paths.get(t, "_log", f"v${TableLog.checkpointEvery.toLong}%016d.checkpoint")
    assert(Files.exists(ckpt), "checkpoint missing at cadence version")
    // from-scratch fold over every manifest must agree with state()
    val full = TableLog.commits(t).foldLeft(Map.empty[String, TableLog.AddFile]) {
      (acc, c) => c.adds.foldLeft(acc -- c.removes)((m, a) => m + (a.relPath -> a))
    }
    val viaCkpt = TableLog.state(t).active.map(a => a.relPath -> a).toMap
    assert(viaCkpt == full)
    assert(TableLog.snapshot(spark, t).count() == 5)
  }

  test("vacuum deletes only unreferenced files; latest survives, history dies") {
    val t = freshDir()
    TableLog.create(kv((0L to 9L).map(i => (i, s"a$i"))), t, "k", 2)
    TableLog.compact(spark, t, 1)
    val victims = TableLog.vacuumList(t, graceMillis = 0)
    assert(victims.size == 2, s"expected the 2 pre-compact files, got $victims")
    assert(TableLog.vacuum(t, graceMillis = 0) == 2)
    assert(TableLog.snapshot(spark, t).count() == 10)
    intercept[Exception] { TableLog.snapshot(spark, t, version = 1L).count() }
    assert(TableLog.vacuumList(t, graceMillis = 0).isEmpty)
  }

  test("restore: forward commit reproduces the old state; delta-only manifest; " +
    "refuses unknown versions and vacuumed targets") {
    val t = freshDir()
    TableLog.create(kv((0L to 9L).map(i => (i, s"a$i"))), t, "k", 2)      // v1
    TableLog.append(kv((10L to 19L).map(i => (i, s"b$i"))), t, 2)         // v2
    TableLog.deleteWhere(spark, t, col("k") < 5, numFiles = 1)            // v3
    val (v, added, removed) = TableLog.restore(t, 2L)                     // v4
    assert(v == 4L)
    // delta-only: v3 rewrote only the one file holding k<5; restore
    // re-adds that file and drops the rewrite's survivor file — the
    // untouched files never appear in the restore manifest
    assert(added < TableLog.state(t, 2L).active.size,
      s"restore re-listed the whole table ($added adds)")
    val got = TableLog.snapshot(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 20 && got(0L) == "a0" && got(19L) == "b19")
    // v3's deleted era still time-travels
    assert(TableLog.snapshot(spark, t, version = 3L).count() == 15)
    // restore is itself restorable: back to the post-delete state
    TableLog.restore(t, 3L)
    assert(TableLog.snapshot(spark, t).count() == 15)
    intercept[IllegalArgumentException] { TableLog.restore(t, 99L) }
    intercept[IllegalArgumentException] { TableLog.restore(t, 0L) }
    // vacuum under a 1-version retention kills v1's files → restore to
    // v1 must fail fast without committing anything
    TableLog.vacuumRetain(t, retainVersions = 1, graceMillis = 0)
    val before = TableLog.latestVersion(t)
    intercept[IllegalArgumentException] { TableLog.restore(t, 1L) }
    assert(TableLog.latestVersion(t) == before)
  }

  test("column stats: non-key min/max recorded per file, manifest " +
      "round-trips them; all-null and truncated-string columns behave") {
    import spark.implicits._
    val t = freshDir()
    val longTail = "z" * 40 // > colStatMaxLen: bounds must truncate soundly
    val df = (0L to 99L).map { i =>
      (i, i * 10L, i / 4.0,
        if (i == 99L) longTail else f"s$i%03d",
        null.asInstanceOf[java.lang.Long])
    }.toDF("k", "amt", "ratio", "tag", "hole")
    TableLog.create(df, t, "k", numFiles = 4)
    val files = TableLog.state(t).active
    assert(files.size == 4)
    // every file carries stats for amt/ratio/tag; none for the
    // all-null column, none for the key (it has dedicated bounds)
    files.foreach { a =>
      val byCol = a.cols.map(c => c.col -> c).toMap
      assert(byCol.keySet == Set("amt", "ratio", "tag"), a.cols)
      assert(byCol("amt").typ == 'l' && byCol("ratio").typ == 'd' &&
        byCol("tag").typ == 's')
      // key-derived truth: amt = k*10 so file bounds align with key's
      assert(byCol("amt").min.toLong == a.min * 10)
      assert(byCol("amt").max.toLong == a.max * 10)
      assert(byCol("ratio").min.toDouble == a.min / 4.0)
    }
    // the 40-char string bound truncated: min is a 32-prefix, max
    // rounded up above the true value
    val last = files.maxBy(_.max)
    val tag = last.cols.find(_.col == "tag").get
    assert(tag.max.length <= TableLog.colStatMaxLen)
    assert(TableLog.cmpStat('s', tag.max, longTail) > 0 ||
      tag.max == TableLog.ColStatUnbounded)
    // a rewrite (compact) recomputes stats for the new layout
    TableLog.compact(spark, t, 1)
    val one = TableLog.state(t).active
    assert(one.size == 1 &&
      one.head.cols.find(_.col == "amt").get.max.toLong == 990L)
  }

  test("truncMin/truncMax: prefix lower bound, rounded-up upper bound, " +
      "unbounded when nothing increments") {
    val v = "abc" + ("x" * 40)
    assert(TableLog.truncMin(v) == "abc" + "x" * 29)
    val up = TableLog.truncMax(v)
    assert(up.length <= TableLog.colStatMaxLen)
    assert(TableLog.cmpStat('s', up, v) > 0)
    // short values pass through exactly
    assert(TableLog.truncMin("ab") == "ab" && TableLog.truncMax("ab") == "ab")
    // a prefix of un-incrementable chars yields the unbounded sentinel
    val high = "\uD7FF" * 40
    assert(TableLog.truncMax(high) == TableLog.ColStatUnbounded)
  }

  test("shallow clone: zero-copy fork, histories diverge, clone vacuum " +
      "can never reclaim source files") {
    import spark.implicits._
    val src = freshDir()
    TableLog.create(kv((0L to 99L).map(i => (i, s"a$i"))), src, "k", 4)
    val dst = freshDir() + "/clone"
    val (v, n) = TableLog.shallowClone(src, dst)
    assert(v == 1L && n == 4)
    // no data bytes moved: the clone's data dir does not exist yet
    assert(!Files.isDirectory(Paths.get(dst, "data")))
    // reads equal; stats (key bounds, column stats) came along
    assert(TableLog.snapshot(spark, dst).count() == 100)
    assert(TableLog.state(dst).active.forall(_.cols.nonEmpty))
    // clone diverges without touching src
    TableLog.deleteWhere(spark, dst, col("k") < 50, numFiles = 1)
    TableLog.append((500L to 509L).map(i => (i, s"c$i")).toDF("k", "v"),
      dst, 1)
    assert(TableLog.snapshot(spark, dst).count() == 60)
    assert(TableLog.snapshot(spark, src).count() == 100)
    // the clone's vacuum walks ITS data dir only: the rewrite dropped
    // every external reference, yet no source file is a candidate
    val victims = TableLog.vacuumList(dst, graceMillis = 0)
    assert(victims.forall(!_.contains("..")), victims)
    TableLog.vacuum(dst, graceMillis = 0)
    assert(TableLog.snapshot(spark, src).count() == 100,
      "clone vacuum must never touch source data")
    // cloning over an existing table refuses
    intercept[IllegalArgumentException] { TableLog.shallowClone(src, dst) }
    // source vacuum reclaiming a cloned file is the disclosed hazard:
    // compact src (drops the originals) then vacuum — the PRE-rewrite
    // clone version now fails loudly instead of silently missing rows
    val dst2 = freshDir() + "/clone2"
    TableLog.shallowClone(src, dst2)
    TableLog.compact(spark, src, 1)
    TableLog.vacuum(src, graceMillis = 0)
    intercept[Exception] { TableLog.snapshot(spark, dst2).collect() }
  }

  test("deletion vectors: merge-on-read delete rewrites NOTHING, reads " +
      "subtract dead rows, history nets exactly, compact materializes") {
    val t = freshDir()
    TableLog.create(kv((0L to 99L).map(i => (i, s"a$i"))), t, "k", 4)
    def parquetCount: Int = {
      val s = Files.walk(Paths.get(t, "data"))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.count(_.toString.endsWith(".parquet"))
      } finally s.close()
    }
    val filesBefore = parquetCount
    TableLog.deleteWhereDv(spark, t, pmod(col("k"), lit(10)) < 2) // v2
    // zero data files written or rewritten — only sidecars landed
    assert(parquetCount == filesBefore, "DV delete must not rewrite data")
    val got = TableLog.snapshot(spark, t).collect().map(_.getLong(0)).toSet
    assert(got.size == 80 && !got.exists(_ % 10 < 2))
    // accounting: live rows net out; min/max were RE-DERIVED over the
    // survivors at DV-commit time (dvExact), so stats-only answering
    // stays exact through the delete: k%10<2 killed 0 and 1 — the
    // live minimum is 2, and every DV'd entry carries the marker
    assert(TableLog.liveRowsOf(t) == 80L)
    val h = TableLog.history(t).last
    assert(h.op == "delete" && h.totalRows == 80L, h)
    assert(TableLog.state(t).active.filter(_.dv.isDefined)
      .forall(_.dvExact), "DV delete must re-derive exact bounds")
    assert(TableLog.statsOf(t) == ((80L, 2L, 99L)))
    // time travel: v1 unaffected
    assert(TableLog.snapshot(spark, t, version = 1L).count() == 100)
    // change feed across the DV commit: exactly the dead rows
    val diff = TableLog.diffVersions(spark, t, 1L, 2L).collect()
    assert(diff.length == 20 && diff.forall(_.getString(1) == "delete"))
    // re-delete unions into a NEW sidecar; the old one vacuums away
    val oldSidecars = TableLog.state(t).active.flatMap(_.dv).map(_._1)
    TableLog.deleteWhereDv(spark, t, col("k") === 55L) // v3
    assert(TableLog.snapshot(spark, t).count() == 79)
    val victims = TableLog.vacuumList(t, graceMillis = 0)
    assert(oldSidecars.exists(tok => victims.exists(_.endsWith(tok))),
      s"superseded sidecar not reclaimed: $victims")
    assert(TableLog.vacuum(t, graceMillis = 0) == victims.size)
    assert(TableLog.snapshot(spark, t).count() == 79)
    // a fully-dead file leaves the active set outright
    val target = TableLog.state(t).active.head
    TableLog.deleteWhereDv(spark, t,
      col("k").between(target.min, target.max)) // v4
    assert(!TableLog.state(t).active.map(_.relPath).contains(target.relPath))
    // restore across DV states reproduces v3's exact rows (v2's
    // superseded sidecars were vacuumed above, so restore(2) must
    // fail fast — the designed vacuum/restore interlock)
    intercept[IllegalArgumentException] { TableLog.restore(t, 2L) }
    TableLog.restore(t, 3L) // v5
    assert(TableLog.snapshot(spark, t).count() == 79)
    // compaction materializes the DVs away: no dv entries, rows stable
    TableLog.compact(spark, t, 2) // v6
    val st = TableLog.state(t)
    assert(st.active.forall(_.dv.isEmpty) && st.active.size == 2)
    assert(TableLog.snapshot(spark, t).count() == 79)
    assert(TableLog.statsOf(t)._1 == 79L) // exact stats return
  }

  test("partitioned merge-on-read delete: per-tuple stats decrement " +
      "exactly, fully-dead tuples drop, no data rewrite") {
    import spark.implicits._
    val tp = freshDir()
    // 100 rows over 4 partition values, 2 files → mixed-tuple files
    TableLog.create((0L to 99L).map(i => (i, s"p${i % 4}")).toDF("k", "p"),
      tp, "k", 2, partCols = Seq("p"))
    def tupleRows: Map[String, Long] = TableLog.state(tp).active
      .flatMap(_.parts).groupBy(_.values.head)
      .map { case (t, ps) => t -> ps.map(_.rows).sum }
    assert(tupleRows == Map("p0" -> 25L, "p1" -> 25L, "p2" -> 25L,
      "p3" -> 25L))
    val filesBefore = TableLog.state(tp).active.map(_.relPath).toSet
    // GDPR-shaped point delete: 3 rows of one tuple, 2 of another
    TableLog.deleteWhereDv(spark, tp,
      col("k").isin(0L, 4L, 8L, 1L, 5L))
    val st = TableLog.state(tp)
    assert(st.active.map(_.relPath).toSet == filesBefore,
      "DV delete must not rewrite data files")
    // tuple stats are LIVE counts: p0 lost 3 (k=0,4,8), p1 lost 2
    assert(tupleRows == Map("p0" -> 22L, "p1" -> 23L, "p2" -> 25L,
      "p3" -> 25L))
    // stats sum to liveRows per file — #partitions folds exactly
    st.active.foreach(a =>
      assert(a.parts.map(_.rows).sum == a.liveRows, a))
    assert(TableLog.snapshot(spark, tp).count() == 95)
    // a repeat delete composes the deltas
    TableLog.deleteWhereDv(spark, tp, col("p") === "p2" && col("k") < 20L)
    assert(tupleRows("p2") == 20L)
    // kill an ENTIRE tuple: its stat drops from every file outright
    TableLog.deleteWhereDv(spark, tp, col("p") === "p3")
    assert(!tupleRows.contains("p3"))
    assert(TableLog.snapshot(spark, tp).count() == 100 - 5 - 5 - 25)
    // reads agree with the stats tuple-by-tuple
    val got = TableLog.snapshot(spark, tp).groupBy("p").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == tupleRows)
    // spec-era files refuse: evolve the spec, then DV must refuse
    TableLog.setPartitionSpec(tp, Seq("p", "k"))
    val e = intercept[IllegalArgumentException] {
      TableLog.deleteWhereDv(spark, tp, col("k") === 50L)
    }
    assert(e.getMessage.contains("partition spec"))
  }

  test("partitioned merge-on-read update: DV decrements the OLD " +
      "tuple, fresh files stage partitioned, #partitions stays exact") {
    import spark.implicits._
    val tp = freshDir()
    TableLog.create((0L to 59L).map(i => (i, s"d${i % 3}", s"v$i"))
      .toDF("k", "p", "v"), tp, "k", 2, partCols = Seq("p"))
    def tupleRows: Map[String, Long] = TableLog.state(tp).active
      .flatMap(_.parts).groupBy(_.values.head)
      .map { case (t, ps) => t -> ps.map(_.rows).sum }
    val origFiles = TableLog.state(tp).active.map(_.relPath).toSet
    // value-only update: tuples unchanged, counts conserved
    TableLog.updateWhereDv(spark, tp, col("k") < 6L,
      Map("v" -> concat(lit("UPD"), col("k").cast("string"))))
    assert(tupleRows == Map("d0" -> 20L, "d1" -> 20L, "d2" -> 20L))
    val st = TableLog.state(tp)
    // staged fresh files carry their own tuple stats
    assert(st.active.filter(a => !origFiles(a.relPath))
      .forall(_.parts.nonEmpty), "updated images must stage partitioned")
    val got = TableLog.snapshot(spark, tp).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got.size == 60 && got(3L) == "UPD3" && got(7L) == "v7")
    // partition-moving update: rows leave the old tuple and land in
    // the new one — both sides of the ledger stay exact
    TableLog.updateWhereDv(spark, tp, col("k").isin(10L, 13L),
      Map("p" -> lit("d9")))
    val tr = tupleRows
    assert(tr("d9") == 2L && tr.values.sum == 60L, tr)
    val byP = TableLog.snapshot(spark, tp).groupBy("p").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byP == tr)
  }

  test("merge-on-read update: DV + fresh-file append in one commit; " +
      "originals never rewrite, total rows conserved") {
    val t = freshDir()
    TableLog.create(kv((0L to 99L).map(i => (i, s"a$i"))), t, "k", 4)
    val origFiles = TableLog.state(t).active.map(_.relPath).toSet
    TableLog.updateWhereDv(spark, t, pmod(col("k"), lit(20)) === 3,
      Map("v" -> concat(lit("UPD"), col("k").cast("string"))))
    val st = TableLog.state(t)
    // original files still active (DV'd), updated rows in fresh files
    assert(origFiles.subsetOf(st.active.map(_.relPath).toSet))
    assert(st.active.exists(a => !origFiles(a.relPath)), "no staged file")
    val got = TableLog.snapshot(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 100)
    assert(got(3L) == "UPD3" && got(23L) == "UPD23" && got(4L) == "a4")
    assert(TableLog.history(t).last.totalRows == 100L)
    // update on already-updated rows: unions DVs, stays exact
    TableLog.updateWhereDv(spark, t, col("k") === 3L,
      Map("v" -> lit("UPD3b")))
    val got2 = TableLog.snapshot(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got2.size == 100 && got2(3L) == "UPD3b" && got2(23L) == "UPD23")
    // no-op update commits nothing
    val v = TableLog.latestVersion(t)
    TableLog.updateWhereDv(spark, t, col("k") === -1L,
      Map("v" -> lit("x")))
    assert(TableLog.latestVersion(t) == v)
  }

  test("SQL UPDATE under update.mode=merge-on-read: originals keep " +
      "their bytes (DV sidecars), updated images land as fresh files " +
      "— on partitioned layouts too") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graftlog",
      "graft.sources.GraftLogCatalog")
    val t = freshDir()
    TableLog.create((0L to 59L).map(i => (i, s"p${i % 3}", s"v$i"))
      .toDF("k", "p", "v"), t, "k", 2, partCols = Seq("p"))
    TableLog.setProps(t,
      TableLog.state(t).props + ("update.mode" -> "merge-on-read"))
    val origFiles = TableLog.state(t).active.map(_.relPath).toSet
    spark.sql(s"UPDATE graftlog.`$t` SET v = upper(v) WHERE k < 4")
    val st = TableLog.state(t)
    assert(origFiles.subsetOf(st.active.map(_.relPath).toSet),
      "merge-on-read UPDATE must not rewrite original files")
    assert(st.active.exists(_.dv.isDefined), "no DV sidecar landed")
    val got = TableLog.snapshot(spark, t).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(got.take(5) == Seq((0L, "V0"), (1L, "V1"), (2L, "V2"),
      (3L, "V3"), (4L, "v4")), got.take(5).toString)
    // tuple stats stayed exact through the SQL route
    val tupleRows = st.active.flatMap(_.parts).groupBy(_.values.head)
      .map { case (k2, ps) => k2 -> ps.map(_.rows).sum }
    assert(tupleRows == Map("p0" -> 20L, "p1" -> 20L, "p2" -> 20L),
      tupleRows.toString)
    // a table WITHOUT the property keeps the copy-on-write route
    val t2 = freshDir()
    TableLog.create(kv(Seq(1L -> "a", 2L -> "b")), t2, "k", 1)
    val orig2 = TableLog.state(t2).active.map(_.relPath).toSet
    spark.sql(s"UPDATE graftlog.`$t2` SET v = upper(v) WHERE k = 1")
    val st2 = TableLog.state(t2)
    assert(!st2.active.exists(a => orig2(a.relPath)),
      "COW update should rewrite the touched file")
    assert(st2.active.forall(_.dv.isEmpty))
  }

  test("empty append bumps the version without staging files") {
    val t = freshDir()
    TableLog.create(kv(Seq(1L -> "a")), t, "k", 1)
    import spark.implicits._
    TableLog.append(Seq.empty[(Long, String)].toDF("k", "v"), t, 1)
    assert(TableLog.latestVersion(t) == 2L)
    assert(TableLog.history(t).last.nAdds == 0)
    assert(TableLog.snapshot(spark, t).count() == 1)
  }

  test("pruned key-range read skips non-intersecting files") {
    val t = freshDir()
    TableLog.create(kv((0L to 99L).map(i => (i, s"a$i"))), t, "k", 1)
    TableLog.append(kv((100L to 199L).map(i => (i, s"b$i"))), t, 1)
    val st = TableLog.state(t)
    val pruned = TableLog.prunedFiles(st, 120L, 150L)
    assert(pruned.size == 1 && pruned.head.min == 100L,
      s"expected only the [100,199] file, got $pruned")
    val rows = TableLog.snapshotWhereKey(spark, t, 120L, 150L).collect()
    assert(rows.length == 31 && rows.forall(r =>
      r.getLong(0) >= 120L && r.getLong(0) <= 150L))
  }

  test("appendTxn: redelivered producer versions land exactly once") {
    val t = freshDir()
    TableLog.create(kv(Seq(1L -> "a")), t, "k", 1)
    val batch = kv(Seq(2L -> "b"))
    val v1 = TableLog.appendTxn(batch, t, 1, appId = "ingest", txnVersion = 0L)
    assert(v1 == 2L && TableLog.snapshot(spark, t).count() == 2)
    // same producer version again — checkpoint-loss redelivery: no-op
    val v2 = TableLog.appendTxn(batch, t, 1, appId = "ingest", txnVersion = 0L)
    assert(v2 == 2L && TableLog.latestVersion(t) == 2L)
    assert(TableLog.snapshot(spark, t).count() == 2)
    // next version applies; a stale one after it is still dropped
    TableLog.appendTxn(kv(Seq(3L -> "c")), t, 1, "ingest", 1L)
    TableLog.appendTxn(kv(Seq(99L -> "dup")), t, 1, "ingest", 0L)
    assert(TableLog.snapshot(spark, t).count() == 3)
    // a DIFFERENT app id has its own ledger
    TableLog.appendTxn(kv(Seq(4L -> "d")), t, 1, "other", 0L)
    assert(TableLog.snapshot(spark, t).count() == 4)
    // ledger survives the checkpoint: force past cadence, then re-check
    TableLog.append(kv(Seq(5L -> "e")), t, 1) // v5 → checkpoint at v4 exists
    TableLog.appendTxn(kv(Seq(98L -> "dup")), t, 1, "ingest", 1L)
    assert(TableLog.snapshot(spark, t).count() == 5)
  }

  test("appendEvolve widens the schema; old files null-fill; conflicts rejected") {
    val t = freshDir()
    TableLog.create(kv(Seq(1L -> "a", 2L -> "b")), t, "k", 1)
    import spark.implicits._
    TableLog.appendEvolve(
      Seq((3L, "c", 30L)).toDF("k", "v", "score"), t, 1)
    val got = TableLog.snapshot(spark, t).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(got == Map(1L -> -1L, 2L -> -1L, 3L -> 30L),
      "pre-evolution rows must null-fill the new column")
    // dropping a column is not an append
    intercept[IllegalArgumentException] {
      TableLog.appendEvolve(Seq(4L -> 9L).toDF("k", "score"), t, 1)
    }
    // changing an existing column's type is rejected
    intercept[IllegalArgumentException] {
      TableLog.appendEvolve(
        Seq((4L, 5L, 9L)).toDF("k", "v", "score"), t, 1)
    }
  }

  test("diffVersions emits insert/update/delete; unchanged movers drop out") {
    val t = freshDir()
    TableLog.create(kv((0L to 99L).map(i => (i, s"a$i"))), t, "k", 1)
    TableLog.append(kv((100L to 199L).map(i => (i, s"b$i"))), t, 1)
    TableLog.merge(spark, t, kv(Seq(150L -> "UPD", 500L -> "INS")), 1)
    TableLog.deleteWhere(spark, t, col("k") === 7L, 1)
    // v2 → v3: the merge — one update, one insert, nothing else even
    // though every row of file B moved to a rewritten file
    val d23 = TableLog.diffVersions(spark, t, 2L, 3L).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(d23 == Set((150L, "update"), (500L, "insert")))
    // v3 → v4: the delete
    val d34 = TableLog.diffVersions(spark, t, 3L, 4L).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(d34 == Set((7L, "delete")))
    // old/new values carried: the update shows both sides
    val upd = TableLog.diffVersions(spark, t, 2L, 3L)
      .where(col("action") === "update").collect().head
    assert(upd.getString(2) == "b150" && upd.getString(3) == "UPD")
    // v1 → v1 diff of identical states is empty
    assert(TableLog.diffVersions(spark, t, 1L, 1L).count() == 0)
  }

  test("bloom sidecars: non-key point lookup skips files, survives compaction") {
    val t = freshDir()
    import spark.implicits._
    // g = k div 10: range-partitioning on k makes g file-local, so a
    // g-probe SHOULD skip most files — exactly the layout where a
    // non-key bloom pays
    val df = (0L to 99L).map(i => (i, i / 10L, s"v$i")).toDF("k", "g", "v")
    TableLog.create(df, t, "k", numFiles = 5, bloomCol = Some("g"))
    val snap = TableLog.state(t)
    assert(snap.bloom == Some(("g", 1 << 17)))
    assert(snap.active.size == 5)
    val pruned = TableLog.prunedFilesBloom(spark, t, snap, Seq(3L))
    assert(pruned.size < snap.active.size,
      s"bloom pruned nothing: ${pruned.size} of ${snap.active.size}")
    val rows = TableLog.snapshotWhereIn(spark, t, Seq(3L)).collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == (30L to 39L))
    // append without re-declaring: sidecars still built (declaration
    // replays from v1)
    TableLog.append((100L to 109L).map(i => (i, 3L, s"v$i")).toDF("k", "g", "v"),
      t, numFiles = 1)
    val rows2 = TableLog.snapshotWhereIn(spark, t, Seq(3L)).collect()
    assert(rows2.length == 20)
    // compaction rebuilds sidecars for its rewritten files and the
    // lookup still answers; stale sidecars become vacuum candidates
    TableLog.compact(spark, t, 2)
    val rows3 = TableLog.snapshotWhereIn(spark, t, Seq(3L)).collect()
    assert(rows3.map(_.getLong(0)).toSet == rows2.map(_.getLong(0)).toSet)
    val victims = TableLog.vacuumList(t, graceMillis = 0)
    assert(victims.exists(_.endsWith(".bloom")),
      "pre-compact bloom sidecars must be vacuumable")
    // default grace protects freshly-staged files: nothing this young
    // may be deleted (the in-flight-writer guard)
    assert(TableLog.vacuumList(t).isEmpty,
      "default grace must shield young unreferenced files")
    assert(TableLog.vacuum(t, graceMillis = 0) == victims.size)
    assert(TableLog.snapshotWhereIn(spark, t, Seq(3L)).count() == 20)
  }

  test("statsOf answers rows/min/max from the manifest alone, exactly") {
    val t = freshDir()
    TableLog.create(kv((0L to 99L).map(i => (i, s"a$i"))), t, "k", 3)
    assert(TableLog.statsOf(t) == ((100L, 0L, 99L)))
    TableLog.deleteWhere(spark, t, col("k").between(90L, 99L), 1)
    assert(TableLog.statsOf(t) == ((90L, 0L, 89L)),
      "rewrite must tighten the max bound — stats are true bounds, not stale")
    assert(TableLog.statsOf(t, version = 1L) == ((100L, 0L, 99L)))
  }

  test("readAppendsSince feeds append windows, fails fast across rewrites") {
    val t = freshDir()
    TableLog.create(kv(Seq(1L -> "a")), t, "k", 1)
    TableLog.append(kv(Seq(2L -> "b")), t, 1)
    TableLog.append(kv(Seq(3L -> "c")), t, 1)
    val feed = TableLog.readAppendsSince(spark, t, sinceVersion = 1L)
      .collect().map(_.getLong(0)).toSet
    assert(feed == Set(2L, 3L), "feed must be exactly the appended rows")
    // empty window is an empty frame, not an error
    assert(TableLog.readAppendsSince(spark, t, sinceVersion = 3L).count() == 0)
    // a rewrite inside the window would double-count: fail fast
    TableLog.compact(spark, t, 1)
    intercept[IllegalStateException] {
      TableLog.readAppendsSince(spark, t, sinceVersion = 1L)
    }
    // a window ending before the rewrite still reads
    assert(TableLog.readAppendsSince(spark, t, 1L, upToVersion = 3L)
      .count() == 2)
  }

  test("applyCdc lands insert/update/delete as one commit, COW-bounded") {
    val t = freshDir()
    TableLog.create(kv((0L to 99L).map(i => (i, s"a$i"))), t, "k", 1)
    TableLog.append(kv((100L to 199L).map(i => (i, s"b$i"))), t, 1)
    import spark.implicits._
    val changes = Seq(
      (150L, "UPD", "update"), (7L, "", "delete"), (500L, "INS", "insert"))
      .toDF("k", "v", "action")
    TableLog.applyCdc(spark, t, changes, numFiles = 1)
    val h = TableLog.history(t).last
    assert(h.op == "cdc" && h.nRemoves == 2,
      s"both touched files rewritten in one commit, got $h")
    assert(TableLog.latestVersion(t) == 3L, "one atomic commit, not three")
    val got = TableLog.snapshot(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 200 && got(150L) == "UPD" && got(500L) == "INS"
      && !got.contains(7L) && got(0L) == "a0")
    // the applied batch is recoverable as a diff: v2 -> v3
    val d = TableLog.diffVersions(spark, t, 2L, 3L).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(d == Set((150L, "update"), (7L, "delete"), (500L, "insert")),
      "applyCdc then diffVersions must round-trip the change batch")
  }

  test("q330-q334 demo family invariants on the sf fixture") {
    import graft.ops.TableOps
    val v331 = TableOps.queries("q331_table_time_travel")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(v331.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(v331(4L) == v331(5L), "compaction must not change the snapshot")
    assert(v331(1L)._1 < v331(2L)._1 && v331(2L)._1 < v331(3L)._1)
    assert(v331(4L)._1 < v331(3L)._1, "delete must shrink the table")
    val hist = TableOps.queries("q333_table_history")(spark, sf0001).collect()
    assert(hist.map(_.getString(1)).toSeq
      == Seq("create", "append", "append", "delete", "compact"))
    assert(hist.last.getLong(4) == v331(5L)._1)
    val pruned = TableOps.queries("q334_table_pruned_read")(spark, sf0001)
      .collect()
    assert(pruned.nonEmpty && pruned.forall(r =>
      r.getLong(0) >= 1000L && r.getLong(0) <= 5000L
        && r.getLong(0) % 4 != 3))
    val merged = TableOps.queries("q332_table_merge")(spark, sf0001).collect()
    assert(merged.exists(_.getLong(0) < 0), "merge inserts missing")
    assert(merged.filter(_.getLong(0) >= 0).forall(_.getLong(0) % 4 == 0))
  }

  test("q335-q337 transactional family invariants on the sf fixture") {
    import graft.ops.TableOps
    // q335 ingests the two slices THREE times (normal, same checkpoint,
    // fresh checkpoint) — exactly-once means counts match one copy
    val ing = TableOps.queries("q335_table_stream_ingest")(spark, sf0001)
      .collect()
    val expected = graft.Tables.orders(spark, sf0001)
      .where(expr("o_orderkey % 4 IN (0, 1)")).count()
    assert(ing.map(_.getLong(1)).sum == expected,
      s"stream ingest not exactly-once: ${ing.map(_.getLong(1)).sum} vs $expected")
    // q336: v3→v5 diff is purely the URGENT deletes, compaction invisible
    val cdc = TableOps.queries("q336_table_cdc_diff")(spark, sf0001).collect()
    assert(cdc.nonEmpty && cdc.forall(_.getString(1) == "delete"))
    // q337: pre-evolution groups are null-filled (sum pinned to 0)
    val evo = TableOps.queries("q337_table_schema_evolution")(spark, sf0001)
      .collect()
    assert(evo.exists(_.getBoolean(1)) && evo.exists(!_.getBoolean(1)))
    evo.filter(_.getBoolean(1)).foreach(r => assert(r.getDouble(3) == 0.0))
  }

  test("compactZorder: logical no-op that localizes the second column") {
    val t = freshDir()
    import spark.implicits._
    // y correlates with nothing: under the key-range layout every file
    // spans the full y domain; the z-order layout must shrink it
    val df = (0L to 255L).map(i => (i, (i * 97L) % 256L, s"v$i"))
      .toDF("k", "y", "v")
    TableLog.create(df, t, "k", numFiles = 4)
    def spreadPerFile(): Seq[Long] = {
      val snap = TableLog.state(t)
      snap.active.map { a =>
        val f = spark.read.parquet(java.nio.file.Paths.get(t, a.relPath).toString)
        val r = f.agg(org.apache.spark.sql.functions.min($"y"),
          org.apache.spark.sql.functions.max($"y")).collect().head
        r.getLong(1) - r.getLong(0)
      }
    }
    val before = spreadPerFile()
    val content = TableLog.snapshot(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    TableLog.compactZorder(spark, t, "k", "y", numFiles = 4)
    assert(TableLog.history(t).last.op == "zorder")
    // logical no-op
    val after = TableLog.snapshot(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(after == content, "zorder changed table contents")
    // physical effect: mean per-file y-spread shrinks
    val spreadAfter = spreadPerFile()
    assert(spreadAfter.sum.toDouble / spreadAfter.size <
      before.sum.toDouble / before.size,
      s"z-order did not localize y: before=$before after=$spreadAfter")
    // key stats recomputed over the re-laid files: pruned reads still exact
    val rows = TableLog.snapshotWhereKey(spark, t, 10L, 20L).collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == (10L to 20L))
    // a rewrite: the incremental feed must refuse to cross it
    intercept[IllegalStateException] {
      TableLog.readAppendsSince(spark, t, sinceVersion = 0L)
    }
  }

  test("vacuumRetain: retained versions keep every reachable file, " +
      "in-window time travel survives, out-of-window reads fail loudly") {
    val t = freshDir()
    TableLog.create(kv((0L to 49L).map(i => (i, s"a$i"))), t, "k", 2) // v1
    TableLog.append(kv((50L to 99L).map(i => (i, s"b$i"))), t, 2)     // v2
    TableLog.compact(spark, t, 1)                                     // v3
    TableLog.deleteWhere(spark, t, col("k") % 10 === 0, 1)            // v4
    // retention must keep at least the latest version
    intercept[IllegalArgumentException] {
      TableLog.vacuumListRetain(t, 0, graceMillis = 0L)
    }
    // full retention: every on-disk file is reachable by SOME retained
    // version — the refusal is structural, nothing lists
    assert(TableLog.vacuumListRetain(t, 4, graceMillis = 0L).isEmpty)
    // retain {v3, v4}: exactly the v1/v2 stage files (4) are orphans;
    // v3's compacted file survives — v4 rewrote it, but v3 is retained
    val victims = TableLog.vacuumListRetain(t, 2, graceMillis = 0L)
    assert(victims.size == 4, victims.toString)
    val r = TableLog.vacuumRetain(t, 2, graceMillis = 0L)
    assert(r.filesDeleted == 4 && r.rowsReclaimed == 100L, r.toString)
    // in-window time travel survives the vacuum by construction
    assert(TableLog.snapshot(spark, t, 3L).count() == 100L)
    assert(TableLog.snapshot(spark, t, 4L).count() == 90L)
    // out-of-window: manifests stay (history auditable) but the read
    // fails loudly — the disclosed retention trade
    assert(TableLog.history(t).size == 4)
    intercept[Exception] { TableLog.snapshot(spark, t, 1L).count() }
    // idempotent: a second vacuum finds nothing
    assert(TableLog.vacuumRetain(t, 2, graceMillis = 0L).filesDeleted == 0)
  }

  test("compactSmall folds only the small-file debt: big files rest " +
      "untouched, totals exact, repeat run is a no-op") {
    val t = freshDir()
    TableLog.create(kv((0L to 4999L).map(i => (i, s"a$i"))), t, "k", 1) // big
    (0 until 6).foreach(j =>
      TableLog.append(kv(Seq((5000L + j, s"t$j"))), t, 1)) // 6 tiny files
    val before = TableLog.state(t)
    assert(before.active.size == 7)
    val bigPath = before.active.maxBy(_.rows).relPath
    val bigSize = Files.size(Paths.get(t, bigPath))
    TableLog.compactSmall(spark, t, smallBytes = bigSize, targetFiles = 1)
    val after = TableLog.state(t)
    // the big file is still the SAME file — never rewritten
    assert(after.active.exists(_.relPath == bigPath), "big file rewritten")
    assert(after.active.size == 2, after.active.map(_.relPath).toString)
    assert(TableLog.snapshot(spark, t).count() == 5006L)
    assert(TableLog.snapshot(spark, t)
      .where(col("k") === 5003L).collect().head.getString(1) == "t3")
    // debt at/below target: version does not move
    val v = TableLog.latestVersion(t)
    assert(TableLog.compactSmall(spark, t, bigSize, 1) == v)
  }

  test("renameColumn: metadata-only rename reads old bytes under the " +
      "new name; appends keep working; time travel reads the old era") {
    val t = freshDir()
    TableLog.create(kv((0L to 49L).map(i => (i, s"a$i"))), t, "k", 2) // v1
    TableLog.renameColumn(t, "v", "label")                            // v2
    val snap = TableLog.state(t)
    assert(snap.schemaDdl.contains("label") && !snap.schemaDdl.contains("`v`"))
    assert(snap.colMap == Map("label" -> "v"))
    val got = TableLog.snapshot(spark, t)
    assert(got.columns.toSeq == Seq("k", "label"))
    assert(got.collect().map(r => r.getLong(0) -> r.getString(1))
      .toMap.apply(7L) == "a7")
    // appends AFTER the rename present the logical name, land under
    // the physical one, and read back seamlessly
    import spark.implicits._
    TableLog.append((50L to 59L).map(i => (i, s"b$i")).toDF("k", "label"),
      t, 1)                                                           // v3
    val all = TableLog.snapshot(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(all.size == 60 && all(55L) == "b55" && all(3L) == "a3")
    // time travel BEFORE the rename reads the old schema and name
    val era1 = TableLog.snapshot(spark, t, 1L)
    assert(era1.columns.toSeq == Seq("k", "v"))
    assert(era1.count() == 50)
    // chained rename back to the original name collapses the mapping
    TableLog.renameColumn(t, "label", "v")
    assert(TableLog.state(t).colMap.isEmpty)
    assert(TableLog.snapshot(spark, t).columns.toSeq == Seq("k", "v"))
  }

  test("dropColumn: metadata-only narrow; re-adding the physical name " +
      "refused until compaction materializes the mapping away") {
    import spark.implicits._
    val t = freshDir()
    TableLog.create((0L to 29L).map(i => (i, s"a$i", i * 2))
      .toDF("k", "v", "w"), t, "k", 2)
    TableLog.dropColumn(t, "w")
    val snap = TableLog.state(t)
    assert(snap.droppedPhys == Set("w"))
    val got = TableLog.snapshot(spark, t)
    assert(got.columns.toSeq == Seq("k", "v"))
    assert(got.count() == 30)
    // the bytes are still in the files; resurrecting them via ADD
    // COLUMN of the same name is refused
    val e = intercept[IllegalArgumentException](TableLog.evolveSchema(t,
      org.apache.spark.sql.types.StructType.fromDDL("w BIGINT")))
    assert(e.getMessage.contains("PHYSICAL"), e.getMessage)
    // a rename to the dropped physical name is refused the same way
    val e2 = intercept[IllegalArgumentException](
      TableLog.renameColumn(t, "v", "w"))
    assert(e2.getMessage.contains("PHYSICAL"), e2.getMessage)
    // compaction rewrites every file under logical names: the
    // mapping and tombstones clear, and the name is free again
    TableLog.compact(spark, t, 1)
    assert(TableLog.state(t).colMap.isEmpty &&
      TableLog.state(t).droppedPhys.isEmpty)
    TableLog.evolveSchema(t,
      org.apache.spark.sql.types.StructType.fromDDL("w STRING"))
    val after = TableLog.snapshot(spark, t)
    assert(after.columns.toSeq == Seq("k", "v", "w"))
    // the re-added w is null-filled, NOT the old bytes
    assert(after.where(col("w").isNotNull).count() == 0)
    // time travel to the pre-drop era still reads the old column
    assert(TableLog.snapshot(spark, t, 1L)
      .where(col("w") === 14L).count() == 1)
  }

  test("rename/drop refuse structural columns; restore crosses a " +
      "rename with the old mapping intact") {
    import spark.implicits._
    val t = freshDir()
    TableLog.create((0L to 19L).map(i => (i, s"g${i % 3}", s"a$i"))
      .toDF("k", "p", "v"), t, "k", 1, bloomCol = Some("p"),
      partCols = Seq("p"))
    intercept[IllegalArgumentException](TableLog.renameColumn(t, "k", "kk"))
    intercept[IllegalArgumentException](TableLog.renameColumn(t, "p", "pp"))
    intercept[IllegalArgumentException](TableLog.dropColumn(t, "k"))
    intercept[IllegalArgumentException](TableLog.dropColumn(t, "p"))
    // restore to the pre-rename version brings the old name back
    TableLog.renameColumn(t, "v", "txt")                               // v2
    assert(TableLog.snapshot(spark, t).columns.contains("txt"))
    TableLog.restore(t, 1L)                                            // v3
    val snap = TableLog.state(t)
    assert(snap.colMap.isEmpty &&
      TableLog.snapshot(spark, t).columns.toSeq == Seq("k", "p", "v"))
    // DML after the round trip stays exact
    TableLog.deleteWhere(spark, t, col("v") === "a5", 1)
    assert(TableLog.snapshot(spark, t).count() == 19)
  }

  test("column stats and key pruning survive a rename: predicates on " +
      "the NEW name skip files via stats recorded under the old one") {
    import spark.implicits._
    val t = freshDir()
    // two well-separated files on a non-key long column
    TableLog.create((0L to 99L).map(i => (i, i * 10))
      .toDF("k", "metric"), t, "k", 2)
    TableLog.renameColumn(t, "metric", "score")
    val snap = TableLog.state(t)
    // the manifest stats still speak the physical name
    assert(snap.active.forall(_.cols.exists(_.col == "metric")))
    assert(snap.physName("score") == "metric")
    // a read filtered on the logical name is exact
    val n = TableLog.snapshot(spark, t).where(col("score") >= 500L).count()
    assert(n == 50)
  }

  test("file-disjoint concurrent rewrites both commit; overlapping " +
      "removals abort — the Delta conflict rule at file grain") {
    val t = freshDir()
    // two partition-like slices in separate files via planted layout
    TableLog.create(kv((0L to 49L).map(i => (i, s"a$i"))), t, "k", 1)  // f1
    TableLog.append(kv((100L to 149L).map(i => (i, s"b$i"))), t, 1)    // f2
    val snap = TableLog.state(t)                                       // v2
    val Seq(f1, f2) = snap.active.sortBy(_.min).toList.toSeq
    // both rewrites are computed against the SAME snapshot (v2) and
    // race at the commit step: A wins v3; B collides, sees its
    // removed file still active, rebases, and lands v4
    def rewrite(doomed: TableLog.AddFile, keepAbove: Long): Seq[TableLog.AddFile] = {
      import spark.implicits._
      val survivors = TableLog.snapshot(spark, t)
        .where(col("k") >= doomed.min && col("k") <= doomed.max &&
          col("k") % 2 === 0)
      // stage survivors as external files (the commitStagedRewrite shape)
      val stageDir = Paths.get(t, "data",
        "race-" + java.util.UUID.randomUUID().toString.take(8))
      survivors.coalesce(1).write.parquet(stageDir.toString)
      val part = Files.list(stageDir).iterator()
      val file = Iterator.continually(part)
        .takeWhile(_.hasNext).flatMap(_ => Iterator(part.next()))
        .map(_.toString).find(_.endsWith(".parquet")).get
      val rows = spark.read.parquet(file).count()
      Seq(TableLog.AddFile(
        Paths.get(t).relativize(Paths.get(file)).toString,
        rows, doomed.min, doomed.max))
    }
    val addsA = rewrite(f1, 0L)
    val addsB = rewrite(f2, 100L)
    // commit A at expected v2 → v3
    val vA = TableLog.commit(t, snap.version, "delete", addsA,
      Seq(f1.relPath), "", "")
    assert(vA == 3L)
    // commit B ALSO at expected v2: the link at v3 is taken, B's
    // removed file (f2) is still active → rebase lands v4
    val vB = TableLog.commit(t, snap.version, "delete", addsB,
      Seq(f2.relPath), "", "")
    assert(vB == 4L)
    // readback exact: evens of both slices
    val keys = TableLog.snapshot(spark, t).collect().map(_.getLong(0)).toSet
    assert(keys == ((0L to 49L) ++ (100L to 149L)).filter(_ % 2 == 0).toSet)
    // OVERLAPPING removals: a third rewrite computed against v2 that
    // removes f1 (already rewritten by A) must abort loudly
    val e = intercept[java.util.ConcurrentModificationException](
      TableLog.commit(t, snap.version, "delete", Nil, Seq(f1.relPath),
        "", ""))
    assert(e.getMessage.contains("rewrote files"), e.getMessage)
  }
  test("protocol gate: a manifest from a NEWER engine refuses with an " +
      "upgrade message, not a wrong answer or a corruption error") {
    val t = freshDir()
    TableLog.create(kv(Seq(1L -> "a")), t, "k", 1)
    // current-protocol manifests round-trip (every commit carries the line)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(t, "_log", f"v${1L}%016d.commit"))
      .contains(s"protocol ${TableLog.protocolVersion}"))
    // a future engine writes v2 with a higher protocol
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(t, "_log", f"v${2L}%016d.commit"),
      "op append\nprotocol 99\nkey k\nschema \n")
    val e = intercept[IllegalStateException] { TableLog.state(t) }
    assert(e.getMessage.contains("protocol 99") &&
      e.getMessage.contains("upgrade"), e.getMessage)
  }

  test("merge-on-read DML refuses a bulk match: the driver-collect " +
      "guard bounds total matched rows, sliver DMLs still land") {
    val t = freshDir()
    TableLog.create(kv((0L to 99L).map(i => (i, s"x$i"))), t, "k", 2)
    val capped = GraftSession.scoped(spark, "spark.graft.dv.maxMatchedRows" -> "10")
    val e = intercept[IllegalArgumentException] {
      TableLog.deleteWhereDv(capped, t, col("k") < 50L)
    }
    assert(e.getMessage.contains("bulk DML") &&
      e.getMessage.contains("copy-on-write"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      TableLog.updateWhereDv(capped, t, col("k") < 50L,
        Map("v" -> lit("z")))
    }
    assert(e2.getMessage.contains("bulk DML"), e2.getMessage)
    // nothing committed by the refusals
    assert(TableLog.latestVersion(t) == 1L)
    // a sliver under the cap lands normally
    TableLog.deleteWhereDv(capped, t, col("k") < 5L)
    assert(TableLog.liveRowsOf(t) == 95L)
    // the refusal's own advice ("raise the knob") must not wrap the
    // probe: at Long.MaxValue the delete still DELETES (a silent
    // zero-limit no-op here would report success and remove nothing)
    TableLog.deleteWhereDv(GraftSession.scoped(spark,
      "spark.graft.dv.maxMatchedRows" -> Long.MaxValue.toString), t, col("k") === 7L)
    assert(TableLog.liveRowsOf(t) == 94L,
      "an un-capped DV delete must still delete")
  }

  test("merge-on-read MERGE: a sparse tri-clause merge lands DV " +
      "sidecars plus fresh files — a 1-row match in an N-row file " +
      "NEVER rewrites the file; arms, cardinality and stats exact") {
    import spark.implicits._
    import TableLog.{MergeArm, MergeTargetPrefix => T, MergeSourcePrefix => S}
    val t = freshDir()
    TableLog.create(kv((0L to 99L).map(i => (i, s"a$i"))), t, "k", 4)
    val filesBefore = TableLog.state(t).active.map(_.relPath).toSet
    def mtime(rel: String) =
      Files.getLastModifiedTime(Paths.get(t, rel)).toMillis
    val stamps = filesBefore.map(r => r -> mtime(r)).toMap
    // tri-clause: one update, one delete, one insert — all sparse
    val changes = Seq((5L, "UPD", "u"), (7L, "", "d"), (200L, "NEW", "i"))
      .toDF("k", "v", "op")
    TableLog.mergeDv(spark, t, changes,
      col(T + "k") === col(S + "k"),
      matched = Seq(
        MergeArm(Some(col(S + "op") === "d"), "delete"),
        MergeArm(None, "update", Map("v" -> col(S + "v")))),
      notMatched = Seq(MergeArm(None, "insert",
        Map("k" -> col(S + "k"), "v" -> col(S + "v")))))
    val st = TableLog.state(t)
    // every original file is still ACTIVE under its own relPath — the
    // matched ones under new DV tokens, the bytes untouched
    assert(filesBefore.subsetOf(st.active.map(_.relPath).toSet))
    filesBefore.foreach(r => assert(mtime(r) == stamps(r),
      s"mergeDv rewrote $r — merge-on-read must never touch data bytes"))
    // the two matched rows died via sidecars; images landed fresh
    val dv = st.active.filter(_.dv.isDefined)
    assert(dv.map(_.dv.get._2).sum == 2L, s"dead rows: $dv")
    assert(dv.forall(_.dvExact), "merge DVs must re-derive exact bounds")
    val got = TableLog.snapshot(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 100 && got(5L) == "UPD" && got(200L) == "NEW" &&
      !got.contains(7L) && got(6L) == "a6", s"merge readback wrong")
    // stats stay answerable and exact through the MoR merge
    assert(TableLog.statsOf(t) == ((100L, 0L, 200L)))
    // the change-exact diff reads the MoR merge commit exactly:
    // contentId identity sees the DV re-adds, each side applies its
    // own deletion vector — update, delete and insert all surface
    val diff = TableLog.diffVersions(spark, t, 1L, 2L).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(diff == Map(5L -> "update", 7L -> "delete", 200L -> "insert"),
      s"MoR merge diff wrong: $diff")
    // cardinality: two source rows modifying one target row refuse
    val e = intercept[IllegalArgumentException] {
      TableLog.mergeDv(spark, t,
        Seq((5L, "x", "u"), (5L, "y", "u")).toDF("k", "v", "op"),
        col(T + "k") === col(S + "k"),
        matched = Seq(MergeArm(None, "update", Map("v" -> col(S + "v")))))
    }
    assert(e.getMessage.contains("cardinality"), e.getMessage)
    // not-matched-by-source: rows no source row names get swept
    TableLog.mergeDv(spark, t, Seq(5L).toDF("k"),
      col(T + "k") === col(S + "k"),
      notMatchedBySource = Seq(
        MergeArm(Some(col(T + "k") >= 90L && col(T + "k") <= 99L),
          "delete")))
    assert(TableLog.snapshot(spark, t).count() == 90L)
    assert(TableLog.snapshot(spark, t).where($"k" === 5L).count() == 1L)
  }

  test("merge-on-read image staging sizes itself to the tuple spread: " +
      "a DML touching MORE partitions than the per-file cap lands") {
    import spark.implicits._
    val tp = freshDir()
    // 100 distinct partition values — beyond maxPartTuplesPerFile (64)
    TableLog.create((0L to 199L).map(i => (i, s"p${i % 100}", "old"))
      .toDF("k", "p", "v"), tp, "k", 4, partCols = Seq("p"))
    // a broad MoR update across every tuple: with the default single
    // staged file this would refuse at the tuple cap; the spread-sized
    // staging must land it
    TableLog.updateWhereDv(spark, tp, col("v") === "old",
      Map("v" -> lit("new")))
    assert(TableLog.snapshot(spark, tp).where(col("v") === "new")
      .count() == 200L)
    // tuple stats stay exact through the wide update
    val st = TableLog.state(tp)
    st.active.foreach(a =>
      assert(a.parts.map(_.rows).sum == a.liveRows, a))
    assert(st.active.flatMap(_.parts).map(_.rows).sum == 200L)
  }

  test("mergeDv composes with COLUMN MAPPING: a renamed column's old " +
      "bytes read and stage correctly through the merge-on-read merge") {
    import spark.implicits._
    import TableLog.{MergeArm, MergeTargetPrefix => T, MergeSourcePrefix => S}
    val t = freshDir()
    TableLog.create(kv((0L to 19L).map(i => (i, s"a$i"))), t, "k", 2)
    TableLog.renameColumn(t, "v", "label") // metadata-only; files keep 'v'
    TableLog.mergeDv(spark, t,
      Seq((3L, "UPD"), (100L, "NEW")).toDF("k", "label"),
      col(T + "k") === col(S + "k"),
      matched = Seq(MergeArm(None, "update",
        Map("label" -> col(S + "label")))),
      notMatched = Seq(MergeArm(None, "insert",
        Map("k" -> col(S + "k"), "label" -> col(S + "label")))))
    val got = TableLog.snapshot(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 21 && got(3L) == "UPD" && got(100L) == "NEW" &&
      got(4L) == "a4", s"colMap merge readback wrong: $got")
    // the DV'd pre-rename file still reads through the map
    assert(TableLog.state(t).active.exists(_.dv.isDefined))
  }

  test("mergeDv key pruning reads ONLY the intersecting sliver: a " +
      "corrupted out-of-range file never opens; NMBS arms refuse it") {
    import spark.implicits._
    import TableLog.{MergeArm, MergeTargetPrefix => T, MergeSourcePrefix => S}
    val t = freshDir()
    TableLog.create(kv((0L to 99L).map(i => (i, s"a$i"))), t, "k", 4)
    // vandalize the file holding the TOP key range — a merge whose
    // source keys live at the bottom must never open it
    val top = TableLog.state(t).active.maxBy(_.max)
    Files.write(Paths.get(t, top.relPath), "not parquet".getBytes)
    val changes = Seq((3L, "UPD")).toDF("k", "v")
    TableLog.mergeDv(spark, t, changes, col(T + "k") === col(S + "k"),
      matched = Seq(MergeArm(None, "update", Map("v" -> col(S + "v")))),
      pruneOn = Some(("k", "k")))
    // the update landed without touching the vandalized range
    val live = TableLog.state(t).active
      .filter(_.relPath != top.relPath)
    assert(TableLog.readFiles(spark, t, TableLog.state(t), live)
      .where($"k" === 3L).collect().head.getString(1) == "UPD")
    // pruning + not-matched-by-source cannot compose: NMBS must see
    // every target row
    val e = intercept[IllegalArgumentException] {
      TableLog.mergeDv(spark, t, changes, col(T + "k") === col(S + "k"),
        notMatchedBySource = Seq(MergeArm(None, "delete")),
        pruneOn = Some(("k", "k")))
    }
    assert(e.getMessage.contains("not-matched-by-source"), e.getMessage)
  }

  test("a MERGE losing a commit race NEVER rebases: its not-matched " +
      "decisions read the whole target, so a concurrent append may " +
      "have invalidated them without touching any removed file") {
    val t = freshDir()
    TableLog.create(kv(Seq(1L -> "a")), t, "k", 1)
    val snap1 = TableLog.state(t)
    // concurrent winner: appends k=2 while the merge below is in flight
    TableLog.append(kv(Seq(2L -> "b")), t, 1) // v2
    // loser: an INSERT-ONLY merge planned against v1 decided k=2 was
    // NOT MATCHED — it removes nothing, so the remove-set replay
    // cannot catch it; rebasing would land the duplicate key silently
    val e = intercept[java.util.ConcurrentModificationException] {
      TableLog.commit(t, snap1.version, "merge",
        adds = Seq(TableLog.AddFile("data/zz/m.parquet", 1L, 2L, 2L)),
        removes = Nil, schemaDdl = "", keyCol = "")
    }
    assert(e.getMessage.contains("merge"), e.getMessage)
    // appends against the same stale snapshot still rebase freely
    val v = TableLog.commit(t, snap1.version, "append",
      adds = Seq(TableLog.AddFile("data/zz/a.parquet", 1L, 9L, 9L)),
      removes = Nil, schemaDdl = "", keyCol = "")
    assert(v == 3L)
  }

  test("mergeDv materializes the source ONCE: the matched join, both " +
      "anti-joins and the staged write all read the same frozen frame " +
      "(a nondeterministic source stays self-consistent)") {
    import spark.implicits._
    import TableLog.{MergeArm, MergeTargetPrefix => T, MergeSourcePrefix => S}
    val t = freshDir()
    TableLog.create(kv((0L to 9L).map(i => (i, s"a$i"))), t, "k", 1)
    val evals = spark.sparkContext.longAccumulator("graft-src-evals")
    val tick = udf { (k: Long) => evals.add(1L); k }.asNondeterministic()
    val src = Seq((3L, "UPD"), (100L, "NEW")).toDF("k0", "v")
      .select(tick(col("k0")).as("k"), col("v"))
    TableLog.mergeDv(spark, t, src, col(T + "k") === col(S + "k"),
      matched = Seq(MergeArm(None, "update", Map("v" -> col(S + "v")))),
      notMatched = Seq(MergeArm(None, "insert",
        Map("k" -> col(S + "k"), "v" -> col(S + "v")))))
    val got = TableLog.snapshot(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 11 && got(3L) == "UPD" && got(100L) == "NEW", got)
    assert(evals.value == 2L,
      s"source plan evaluated ${evals.value} row-expressions for a " +
        "2-row source — the source must freeze before any join")
  }

  test("DV DML survivor stats derive from the COLLECTED dead " +
      "positions, never a second predicate evaluation: a cond that " +
      "answers differently on re-evaluation still stamps EXACT bounds") {
    import spark.implicits._
    val t = freshDir()
    TableLog.create(kv((0L to 9L).map(i => (i, s"a$i"))), t, "k", 1)
    // true for k=9 on its FIRST evaluation only: a survivor pass that
    // re-ran the predicate would see k=9 as a survivor and stamp
    // max=9 as dvExact while the row is dead
    val once = udf { (k: Long) =>
      k == 9L && TableLogSpec.ndFlips.incrementAndGet() == 1L
    }.asNondeterministic()
    TableLog.deleteWhereDv(spark, t, once(col("k")))
    assert(TableLog.snapshot(spark, t).count() == 9L)
    assert(TableLog.statsOf(t) == ((9L, 0L, 8L)),
      s"survivor bounds must exclude the dead extremum: " +
        s"${TableLog.statsOf(t)}")
  }

  test("mergeDv STRING envelope pruning (pruneOn): an ON equality on " +
      "a stat-covered string column reads ONLY the intersecting " +
      "files — a corrupted out-of-range file never opens") {
    import spark.implicits._
    import TableLog.{MergeArm, MergeTargetPrefix => T, MergeSourcePrefix => S}
    val t = freshDir()
    // names correlate with the key, so the 4 range-partitioned files
    // carry disjoint string stat ranges for 'name'
    TableLog.create((0L to 99L).map(i => (i, f"n$i%03d", "old"))
      .toDF("k", "name", "v"), t, "k", 4)
    val top = TableLog.state(t).active.maxBy(_.max)
    Files.write(Paths.get(t, top.relPath), "not parquet".getBytes)
    TableLog.mergeDv(spark, t,
      Seq(("n003", "UPD"), ("n004", "UPD4")).toDF("name", "nv"),
      col(T + "name") === col(S + "name"),
      matched = Seq(MergeArm(None, "update", Map("v" -> col(S + "nv")))),
      pruneOn = Some(("name", "name")))
    val st = TableLog.state(t)
    val live = st.active.filter(_.relPath != top.relPath)
    val got = TableLog.readFiles(spark, t, st, live)
      .where($"k" === 3L).collect().head.getString(2)
    assert(got == "UPD", s"string-envelope-pruned merge readback: $got")
    // cross-domain / key-range forms still work: integral pruneOn on
    // the table key takes the manifest key range
    TableLog.mergeDv(spark, t, Seq((5L, "UPD5")).toDF("k", "nv"),
      col(T + "k") === col(S + "k"),
      matched = Seq(MergeArm(None, "update", Map("v" -> col(S + "nv")))),
      pruneOn = Some(("k", "k")))
    val st2 = TableLog.state(t)
    val got5 = TableLog.readFiles(spark, t, st2,
      st2.active.filter(_.relPath != top.relPath))
      .where($"k" === 5L).collect().head.getString(2)
    assert(got5 == "UPD5", s"key pruneOn readback: $got5")
  }

  test("bulk DV DML falls back to COPY-ON-WRITE: over-cap SQL DELETE " +
      "and UPDATE on a dv.mode table land rewrites (no sidecars) with " +
      "exact results; dv.strict keeps the hard refusal") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graftlog",
      "graft.sources.GraftLogCatalog")
    val t = freshDir()
    TableLog.create((0L to 99L).map(i => (i, s"a$i")).toDF("k", "v"),
      t, "k", 2)
    TableLog.setProps(t, TableLog.state(t).props +
      ("dv.mode" -> "merge-on-read"))
    val capped = GraftSession.scoped(spark, "spark.graft.dv.maxMatchedRows" -> "5")
    // 50 matches > cap 5: the statement re-routes copy-on-write
    capped.sql(s"DELETE FROM graftlog.`$t` WHERE k < 50")
    assert(capped.sql(s"SELECT count(*) FROM graftlog.`$t`")
      .collect().head.getLong(0) == 50L)
    assert(TableLog.state(t).active.forall(_.dv.isEmpty),
      "the fallback must land a rewrite, not sidecars")
    assert(TableLog.history(t).last.op == "delete")
    // an under-cap delete still takes the DV route
    capped.sql(s"DELETE FROM graftlog.`$t` WHERE k = 55")
    assert(TableLog.state(t).active.exists(_.dv.isDefined),
      "an under-cap delete must stay merge-on-read")
    // over-cap UPDATE falls back too (the COW updateWhere carries
    // row identity by construction) and materializes the prior DV
    // in its rewrite
    capped.sql(s"UPDATE graftlog.`$t` SET v = 'upd' WHERE k >= 60")
    assert(capped.sql(
      s"SELECT count(*) FROM graftlog.`$t` WHERE v = 'upd'")
      .collect().head.getLong(0) == 40L)
    assert(capped.sql(s"SELECT count(*) FROM graftlog.`$t`")
      .collect().head.getLong(0) == 49L)
    assert(TableLog.history(t).last.op == "update")
    // dv.strict: the hard refusal is back
    TableLog.setProps(t, TableLog.state(t).props +
      ("dv.strict" -> "true"))
    def msgs(x: Throwable): String =
      if (x == null) "" else s"${x.getMessage} | ${msgs(x.getCause)}"
    val e = intercept[Exception] {
      capped.sql(s"DELETE FROM graftlog.`$t` WHERE k >= 60")
    }
    assert(msgs(e).contains("maxMatchedRows"), msgs(e))
    val e2 = intercept[Exception] {
      capped.sql(s"UPDATE graftlog.`$t` SET v = 'x' WHERE k >= 60")
    }
    assert(msgs(e2).contains("maxMatchedRows"), msgs(e2))
  }

  test("CALL graftlog.compact_where folds ONE partition's DV debt: " +
      "the scoped day rewrites (DVs materialize), every other file " +
      "is byte-identical, #partitions exact, time travel intact") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graftlog",
      "graft.sources.GraftLogCatalog")
    val t = freshDir() + "/t"
    def day(d: Int) =
      java.sql.Timestamp.valueOf(f"2024-06-$d%02d 10:00:00")
    TableLog.createEmpty(t, "k BIGINT, ts TIMESTAMP, v STRING", "k",
      partCols = Seq("days:ts"))
    // one file per day — appends keep the attribution exact
    (1 to 4).foreach { d =>
      TableLog.append((0L to 9L).map(i =>
        (d * 100L + i, day(d), s"v$d-$i")).toDF("k", "ts", "v"), t, 1)
    }
    TableLog.deleteWhereDv(spark, t, col("k") === 203L || col("k") === 305L)
    val stDv = TableLog.state(t)
    assert(stDv.active.count(_.dv.isDefined) == 2)
    val vPre = stDv.version
    def isDay(a: TableLog.AddFile, d: String) =
      a.parts.exists(_.values.headOption.contains(s"2024-06-$d"))
    def mtime(rel: String) =
      Files.getLastModifiedTime(Paths.get(t, rel)).toMillis
    val stamps = stDv.active.filterNot(isDay(_, "02"))
      .map(a => a.relPath -> mtime(a.relPath)).toMap
    val res = spark.sql(s"CALL graftlog.compact_where('$t', " +
      "\"ts >= TIMESTAMP'2024-06-02 00:00:00' AND " +
      "ts <= TIMESTAMP'2024-06-02 23:59:59'\", 1)").collect().head
    assert(res.getLong(1) == 1L, s"files_rewritten: $res")
    val st = TableLog.state(t)
    // the scoped day's debt reads ZERO: its active files carry no DV
    val day2 = st.active.filter(isDay(_, "02"))
    assert(day2.nonEmpty && day2.forall(_.dv.isEmpty), day2.toString)
    // day 3's debt remains, its bytes (and everyone else's) untouched
    assert(st.active.exists(a => a.dv.isDefined && isDay(a, "03")))
    stamps.foreach { case (r, ts0) =>
      assert(mtime(r) == ts0, s"compact_where touched $r") }
    // logical no-op; #partitions exact through the scoped rewrite
    val got = TableLog.snapshot(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got.size == 38 && !got.contains(203L) && !got.contains(305L)
      && got(204L) == "v2-4", s"rows: ${got.size}")
    val parts = spark.sql(
      s"SELECT `days(ts)`, row_count FROM graftlog.`$t#partitions`")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(parts == Map("2024-06-01" -> 10L, "2024-06-02" -> 9L,
      "2024-06-03" -> 9L, "2024-06-04" -> 10L), parts.toString)
    // time travel: pre-compaction AND pre-delete snapshots intact
    assert(TableLog.snapshot(spark, t, vPre).count() == 38L)
    assert(TableLog.snapshot(spark, t, vPre - 1L).count() == 40L)
    // a non-partition term must refuse — a silent widening would
    // rewrite partitions the caller promised to leave alone
    val e = intercept[Exception] {
      spark.sql(s"""CALL graftlog.compact_where('$t', "v = 'x'", 1)""")
    }
    assert(e.getMessage.contains("partition"), e.getMessage)
    // an out-of-scope condition is a version no-op
    val vNow = TableLog.latestVersion(t)
    spark.sql(s"CALL graftlog.compact_where('$t', " +
      "\"ts >= TIMESTAMP'2030-01-01 00:00:00'\", 1)")
    assert(TableLog.latestVersion(t) == vNow)
  }

  test("compact_where zorder => 'k,y' re-lays ONE day along the " +
      "Z-curve: that day's per-file y-spread shrinks, other days' " +
      "bytes untouched, logical no-op, tuple attribution exact") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graftlog",
      "graft.sources.GraftLogCatalog")
    val t = freshDir() + "/t"
    def day(d: Int) =
      java.sql.Timestamp.valueOf(f"2024-06-$d%02d 10:00:00")
    TableLog.createEmpty(t, "k BIGINT, ts TIMESTAMP, y BIGINT", "k",
      partCols = Seq("days:ts"))
    // day 2 carries the z-order candidate: y uncorrelated with k, so
    // the key-range layout leaves every file spanning the full y
    // domain (the compactZorder spec's construction, scoped)
    TableLog.append((0L to 9L).map(i => (100L + i, day(1), i))
      .toDF("k", "ts", "y"), t, 1)
    TableLog.append((0L to 255L).map(i => (1000L + i, day(2), (i * 97L) % 256L))
      .toDF("k", "ts", "y"), t, 1)
    TableLog.append((0L to 9L).map(i => (300L + i, day(3), i))
      .toDF("k", "ts", "y"), t, 1)
    def isDay(a: TableLog.AddFile, d: String) =
      a.parts.exists(_.values.headOption.contains(s"2024-06-$d"))
    def ySpread(files: Seq[TableLog.AddFile]): Seq[Long] = files.map { a =>
      val r = spark.read.parquet(Paths.get(t, a.relPath).toString)
        .agg(org.apache.spark.sql.functions.min($"y"),
          org.apache.spark.sql.functions.max($"y")).collect().head
      r.getLong(1) - r.getLong(0)
    }
    val pre = TableLog.state(t)
    val preDay2 = pre.active.filter(isDay(_, "02"))
    val spreadBefore = ySpread(preDay2)
    def mtime(rel: String) =
      Files.getLastModifiedTime(Paths.get(t, rel)).toMillis
    val stamps = pre.active.filterNot(isDay(_, "02"))
      .map(a => a.relPath -> mtime(a.relPath)).toMap
    val content = TableLog.snapshot(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val res = spark.sql(s"CALL graftlog.compact_where('$t', " +
      "\"ts >= TIMESTAMP'2024-06-02 00:00:00' AND " +
      "ts <= TIMESTAMP'2024-06-02 23:59:59'\", 4, " +
      "zorder => 'k,y')").collect().head
    assert(res.getLong(1) == 1L, s"files_rewritten: $res")
    assert(TableLog.history(t).last.op == "zorder")
    val st = TableLog.state(t)
    // the scoped day re-laid into 4 files, every one day-2-attributed
    val day2 = st.active.filter(isDay(_, "02"))
    assert(day2.size == 4, day2.map(_.relPath).toString)
    // z-locality: mean per-file y-spread shrinks vs the key layout
    val spreadAfter = ySpread(day2)
    assert(spreadAfter.sum.toDouble / spreadAfter.size <
      spreadBefore.sum.toDouble / spreadBefore.size,
      s"scoped z-order did not localize y: " +
        s"before=$spreadBefore after=$spreadAfter")
    // other days byte-identical; logical no-op; #partitions exact
    stamps.foreach { case (r, ts0) =>
      assert(mtime(r) == ts0, s"compact_where zorder touched $r") }
    val after = TableLog.snapshot(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(after == content, "scoped z-order changed table contents")
    val parts = spark.sql(
      s"SELECT `days(ts)`, row_count FROM graftlog.`$t#partitions`")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(parts == Map("2024-06-01" -> 10L, "2024-06-02" -> 256L,
      "2024-06-03" -> 10L), parts.toString)
    // a malformed zorder list refuses loudly
    val e = intercept[Exception] {
      spark.sql(s"CALL graftlog.compact_where('$t', " +
        "\"ts >= TIMESTAMP'2024-06-02 00:00:00' AND " +
        "ts <= TIMESTAMP'2024-06-02 23:59:59'\", 4, zorder => 'k')")
    }
    assert(e.getMessage.contains("two to four"), e.getMessage)
    // a non-integral z-order column refuses with a real message
    // (a silent cast would null the bounds instead)
    val e2 = intercept[Exception] {
      spark.sql(s"CALL graftlog.compact_where('$t', " +
        "\"ts >= TIMESTAMP'2024-06-02 00:00:00' AND " +
        "ts <= TIMESTAMP'2024-06-02 23:59:59'\", 4, zorder => 'k,ts')")
    }
    assert(e2.getMessage.contains("integral"), e2.getMessage)
  }

  test("compact_where zorder with THREE columns: 8 files split on " +
      "the three top interleave bits, both secondary columns " +
      "localize, logical no-op") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graftlog",
      "graft.sources.GraftLogCatalog")
    val t = freshDir() + "/t"
    val day2 = java.sql.Timestamp.valueOf("2024-06-02 10:00:00")
    TableLog.createEmpty(t,
      "k BIGINT, ts TIMESTAMP, y BIGINT, w BIGINT", "k",
      partCols = Seq("days:ts"))
    // y and w decorrelated from k and from each other: the key
    // layout leaves each file spanning both full domains
    TableLog.append((0L to 511L).map(i =>
      (i, day2, (i * 97L) % 512L, (i * 53L) % 512L))
      .toDF("k", "ts", "y", "w"), t, 1)
    def spread(c: String): Seq[Long] = TableLog.state(t).active.map { a =>
      val r = spark.read.parquet(Paths.get(t, a.relPath).toString)
        .agg(org.apache.spark.sql.functions.min(col(c)),
          org.apache.spark.sql.functions.max(col(c))).collect().head
      r.getLong(1) - r.getLong(0)
    }
    def mean(xs: Seq[Long]) = xs.sum.toDouble / xs.size
    val (y0, w0) = (mean(spread("y")), mean(spread("w")))
    val content = TableLog.snapshot(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    spark.sql(s"CALL graftlog.compact_where('$t', " +
      "\"ts >= TIMESTAMP'2024-06-02 00:00:00' AND " +
      "ts <= TIMESTAMP'2024-06-02 23:59:59'\", 8, " +
      "zorder => 'k,y,w')").collect()
    assert(TableLog.state(t).active.size == 8)
    // with 8 range splits over the 3-way interleave the top three
    // bits are one MSB per column — every column's spread shrinks
    val (y1, w1) = (mean(spread("y")), mean(spread("w")))
    assert(y1 < y0, s"y did not localize: $y0 -> $y1")
    assert(w1 < w0, s"w did not localize: $w0 -> $w1")
    val after = TableLog.snapshot(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    assert(after == content, "3-column scoped z-order changed contents")
  }

  test("copy_into loads each source file exactly once: re-run no-op, " +
      "new file loads alone, rewritten file is a NEW identity, " +
      "pattern filters, CHECK gates, ledger rides the same commit") {
    spark.conf.set("spark.sql.catalog.graftlog",
      "graft.sources.GraftLogCatalog")
    val t = freshDir() + "/t"
    TableLog.createEmpty(t, "k BIGINT, v STRING", "k")
    val src = Files.createDirectories(
      Paths.get(freshDir(), "incoming"))
    def put(name: String, rows: Seq[(Long, String)]): Unit =
      Files.write(src.resolve(name), rows.map { case (k, v) =>
        s"""{"k":$k,"v":"$v"}""" }.mkString("\n").getBytes)
    put("data_1.json", (0L to 4L).map(i => i -> s"a$i"))
    put("data_2.json", (5L to 9L).map(i => i -> s"a$i"))
    Files.write(src.resolve("notes.txt"), "not data".getBytes)
    def copy() = spark.sql(s"CALL graftlog.copy_into('$t', '$src', " +
      "'json', 1, 'data_.*\\\\.json')").collect().head
    val r1 = copy()
    assert((r1.getLong(1), r1.getLong(2), r1.getLong(3)) == ((2L, 0L, 10L)),
      r1.toString)
    // idempotent re-run: everything skips, NO commit lands
    val r2 = copy()
    assert((r2.getLong(1), r2.getLong(2)) == ((0L, 2L)), r2.toString)
    assert(r2.getLong(0) == r1.getLong(0), "no-op re-run moved the version")
    // a new file loads ALONE
    put("data_3.json", (10L to 14L).map(i => i -> s"a$i"))
    val r3 = copy()
    assert((r3.getLong(1), r3.getLong(2), r3.getLong(3)) == ((1L, 2L, 5L)),
      r3.toString)
    assert(TableLog.snapshot(spark, t).count() == 15L)
    // a REWRITTEN file (same name, new bytes+mtime) is a new identity
    put("data_1.json", Seq(100L -> "fresh"))
    Files.setLastModifiedTime(src.resolve("data_1.json"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() + 5000L))
    val r4 = copy()
    assert((r4.getLong(1), r4.getLong(2), r4.getLong(3)) == ((1L, 2L, 1L)),
      r4.toString)
    assert(TableLog.snapshot(spark, t).count() == 16L)
    // ledger and rows are ONE transaction: each loading run is one
    // commit; the no-op run left no trace
    assert(TableLog.history(t).count(_.op == "append") == 3)
    // an extra source column refuses loudly
    Files.write(src.resolve("data_4.json"),
      """{"k":200,"v":"x","stray":1}""".getBytes)
    val e = intercept[Exception] { copy() }
    assert(e.getMessage.contains("stray"), e.getMessage)
    Files.delete(src.resolve("data_4.json"))
    // CHECK constraints gate the load like every other write path
    TableLog.setProps(t, TableLog.state(t).props +
      ("constraint.k_pos" -> "k >= 0"))
    put("data_5.json", Seq(-1L -> "bad"))
    val e2 = intercept[Exception] { copy() }
    assert(e2.getMessage.contains("k_pos"), e2.getMessage)
    // the refused batch left no rows and no ledger entry
    assert(TableLog.snapshot(spark, t).count() == 16L)
  }

  test("adopt converts a plain parquet dir zero-copy: hard-linked " +
      "references, originals untouched and never vacuumed, stats " +
      "real, append/prune/compact/time-travel all work after") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graftlog",
      "graft.sources.GraftLogCatalog")
    val t = freshDir() + "/t"
    // a directory some OTHER job wrote with plain spark.write
    (0L to 99L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(3).write.parquet(t)
    val origs = {
      val s = Files.list(Paths.get(t))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(p =>
          p.getFileName.toString.endsWith(".parquet")).toVector
      } finally s.close()
    }
    assert(origs.size == 3)
    val res = spark.sql(s"CALL graftlog.adopt('$t', 'k')").collect().head
    assert(res.getLong(0) == 1L && res.getLong(1) == 3L &&
      res.getLong(2) == 100L, res.toString)
    // zero-copy: every adopted reference is a hard LINK to an
    // original (nlink == 2), not a rewrite
    val st = TableLog.state(t)
    assert(st.active.size == 3)
    st.active.foreach { a =>
      val n = Files.getAttribute(
        Paths.get(t, a.relPath), "unix:nlink").asInstanceOf[Integer]
      assert(n == 2, s"${a.relPath} nlink=$n — expected a hard link")
    }
    // content + real key stats (pruned read answers exactly)
    assert(TableLog.snapshot(spark, t).count() == 100L)
    assert(TableLog.snapshotWhereKey(spark, t, 10L, 20L)
      .collect().map(_.getLong(0)).sorted.toSeq == (10L to 20L))
    // the table LIVES: append, then compact, then vacuum — the
    // adopted links die with the rewrite but the ORIGINALS survive
    // (vacuum only sweeps data/, the table never owns the top level)
    TableLog.append((100L to 109L).map(i => (i, s"v$i")).toDF("k", "v"),
      t, 1)
    assert(TableLog.snapshot(spark, t).count() == 110L)
    TableLog.compact(spark, t, 2)
    TableLog.vacuum(t, graceMillis = 0L)
    origs.foreach(p => assert(Files.exists(p),
      s"vacuum must never touch the original $p"))
    assert(TableLog.snapshot(spark, t).count() == 110L)
    // time travel to the adoption snapshot still works (links gone
    // after vacuum is the retention trade, v1 manifest remains)
    assert(TableLog.history(t).head.op == "create")
    // adopting an existing table refuses
    val e = intercept[Exception] {
      spark.sql(s"CALL graftlog.adopt('$t', 'k')")
    }
    assert(e.getMessage.contains("already exists"), e.getMessage)
    // INCREMENTAL adoption: adopt seeded the copy ledger, so a
    // late-arriving top-level file loads ALONE via copy_into on the
    // same directory — the adopted originals skip, never double-load
    val lateDir = freshDir() + "/late"
    (200L to 209L).map(i => (i, s"v$i")).toDF("k", "v")
      .coalesce(1).write.parquet(lateDir)
    val latePart = {
      val s = Files.list(Paths.get(lateDir))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.find { p =>
          val n = p.getFileName.toString
          n.startsWith("part-") && n.endsWith(".parquet")
        }.get
      } finally s.close()
    }
    Files.copy(latePart, Paths.get(t, "late.parquet"))
    val r2 = spark.sql(
      s"CALL graftlog.copy_into('$t', '$t', 'parquet')").collect().head
    assert((r2.getLong(1), r2.getLong(2)) == ((1L, 3L)), r2.toString)
    assert(TableLog.snapshot(spark, t).count() == 120L)
  }

  test("compact_where zorder over an all-NULL curve column falls " +
      "back to the key layout instead of NPEing; a fully-DV-erased " +
      "file is already dropped AT the delete commit") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graftlog",
      "graft.sources.GraftLogCatalog")
    val t = freshDir() + "/t"
    def day(d: Int) =
      java.sql.Timestamp.valueOf(f"2024-06-$d%02d 10:00:00")
    TableLog.createEmpty(t, "k BIGINT, ts TIMESTAMP, y BIGINT", "k",
      partCols = Seq("days:ts"))
    TableLog.append((0L to 9L).map(i => (i, day(1), i))
      .toDF("k", "ts", "y"), t, 1)
    // day 2's curve column is ALL NULL — integral by type (the
    // declared-type gate passes) but boundless by value
    TableLog.append((100L to 119L).map(i => (i, day(2)))
      .toDF("k", "ts")
      .withColumn("y", lit(null).cast("bigint")), t, 1)
    val res = spark.sql(s"CALL graftlog.compact_where('$t', " +
      "\"ts >= TIMESTAMP'2024-06-02 00:00:00' AND " +
      "ts <= TIMESTAMP'2024-06-02 23:59:59'\", 2, " +
      "zorder => 'k,y')").collect().head
    assert(res.getLong(1) == 1L, res.toString)
    // null bounds → no curve to fit → key-layout fold, honestly
    // labeled "compact", content and other days intact
    assert(TableLog.history(t).last.op == "compact",
      "a curve-less fold must not claim the zorder op")
    val got = TableLog.snapshot(spark, t).collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(got == ((0L to 9L) ++ (100L to 119L)), got.toString)
    // and the degenerate q519 end: a file whose EVERY row dies is
    // removed by the DV delete commit itself — no debt lingers for
    // compact_where to miss
    TableLog.deleteWhereDv(spark, t, col("k") >= 100L)
    val st = TableLog.state(t)
    assert(st.active.nonEmpty &&
      st.active.forall(a => !a.parts.exists(
        _.values.headOption.contains("2024-06-02"))),
      s"fully-erased day still holds files: ${st.active.map(_.relPath)}")
  }

  test("copy-on-write updateWhere evaluates the condition ONCE: a " +
      "nondeterministic cond can neither duplicate nor vanish rows") {
    import spark.implicits._
    val t = freshDir()
    TableLog.create((0L to 199L).map(i => (i, "old")).toDF("k", "v"),
      t, "k", numFiles = 2)
    TableLog.updateWhere(spark, t, rand() < 0.5,
      Map("v" -> lit("new")), numFiles = 2)
    val rows = TableLog.snapshot(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // every key exactly once; each row consistently old or new
    assert(rows.length == 200, s"row count drifted: ${rows.length}")
    assert(rows.map(_._1).distinct.length == 200, "duplicated keys")
    assert(rows.forall(r => r._2 == "old" || r._2 == "new"))
  }

  test("a rewrite planned before a concurrent DV commit on the same " +
      "file ABORTS: relPath-active is not content-identity") {
    val t = freshDir()
    TableLog.create(kv((0L to 9L).map(i => (i, s"x$i"))), t, "k", 1)
    val snap1 = TableLog.state(t) // v1: one file F
    val f = snap1.active.head
    // winner: merge-on-read delete — removes F, re-adds F under a new
    // deletion-vector token (same relPath, different content)
    TableLog.deleteWhereDv(spark, t, col("k") === 3L) // v2
    // loser: a rewrite whose plan was computed against v1 — its
    // replacement rows still contain k=3, so rebasing over the DV
    // commit would resurrect the deleted row; F is still ACTIVE (the
    // re-add), so only the intervening-commit replay can catch it
    val e = intercept[java.util.ConcurrentModificationException] {
      TableLog.commit(t, snap1.version, "compact", Seq(f),
        Seq(f.relPath), "", "")
    }
    assert(e.getMessage.contains("touched files"), e.getMessage)
    assert(TableLog.snapshot(spark, t).count() == 9L,
      "the DV state must survive the aborted rebase")
    // the same stale-planned shape over an APPEND still rebases: the
    // interim commit touches only its own new files
    val snap2 = TableLog.state(t) // v2
    TableLog.append(kv(Seq(100L -> "new")), t, 1) // v3
    val v = TableLog.commit(t, snap2.version, "compact",
      snap2.active, snap2.active.map(_.relPath), "", "")
    assert(v == 4L, "append-only interim commits must keep rebasing")
    assert(TableLog.snapshot(spark, t).count() == 10L)
  }

  test("DML verbs keep their no-op rules on a predicate or change set " +
      "matching nothing") {
    import spark.implicits._
    import TableLog.{MergeArm, MergeTargetPrefix => T, MergeSourcePrefix => S}
    val none = col("k") === -1L
    val noKeys = Seq.empty[(Long, String)].toDF("k", "v")
    // (verb, commits a version, run it on table t)
    val verbs: Seq[(String, Boolean, String => Any)] = Seq(
      ("deleteWhere", false, t => TableLog.deleteWhere(spark, t, none, 1)),
      ("updateWhere", false,
        t => TableLog.updateWhere(spark, t, none, Map("v" -> lit("z")), 1)),
      ("deleteWhereDv", false, t => TableLog.deleteWhereDv(spark, t, none)),
      ("updateWhereDv", false,
        t => TableLog.updateWhereDv(spark, t, none, Map("v" -> lit("z")))),
      ("mergeDv", false, t => TableLog.mergeDv(spark, t,
        Seq((-1L, "x")).toDF("k", "v"), col(T + "k") === col(S + "k"),
        matched = Seq(MergeArm(None, "delete")))),
      ("replaceWhere", true,
        t => TableLog.replaceWhere(spark, t, none, noKeys, 1)),
      ("merge", true, t => TableLog.merge(spark, t, noKeys, 1)),
      ("applyCdc", true, t => TableLog.applyCdc(spark, t,
        Seq.empty[(Long, String, String)].toDF("k", "v", "action"), 1)),
      ("overwriteWhereStaged", true,
        t => TableLog.overwriteWhereStaged(spark, t, none, Nil, 1)))
    verbs.foreach { case (name, commits, run) =>
      val t = freshDir()
      TableLog.create(kv((0L to 9L).map(i => (i, s"a$i"))), t, "k", 2)
      run(t)
      assert(TableLog.latestVersion(t) == (if (commits) 2L else 1L),
        s"$name on a no-match: v${TableLog.latestVersion(t)}")
      assert(TableLog.snapshot(spark, t).count() == 10L, name)
      assert(TableLog.state(t).active.map(_.relPath).sorted ==
        TableLog.state(t, 1L).active.map(_.relPath).sorted, name)
    }
  }

  test("the DML verbs share one copy-on-write core and one " +
      "deletion-vector core") {
    val src = {
      val f = scala.io.Source.fromFile(
        "src/main/scala/graft/tablelog/TableLog.scala", "UTF-8")
      try f.getLines().toVector finally f.close()
    }
    // the lines of `def name`: its signature through the first later
    // line back at the def's indentation (its closing brace, or the
    // next member of a one-expression def)
    def body(name: String): Set[Int] = {
      val start = src.indexWhere(l => l.contains(s"def $name("))
      assert(start >= 0, s"no def $name in TableLog.scala")
      val indent = src(start).takeWhile(_ == ' ').length
      val end = src.indexWhere(l =>
        l.trim.nonEmpty && l.takeWhile(_ == ' ').length <= indent, start + 1)
      (start to end).toSet
    }
    def sites(token: String, in: Set[Int]): Seq[Int] =
      in.toSeq.sorted.filter(i => src(i).contains(token))
    val verbs = Seq("applyCdc", "deleteWhere", "updateWhere", "replaceWhere",
      "merge", "overwriteWhereStaged", "deleteWhereDv", "updateWhereDv",
      "mergeDv")
    val dml = (verbs :+ "touchedFiles").flatMap(body).toSet
    assert(sites("input_file_name()", dml) ==
      sites("input_file_name()", body("touchedFiles")) &&
      sites("input_file_name()", dml).size == 1,
      s"input_file_name() at ${sites("input_file_name()", dml)}")
    val all = src.indices.toSet
    // call sites only: a def's own signature line is not one
    def onlyIn(token: String, helper: String): Unit = {
      val at = sites(token, all).filterNot(i => src(i).contains("def "))
      assert(at.nonEmpty && at.forall(body(helper)), s"$token at $at")
    }
    assert(sites("colMap = snap.colMap", all).isEmpty)
    onlyIn("snap.colMap, snap.specId)", "stageAs")
    onlyIn("requireDvPartStats(table", "dvCandidates")
    onlyIn("dvProbeN(maxM)", "dvHits")
    onlyIn("dvCommitEntries(table", "dvCommit")
    onlyIn("dvSurvivorStats(snap", "dvCommit")
  }
}
