package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.{GraftSession, SparkSuite}
import graft.tablelog.TableLog

/** Partitioned tables (q432/q433's machinery): identity-partition
  * declarations recorded as per-file partition-tuple stats in the
  * manifest, partition predicates pruning FILES on the driver, the
  * `#partitions` metadata inventory, and stat preservation through
  * copy-on-write rewrites. The pruning pins run on the ScanBuilder
  * itself, not plan strings. */
class GraftLogPartitionSpec extends SparkSuite {

  private val emptyOpts =
    new CaseInsensitiveStringMap(java.util.Collections.emptyMap())

  private def useCatalog(): Unit =
    spark.conf.set("spark.sql.catalog.graftlog",
      "graft.sources.GraftLogCatalog")

  /** 200 rows, partition column p ∈ {a,b,c,d}, two SQL INSERT commits.
    * AQE partition coalescing is off during the inserts: at fixture
    * scale it would merge the clustered shuffle into ONE task (a few
    * KB), producing one file holding every tuple — correct, but with
    * nothing to prune. Disabling it reproduces the at-scale layout,
    * where task files are tuple-pure because real partitions dwarf
    * the advisory size. */
  private def freshPartitioned(): String = {
    useCatalog()
    val t = Files.createTempDirectory("tlog_part_").toString + "/tbl"
    spark.sql(
      s"""CREATE TABLE graftlog.`$t` (k BIGINT, p STRING, v STRING)
         |PARTITIONED BY (p) TBLPROPERTIES ('key' = 'k')""".stripMargin)
    import spark.implicits._
    (0L to 99L).map(i => (i, s"${('a' + (i % 4).toInt).toChar}", s"x$i"))
      .toDF("k", "p", "v").createOrReplaceTempView("part_src_1")
    coalesceOff(s"INSERT INTO graftlog.`$t` SELECT * FROM part_src_1")
    (100L to 199L).map(i => (i, s"${('a' + (i % 4).toInt).toChar}", s"y$i"))
      .toDF("k", "p", "v").createOrReplaceTempView("part_src_2")
    coalesceOff(s"INSERT INTO graftlog.`$t` SELECT * FROM part_src_2")
    t
  }

  /** Run `sql` on a child session with AQE coalescing off; the child
    * sees the temp views registered before the call. */
  private def coalesceOff(sql: String): Unit =
    GraftSession.scoped(spark,
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false").sql(sql)

  test("SQL CREATE ... PARTITIONED BY records identity partitioning; " +
      "partition predicates prune files on the manifest, rows stay exact") {
    val t = freshPartitioned()
    val snap = TableLog.state(t)
    assert(snap.partCols == Seq("p"))
    assert(snap.active.nonEmpty &&
      snap.active.forall(_.parts.nonEmpty))
    // the clustered write distribution sends ALL rows of a value to
    // one task: each value lives in exactly 1 file per commit (hash
    // collisions may co-locate values in a file, never split one)
    val spread = snap.active.flatMap(a =>
      a.parts.map(p => (p.values, a.relPath)))
      .groupBy(_._1).view.mapValues(_.size).toMap
    assert(spread.values.forall(_ == 2), spread.toString) // 2 commits

    // EqualTo on the partition column keeps exactly the 'b' files
    val b = new GraftLogScanBuilder(spark, t, snap, emptyOpts)
    b.pushFilters(Array(EqualTo("p", "b")))
    assert(b.chosenFiles.nonEmpty &&
      b.chosenFiles.size < snap.active.size)
    assert(b.chosenFiles.forall(_.parts.exists(_.values == Seq("b"))))
    assert(b.pushedFilters().exists(_ == EqualTo("p", "b")))

    // IN keeps the union of the named tuples' files
    val i = new GraftLogScanBuilder(spark, t, snap, emptyOpts)
    i.pushFilters(Array(In("p", Array[Any]("a", "d"))))
    assert(i.chosenFiles.forall(_.parts.exists(p =>
      p.values == Seq("a") || p.values == Seq("d"))))
    assert(i.chosenFiles.map(_.parts.filter(p =>
      p.values == Seq("a") || p.values == Seq("d")).map(_.rows).sum)
      .sum == 100L)

    // end to end: rows through the pruned read are exact
    val got = spark.sql(
      s"SELECT count(*), sum(k) FROM graftlog.`$t` WHERE p = 'b'")
      .collect().head
    assert(got.getLong(0) == 50L)
    assert(got.getLong(1) == (0L to 199L).filter(_ % 4 == 1).sum)
  }

  test("#partitions folds the exact live inventory from manifests") {
    val t = freshPartitioned()
    val rows = spark.sql(
      s"""SELECT p, file_count, row_count
         |FROM graftlog.`$t#partitions` ORDER BY p""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == Seq("a", "b", "c", "d"))
    // 2 commits × 1 tuple-pure file per value; 25 rows per value per commit
    assert(rows.forall { case (_, files, n) => files == 2L && n == 50L })
    // and an unpartitioned table refuses the metadata suffix
    import spark.implicits._
    val u = Files.createTempDirectory("tlog_unpart_").toString
    TableLog.create((0L to 9L).toDF("k"), u, "k", numFiles = 1)
    val e = intercept[Exception](
      spark.sql(s"SELECT * FROM graftlog.`$u#partitions`").collect())
    assert(e.getMessage.contains("not partitioned"))
  }

  test("null partition values: IsNull finds them, EqualTo never does, " +
      "#partitions renders SQL NULL") {
    import spark.implicits._
    val t = Files.createTempDirectory("tlog_pnull_").toString
    val df = (0L to 59L)
      .map(i => (i, if (i % 3 == 0) null else s"g${i % 3}", i * 2))
      .toDF("k", "p", "v")
    TableLog.create(df, t, "k", numFiles = 3, partCols = Seq("p"))
    val snap = TableLog.state(t)

    val nb = new GraftLogScanBuilder(spark, t, snap, emptyOpts)
    nb.pushFilters(Array(IsNull("p")))
    assert(nb.chosenFiles.nonEmpty)
    assert(nb.chosenFiles.forall(_.parts.exists(
      _.values == Seq(TableLog.NullPartValue))))

    val eb = new GraftLogScanBuilder(spark, t, snap, emptyOpts)
    eb.pushFilters(Array(EqualTo("p", "g1")))
    assert(eb.chosenFiles.forall(_.parts.exists(_.values == Seq("g1"))))

    val inb = new GraftLogScanBuilder(spark, t, snap, emptyOpts)
    inb.pushFilters(Array(IsNotNull("p")))
    assert(inb.chosenFiles.forall(_.parts.exists(
      _.values != Seq(TableLog.NullPartValue))))

    useCatalog()
    val meta = spark.sql(
      s"""SELECT p, row_count FROM graftlog.`$t#partitions`
         |ORDER BY p NULLS FIRST""".stripMargin).collect()
    assert(meta.head.isNullAt(0) && meta.head.getLong(1) == 20L)
    assert(meta.map(r => Option(r.getString(0))).toSeq ==
      Seq(None, Some("g1"), Some("g2")))
  }

  test("multi-column partitioning prunes conjunctively PER TUPLE: " +
      "p1='a' AND p2=1 drops a file holding only (a,2) and (b,1)") {
    import spark.implicits._
    val t = Files.createTempDirectory("tlog_p2_").toString
    // one file per (p1,p2) combination via the API path
    val df = (0L to 79L).map(i =>
      (i, if (i % 2 == 0) "a" else "b", (i % 4) / 2 + 1, s"v$i"))
      .toDF("k", "p1", "p2", "v")
    TableLog.create(df, t, "k", numFiles = 8,
      partCols = Seq("p1", "p2"))
    val snap = TableLog.state(t)
    assert(snap.partCols == Seq("p1", "p2"))
    val b = new GraftLogScanBuilder(spark, t, snap, emptyOpts)
    b.pushFilters(Array(EqualTo("p1", "a"),
      EqualTo("p2", java.lang.Integer.valueOf(1))))
    // every survivor holds the (a,1) tuple specifically — a file with
    // (a,2) and (b,1) tuples satisfies both predicates separately but
    // no single tuple satisfies the conjunction
    assert(b.chosenFiles.nonEmpty)
    assert(b.chosenFiles.forall(_.parts.exists(_.values == Seq("a", "1"))))
    assert(b.chosenFiles.map(_.parts.filter(_.values == Seq("a", "1"))
      .map(_.rows).sum).sum == 20L)
  }

  test("copy-on-write rewrites preserve partition stats: delete and " +
      "compact keep #partitions exact and pruning alive") {
    val t = freshPartitioned()
    useCatalog()
    spark.sql(s"DELETE FROM graftlog.`$t` WHERE k % 10 = 1")
    TableLog.compact(spark, t, numFiles = 2)
    val snap = TableLog.state(t)
    assert(snap.active.forall(_.parts.nonEmpty))
    val meta = spark.sql(
      s"""SELECT p, row_count FROM graftlog.`$t#partitions`
         |ORDER BY p""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val expect = (0L to 199L).filter(_ % 10 != 1)
      .groupBy(i => s"${('a' + (i % 4).toInt).toChar}")
      .view.mapValues(_.size.toLong).toMap
    assert(meta == expect)
    // pruning still works over the compacted layout (files may hold
    // several tuples now — kept iff ANY tuple matches)
    val b = new GraftLogScanBuilder(spark, t, snap, emptyOpts)
    b.pushFilters(Array(EqualTo("p", "c")))
    assert(b.chosenFiles.forall(_.parts.exists(_.values == Seq("c"))))
    assert(spark.sql(
      s"SELECT count(*) FROM graftlog.`$t` WHERE p = 'c'")
      .collect().head.getLong(0) == expect("c"))
  }

  test("pushed SQL DELETE prunes its candidate scan by key range AND " +
      "partition stats; rows and untouched partitions stay exact") {
    // the pure prune folds the DELETE path feeds from its filters
    import org.apache.spark.sql.sources.LessThan
    assert(GraftLogScanBuilder.keyRange("k",
      Seq(EqualTo("p", "b"), LessThan("k", java.lang.Long.valueOf(150L))))
      == Some((Long.MinValue, 149L)))
    val t = freshPartitioned()
    val before = TableLog.state(t)
    val othersBefore = before.active.filter(a =>
      !a.parts.exists(_.values == Seq("b"))).map(_.relPath).toSet
    spark.sql(s"DELETE FROM graftlog.`$t` WHERE p = 'b' AND k < 150")
    val after = TableLog.state(t)
    val got = spark.sql(
      s"SELECT p, count(*) AS n FROM graftlog.`$t` GROUP BY p")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // b keeps only its k >= 150 rows (101..199 step 4 → 13 of 50)
    val bLeft = (0L to 199L).count(i => i % 4 == 1 && i >= 150)
    assert(got == Map("a" -> 50L, "b" -> bLeft.toLong,
      "c" -> 50L, "d" -> 50L))
    // files of the other partitions never rewrote
    assert(othersBefore.subsetOf(after.active.map(_.relPath).toSet))
  }

  test("manifest round-trips hostile partition values (spaces, colon, " +
      "slash, percent, tilde, unicode) through URL-encoding") {
    import spark.implicits._
    val vals = Seq("with space", "a:b", "x/y", "100%", "~", "naïve")
    val t = Files.createTempDirectory("tlog_penc_").toString
    val df = (0L to 59L).map(i => (i, vals((i % 6).toInt)))
      .toDF("k", "p")
    TableLog.create(df, t, "k", numFiles = 2, partCols = Seq("p"))
    val snap = TableLog.state(t) // parsed back from the manifest text
    val tuples = snap.active.flatMap(_.parts.map(_.values.head)).toSet
    assert(tuples == vals.toSet)
    val b = new GraftLogScanBuilder(spark, t, snap, emptyOpts)
    b.pushFilters(Array(EqualTo("p", "a:b")))
    assert(b.chosenFiles.forall(_.parts.exists(_.values == Seq("a:b"))))
    assert(b.chosenFiles.map(_.parts.filter(_.values == Seq("a:b"))
      .map(_.rows).sum).sum == 10L)
  }

  test("storage-partitioned join: co-partitioned tables join with ZERO " +
      "shuffle under v2 bucketing; keyed aggregation skips its exchange") {
    import spark.implicits._
    val t1 = freshPartitioned()
    val t2 = freshPartitioned()
    // fixture files are tuple-pure -> the scan reports key grouping
    assert(TableLog.state(t1).active.forall(_.parts.size == 1))
    val spj = GraftSession.scoped(spark,
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val j = spj.sql(
      s"""SELECT a.p, count(*) AS n
         |FROM graftlog.`$t1` a JOIN graftlog.`$t2` b ON a.p = b.p
         |GROUP BY a.p ORDER BY a.p""".stripMargin)
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"expected shuffle-free storage-partitioned join:\n${plan.take(2000)}")
    // 100+100 rows per table, 50 per tuple per table -> 100*100 pairs/4...
    // per tuple: 50 rows in a, 50 in b -> 2500 pairs
    assert(j.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq("a", "b", "c", "d").map(p => (p, 2500L)))
    // keyed aggregation alone: one scan, no exchange before the agg
    val g = spj.sql(
      s"SELECT p, count(*) AS n FROM graftlog.`$t1` GROUP BY p")
    val gPlan = g.queryExecution.executedPlan.toString
    assert(!gPlan.contains("Exchange hashpartitioning"),
      s"expected exchange-free keyed agg:\n${gPlan.take(2000)}")
    assert(g.collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1).toSeq ===
      Seq("a", "b", "c", "d").map(p => (p, 50L)))
    // with bucketing off, the same join shuffles (the fallback shape)
    val j2 = spark.sql(
      s"""SELECT a.p, count(*) AS n
         |FROM graftlog.`$t1` a JOIN graftlog.`$t2` b ON a.p = b.p
         |GROUP BY a.p""".stripMargin)
    assert(j2.collect().map(_.getLong(1)).sum == 10000L)
  }

  test("a deletion vector on a partitioned table GATES OFF key-grouped " +
      "planning: the scan falls back to plain partitions, results stay " +
      "exact, and a DV-free sibling keeps its SPJ elision") {
    import spark.implicits._
    val t1 = freshPartitioned()
    val t2 = freshPartitioned()
    // land a DV on t1 (merge-on-read delete of two rows of tuple 'a')
    TableLog.deleteWhereDv(spark, t1, col("k").isin(0L, 4L))
    assert(TableLog.state(t1).active.exists(_.dv.isDefined))
    val spj = GraftSession.scoped(spark,
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val j = spj.sql(
      s"""SELECT a.p, count(*) AS n
         |FROM graftlog.`$t1` a JOIN graftlog.`$t2` b ON a.p = b.p
         |GROUP BY a.p ORDER BY a.p""".stripMargin)
    // claiming KeyGroupedPartitioning while DV'd files plan as
    // separate whole-file partitions would be UNSOUND — the gate
    // trades the shuffle elision back for correctness
    assert(j.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"),
      "DV'd partitioned scan must not claim key grouping")
    // rows: tuple a lost 2 of 50 on t1 -> 48*50; b/c/d stay 50*50
    assert(j.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      == Seq(("a", 2400L), ("b", 2500L), ("c", 2500L), ("d", 2500L)))
    // the DV-free sibling keeps its exchange-free keyed agg
    val g = spj.sql(
      s"SELECT p, count(*) AS n FROM graftlog.`$t2` GROUP BY p")
    assert(!g.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"),
      "DV-free sibling lost its SPJ elision")
  }

  test("bucketed tables: co-bucketed KEY join runs with zero shuffle " +
      "under v2 bucketing; rewrites drop purity and the gate falls back") {
    import spark.implicits._
    useCatalog()
    def freshBucketed(mod: Long): String = {
      val t = Files.createTempDirectory("tlog_bkt_").toString + "/tbl"
      spark.sql(
        s"""CREATE TABLE graftlog.`$t` (k BIGINT, v STRING)
           |TBLPROPERTIES ('key' = 'k', 'bucket.count' = '4')""".stripMargin)
      (0L to 199L).filter(_ % 2 == mod).map(i => (i, s"x$i"))
        .toDF("k", "v").createOrReplaceTempView(s"bkt_src_$mod")
      spark.sql(s"INSERT INTO graftlog.`$t` SELECT * FROM bkt_src_$mod")
      t
    }
    val t1 = freshBucketed(0) // even keys
    val t2 = freshBucketed(0) // same keys — co-bucketed by construction
    // every staged file carries the writer's __bucket purity stat
    assert(TableLog.state(t1).active.forall(a =>
      a.cols.exists(s => s.col == "__bucket" && s.min == s.max)))
    val spj = GraftSession.scoped(spark,
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val j = spj.sql(
      s"""SELECT count(*) AS n, sum(a.k) AS s
         |FROM graftlog.`$t1` a JOIN graftlog.`$t2` b ON a.k = b.k
         |""".stripMargin)
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"expected shuffle-free bucketed key join:\n${plan.take(2000)}")
    val r = j.collect().head
    assert((r.getLong(0), r.getLong(1)) ==
      ((100L, (0L to 199L).filter(_ % 2 == 0).sum)))
    // a compaction rewrites without bucket routing: purity stats
    // drop, the gate falls back to a shuffled (still exact) join
    TableLog.compact(spj, t2, 1)
    val j2 = spj.sql(
      s"""SELECT count(*) FROM graftlog.`$t1` a
         |JOIN graftlog.`$t2` b ON a.k = b.k""".stripMargin)
    assert(j2.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"),
      "post-compact join should shuffle (purity gone)")
    assert(j2.collect().head.getLong(0) == 100L)
  }

  test("misuse fails loudly: high-cardinality partition column blows " +
      "the per-file tuple cap; non-stringifiable types refused at CREATE") {
    import spark.implicits._
    val t = Files.createTempDirectory("tlog_pcap_").toString
    val wide = (0L to 199L).map(i => (i, s"u$i")).toDF("k", "p")
    val e = intercept[Exception](
      TableLog.create(wide, t, "k", numFiles = 1, partCols = Seq("p")))
    assert(e.getMessage.contains("partition tuples") ||
      e.getMessage.contains("high-cardinality"), e.getMessage)
    val t2 = Files.createTempDirectory("tlog_ptype_").toString
    val dbl = (0L to 9L).map(i => (i, i / 2.0)).toDF("k", "p")
    val e2 = intercept[IllegalArgumentException](
      TableLog.create(dbl, t2, "k", numFiles = 1, partCols = Seq("p")))
    assert(e2.getMessage.contains("stringify stably"), e2.getMessage)
  }

  /** 100 rows over 4 UTC days (25 each), timestamps pinned in micros
    * so the session zone is irrelevant to the expected layout. */
  private def freshDaysPartitioned(): String = {
    useCatalog()
    val t = Files.createTempDirectory("tlog_days_").toString + "/tbl"
    spark.sql(
      s"""CREATE TABLE graftlog.`$t` (k BIGINT, ts TIMESTAMP, v STRING)
         |PARTITIONED BY (days(ts)) TBLPROPERTIES ('key' = 'k')""".stripMargin)
    import spark.implicits._
    val base = java.time.Instant.parse("2024-03-10T00:00:00Z")
      .toEpochMilli * 1000L
    (0L to 99L).map(i =>
        (i, base + (i % 4) * 86_400_000_000L + i * 1_000_000L, s"x$i"))
      .toDF("k", "us", "v")
      .selectExpr("k", "timestamp_micros(us) AS ts", "v")
      .createOrReplaceTempView("days_src")
    coalesceOff(s"INSERT INTO graftlog.`$t` SELECT * FROM days_src")
    t
  }

  test("days(ts) hidden partitioning: tuples render as UTC days, a raw " +
      "WHERE ts range prunes files through the transform, rows stay exact") {
    val t = freshDaysPartitioned()
    val snap = TableLog.state(t)
    assert(snap.partCols == Seq("days:ts"))
    val allDays = snap.active.flatMap(_.parts.map(_.values.head)).toSet
    assert(allDays == Set("2024-03-10", "2024-03-11", "2024-03-12",
      "2024-03-13"), allDays.toString)
    // raw-timestamp range predicate: days >= 2024-03-12 must prune
    // (the probe arrives as the external Timestamp value Spark pushes)
    val probe = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-03-12T00:00:00Z"))
    val b = new GraftLogScanBuilder(spark, t, snap, emptyOpts)
    b.pushFilters(Array(GreaterThanOrEqual("ts", probe), IsNotNull("ts")))
    assert(b.chosenFiles.nonEmpty &&
      b.chosenFiles.size < snap.active.size,
      s"${b.chosenFiles.size} of ${snap.active.size} files")
    assert(b.chosenFiles.forall(_.parts.exists(_.values.head >= "2024-03-12")))
    // and a LessThan on the other side
    val b2 = new GraftLogScanBuilder(spark, t, snap, emptyOpts)
    b2.pushFilters(Array(LessThan("ts", probe), IsNotNull("ts")))
    assert(b2.chosenFiles.size < snap.active.size)
    assert(b2.chosenFiles.forall(_.parts.exists(_.values.head <= "2024-03-12")))
    // rows exact through SQL: i%4 in {2,3} → 50 rows, known key sum —
    // and the EXECUTED plan's scan shows the pruned file count (the
    // end-to-end wiring, not just the builder-grain pin above)
    val q = spark.sql(
      s"""SELECT CAST(count(*) AS BIGINT) AS n, sum(k) AS s
         |FROM graftlog.`$t`
         |WHERE ts >= TIMESTAMP'2024-03-12 00:00:00'""".stripMargin)
    val got = q.collect().head
    val desc = q.queryExecution.executedPlan.toString
    val m = "GraftLogScan\\(files=(\\d+)/(\\d+)".r.findFirstMatchIn(desc)
    assert(m.isDefined, desc.take(600))
    assert(m.get.group(1).toInt < m.get.group(2).toInt,
      s"SQL path did not prune: ${m.get.matched}")
    val keys = (0L to 99L).filter(i => i % 4 >= 2)
    assert((got.getLong(0), got.getLong(1)) == ((keys.size.toLong, keys.sum)))
    // #partitions renders the transform name and the day values
    val parts = spark.sql(s"SELECT * FROM graftlog.`$t#partitions`")
    assert(parts.columns.head == "days(ts)")
    assert(parts.collect().map(_.getString(0)).toSet == allDays)
    assert(parts.selectExpr("sum(row_count)").collect().head.getLong(0) == 100L)
  }

  test("months(ts) partitioning: tuples render as UTC months and a raw " +
      "ts range prunes at month grain") {
    useCatalog()
    val t = Files.createTempDirectory("tlog_months_").toString + "/tbl"
    spark.sql(
      s"""CREATE TABLE graftlog.`$t` (k BIGINT, ts TIMESTAMP)
         |PARTITIONED BY (months(ts)) TBLPROPERTIES ('key' = 'k')""".stripMargin)
    import spark.implicits._
    val base = java.time.Instant.parse("2023-11-15T12:00:00Z")
      .toEpochMilli * 1000L
    // 3 months: Nov 2023, Jan 2024, Mar 2024 (62-day strides)
    (0L to 59L).map(i => (i, base + (i % 3) * 62L * 86_400_000_000L))
      .toDF("k", "us").selectExpr("k", "timestamp_micros(us) AS ts")
      .createOrReplaceTempView("months_src")
    coalesceOff(s"INSERT INTO graftlog.`$t` SELECT * FROM months_src")
    val snap = TableLog.state(t)
    assert(snap.partCols == Seq("months:ts"))
    val months = snap.active.flatMap(_.parts.map(_.values.head)).toSet
    assert(months == Set("2023-11", "2024-01", "2024-03"), months.toString)
    val probe = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-01T00:00:00Z"))
    val b = new GraftLogScanBuilder(spark, t, snap, emptyOpts)
    b.pushFilters(Array(GreaterThanOrEqual("ts", probe), IsNotNull("ts")))
    assert(b.chosenFiles.nonEmpty && b.chosenFiles.size < snap.active.size)
    assert(b.chosenFiles.forall(_.parts.exists(_.values.head >= "2024-01")))
  }

  test("PARTITIONED BY (bucket(4, k)) maps onto the bucket routing " +
      "device: bucket-pure files and a zero-shuffle co-bucketed key join") {
    import spark.implicits._
    useCatalog()
    def freshBucketTransform(): String = {
      val t = Files.createTempDirectory("tlog_bktt_").toString + "/tbl"
      spark.sql(
        s"""CREATE TABLE graftlog.`$t` (k BIGINT, v STRING)
           |PARTITIONED BY (bucket(4, k))
           |TBLPROPERTIES ('key' = 'k')""".stripMargin)
      (0L to 199L).filter(_ % 2 == 0).map(i => (i, s"x$i"))
        .toDF("k", "v").createOrReplaceTempView("bktt_src")
      spark.sql(s"INSERT INTO graftlog.`$t` SELECT * FROM bktt_src")
      t
    }
    val t1 = freshBucketTransform()
    val t2 = freshBucketTransform()
    // the transform became the bucket.count property, NOT a partition
    // column — same device as q460's TBLPROPERTIES form
    assert(TableLog.state(t1).props.get("bucket.count").contains("4"))
    assert(TableLog.state(t1).partCols.isEmpty)
    assert(TableLog.state(t1).active.forall(a =>
      a.cols.exists(s => s.col == "__bucket" && s.min == s.max)))
    val spj = GraftSession.scoped(spark,
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val j = spj.sql(
      s"""SELECT count(*) AS n, sum(a.k) AS s
         |FROM graftlog.`$t1` a JOIN graftlog.`$t2` b ON a.k = b.k""".stripMargin)
    assert(!j.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"),
      "expected shuffle-free bucket-transform key join")
    val r = j.collect().head
    assert((r.getLong(0), r.getLong(1)) ==
      ((100L, (0L to 199L).filter(_ % 2 == 0).sum)))
    // bucket over a non-key column is refused at CREATE
    val bad = Files.createTempDirectory("tlog_bktbad_").toString + "/tbl"
    val e = intercept[Exception](spark.sql(
      s"""CREATE TABLE graftlog.`$bad` (k BIGINT, o BIGINT)
         |PARTITIONED BY (bucket(4, o))
         |TBLPROPERTIES ('key' = 'k')""".stripMargin))
    assert(e.getMessage.contains("key column"), e.getMessage)
  }

  test("years(ts) and hours(ts) complete the temporal family: tuples " +
      "render zero-padded UTC, raw ranges prune at each grain") {
    useCatalog()
    import spark.implicits._
    // years: 3 years at 365-day strides from mid-2021
    val ty = Files.createTempDirectory("tlog_years_").toString + "/tbl"
    spark.sql(
      s"""CREATE TABLE graftlog.`$ty` (k BIGINT, ts TIMESTAMP)
         |PARTITIONED BY (years(ts)) TBLPROPERTIES ('key' = 'k')""".stripMargin)
    val base = java.time.Instant.parse("2021-07-01T00:00:00Z")
      .toEpochMilli * 1000L
    (0L to 59L).map(i => (i, base + (i % 3) * 365L * 86_400_000_000L))
      .toDF("k", "us").selectExpr("k", "timestamp_micros(us) AS ts")
      .createOrReplaceTempView("years_src")
    coalesceOff(s"INSERT INTO graftlog.`$ty` SELECT * FROM years_src")
    val ysnap = TableLog.state(ty)
    assert(ysnap.partCols == Seq("years:ts"))
    assert(ysnap.active.flatMap(_.parts.map(_.values.head)).toSet ==
      Set("2021", "2022", "2023"))
    val yb = new GraftLogScanBuilder(spark, ty, ysnap, emptyOpts)
    yb.pushFilters(Array(GreaterThanOrEqual("ts", java.sql.Timestamp.from(
      java.time.Instant.parse("2022-06-01T00:00:00Z"))), IsNotNull("ts")))
    assert(yb.chosenFiles.nonEmpty &&
      yb.chosenFiles.size < ysnap.active.size)
    assert(yb.chosenFiles.forall(_.parts.exists(_.values.head >= "2022")))
    // hours: 4 hours on one day; pruning at hour grain; DATE refused
    val th = Files.createTempDirectory("tlog_hours_").toString + "/tbl"
    spark.sql(
      s"""CREATE TABLE graftlog.`$th` (k BIGINT, ts TIMESTAMP)
         |PARTITIONED BY (hours(ts)) TBLPROPERTIES ('key' = 'k')""".stripMargin)
    val hBase = java.time.Instant.parse("2024-03-10T06:00:00Z")
      .toEpochMilli * 1000L
    (0L to 39L).map(i => (i, hBase + (i % 4) * 3_600_000_000L))
      .toDF("k", "us").selectExpr("k", "timestamp_micros(us) AS ts")
      .createOrReplaceTempView("hours_src")
    coalesceOff(s"INSERT INTO graftlog.`$th` SELECT * FROM hours_src")
    val hsnap = TableLog.state(th)
    assert(hsnap.active.flatMap(_.parts.map(_.values.head)).toSet ==
      (6 to 9).map(h => f"2024-03-10-$h%02d").toSet)
    val hb = new GraftLogScanBuilder(spark, th, hsnap, emptyOpts)
    hb.pushFilters(Array(GreaterThanOrEqual("ts", java.sql.Timestamp.from(
      java.time.Instant.parse("2024-03-10T08:00:00Z"))), IsNotNull("ts")))
    assert(hb.chosenFiles.nonEmpty &&
      hb.chosenFiles.size < hsnap.active.size)
    assert(hb.chosenFiles.forall(
      _.parts.exists(_.values.head >= "2024-03-10-08")))
    // rows exact through the pruned read
    val n = spark.sql(s"SELECT count(*) FROM graftlog.`$th` " +
      "WHERE ts >= TIMESTAMP'2024-03-10 08:00:00'").collect().head.getLong(0)
    assert(n == (0L to 39L).count(_ % 4 >= 2))
    // hours over DATE refused at CREATE
    val bad = Files.createTempDirectory("tlog_hbad_").toString + "/tbl"
    val e = intercept[Exception](spark.sql(
      s"""CREATE TABLE graftlog.`$bad` (k BIGINT, d DATE)
         |PARTITIONED BY (hours(d)) TBLPROPERTIES ('key' = 'k')""".stripMargin))
    assert(e.getMessage.contains("TIMESTAMP"), e.getMessage)
  }

  test("partition-scoped compactSmall: folding one day's debt leaves " +
      "other partitions' files untouched; disjoint scopes race-commit") {
    val t = freshDaysPartitioned() // 4 UTC days, tuple-pure files
    val before = TableLog.state(t)
    val day0 = "2024-03-10"
    def inDay(d: String)(a: TableLog.AddFile): Boolean =
      a.parts.exists(_.values.head == d)
    val day0Before = before.active.filter(inDay(day0)).map(_.relPath).toSet
    val otherBefore = before.active.filterNot(inDay(day0))
      .map(_.relPath).toSet
    // seed extra day-0 debt so there is something to fold
    import spark.implicits._
    spark.sql(s"INSERT INTO graftlog.`$t` SELECT k + 1000, ts, v " +
      s"FROM graftlog.`$t` WHERE ts < TIMESTAMP'2024-03-11 00:00:00'")
    val mid = TableLog.state(t)
    assert(mid.active.count(inDay(day0)) >= 2)
    TableLog.compactSmall(spark, t, smallBytes = Long.MaxValue,
      targetFiles = 1, scope = _.filter(inDay(day0)))
    val after = TableLog.state(t)
    // other days' files survive BY IDENTITY; day 0 folded to one
    assert(after.active.filterNot(inDay(day0)).map(_.relPath).toSet ==
      otherBefore)
    assert(after.active.count(inDay(day0)) == 1)
    assert(after.active.filter(inDay(day0))
      .forall(a => !day0Before(a.relPath)))
    // totals exact: 100 original + 25 duplicated day-0 rows
    assert(TableLog.snapshot(spark, t).count() == 125L)
  }

  test("temporal partitioning misuse fails loudly: days over a non-" +
      "temporal column refused; DML keeps day tuples exact") {
    useCatalog()
    val bad = Files.createTempDirectory("tlog_daysbad_").toString + "/tbl"
    val e = intercept[Exception](spark.sql(
      s"""CREATE TABLE graftlog.`$bad` (k BIGINT, s STRING)
         |PARTITIONED BY (days(s)) TBLPROPERTIES ('key' = 'k')""".stripMargin))
    assert(e.getMessage.contains("TIMESTAMP or DATE"), e.getMessage)
    // copy-on-write DELETE on a days-partitioned table keeps the
    // tuple inventory exact: day = k%4, so deleting odd keys kills
    // days 1 and 3 OUTRIGHT and leaves days 0 and 2 at half strength
    val t = freshDaysPartitioned()
    spark.sql(s"DELETE FROM graftlog.`$t` WHERE k % 2 = 1")
    val parts = spark.sql(
      s"SELECT * FROM graftlog.`$t#partitions`").collect()
    assert(parts.map(_.getString(0)).toSet ==
      Set("2024-03-10", "2024-03-12"))
    assert(parts.map(_.getLong(2)).sum == 50L)
    val n = spark.sql(s"SELECT count(*) FROM graftlog.`$t` " +
      "WHERE ts >= TIMESTAMP'2024-03-12 00:00:00'").collect().head.getLong(0)
    assert(n == (0L to 99L).count(i => i % 4 == 2 && i % 2 == 0))
  }
}
