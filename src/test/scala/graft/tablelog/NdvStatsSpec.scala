package graft.tablelog

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.{GraftSession, SparkSuite}

/** Manifest NDV sketches ([[TableLog.ndvEstimate]], `AddFile.ndvs`):
  * per-file HLL registers folded to snapshot grain with zero data
  * I/O. Pins the disclosed exactness contract (±9% RSE at lgK=7 —
  * asserted inside ±15%), the all-or-nothing fold (a sketch-less
  * file blanks the column's estimate rather than understating it),
  * the DV over-approximation direction, and the CBO payoff: a join
  * build-side/broadcast decision FLIPS on the manifest NDV value
  * under spark.sql.cbo.enabled. */
class NdvStatsSpec extends SparkSuite {

  private def freshDir(): String =
    Files.createTempDirectory("tlog_ndv_").toString + "/t"

  test("ndvEstimate folds per-file sketches within the disclosed " +
      "error; survives append + compact; all-or-nothing on " +
      "sketch-less files; DV'd files over-approximate") {
    import spark.implicits._
    val t = freshDir()
    // k: 4000 distinct; s: 100 distinct strings; x: 250 distinct longs
    val df = (0L until 4000L)
      .map(i => (i, s"cat_${i % 100}", i % 250)).toDF("k", "s", "x")
    TableLog.create(df.where($"k" < 3000), t, "k", 4)
    TableLog.append(df.where($"k" >= 3000), t, 2)
    val snap = TableLog.state(t)
    def within(est: Option[Long], exact: Long): Unit = {
      assert(est.isDefined, s"expected a sketch-backed estimate for $exact")
      val e = est.get.toDouble
      assert(math.abs(e - exact) / exact <= 0.15,
        s"NDV estimate $e vs exact $exact exceeds the ±15% bound")
    }
    within(TableLog.ndvEstimate(snap.active, "k"), 4000L)
    within(TableLog.ndvEstimate(snap.active, "s"), 100L)
    within(TableLog.ndvEstimate(snap.active, "x"), 250L)
    // unknown column → None, never a guess
    assert(TableLog.ndvEstimate(snap.active, "nope").isEmpty)
    // a single sketch-less file (pre-feature manifest) blanks the
    // fold — a partial union would UNDERSTATE and mislead the CBO
    val stripped = snap.active.head.copy(ndvs = Nil) +: snap.active.tail
    assert(TableLog.ndvEstimate(stripped, "k").isEmpty,
      "partial sketch coverage must not produce an estimate")
    // compact rewrites files WITH fresh sketches
    TableLog.compact(spark, t, 2)
    within(TableLog.ndvEstimate(TableLog.state(t).active, "k"), 4000L)
    // a PARTIAL DV delete keeps the touched file's sketch: the
    // estimate stays an over-approximation of live NDV (dead rows
    // counted until rewrite — the conservative CBO direction)
    TableLog.deleteWhereDv(spark, t, $"k" < 1000L)
    val live = TableLog.state(t).active
    assert(live.map(_.liveRows).sum == 3000L)
    val est = TableLog.ndvEstimate(live, "k")
    assert(est.isDefined && est.get > 3000L * 0.85,
      s"DV'd estimate should still cover dead rows, got $est")
  }

  test("CBO: the broadcast decision on a join's OUTPUT flips on the " +
      "manifest NDV — high-NDV keys broadcast the small join result, " +
      "low-NDV keys (same sizes, same row counts) do not") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graftlog",
      "graft.sources.GraftLogCatalog")
    val n = 20000L
    // identical row counts and byte sizes; ONLY the join column's
    // distinct count differs — hi: n distinct (join output ≈ n rows,
    // KBs), lo: 5 distinct (join output ≈ n²/5 rows, hundreds of MB)
    val hi = freshDir(); val lo = freshDir()
    val dimHi = freshDir(); val dimLo = freshDir()
    val big = freshDir()
    TableLog.create((0L until n).map(i => (i, i)).toDF("k", "j"), hi, "k", 4)
    TableLog.create((0L until n).map(i => (i, i % 5)).toDF("k", "j"), lo, "k", 4)
    TableLog.create((0L until n).map(i => (i, i)).toDF("k", "j"), dimHi, "k", 4)
    TableLog.create((0L until n).map(i => (i, i % 5)).toDF("k", "j"), dimLo, "k", 4)
    TableLog.create((0L until 50L * n).map(i => (i, i % n)).toDF("k", "j"),
      big, "k", 8)
    // the leaves (20k-row facts/dim) may sit under the default 10 MB
    // threshold either way; the PIN is the TOP join — big (1M rows)
    // never broadcasts, so its build side is the estimated join
    // output, whose size under CBO comes straight from the NDV
    val cbo = GraftSession.scoped(spark, "spark.sql.cbo.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> (512 * 1024).toString)
    def planFor(fact: String, dim: String): String = {
      val q =
        s"""SELECT count(*) FROM (
           |  SELECT f.k AS fk FROM graftlog.`$fact` f
           |  JOIN graftlog.`$dim` d ON f.j = d.j
           |) i JOIN graftlog.`$big` b ON i.fk = b.j""".stripMargin
      cbo.sql(q).queryExecution.sparkPlan.toString
    }
    val hiPlan = planFor(hi, dimHi)
    val loPlan = planFor(lo, dimLo)
    assert(!hiPlan.contains("SortMergeJoin"),
      s"high-NDV join output (≈$n rows by the sketches) should " +
        s"broadcast into the big probe, not sort-merge:\n$hiPlan")
    assert(loPlan.contains("SortMergeJoin"),
      "low-NDV join output (≈n²/5 rows by the sketches) must NOT " +
        s"broadcast — the NDV channel is what separates the plans:\n$loPlan")
  }

  test("the NDV channel stays alive under deletion vectors: a MoR " +
      "table still reports CBO distinct counts, clamped to live rows") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graftlog",
      "graft.sources.GraftLogCatalog")
    val t = freshDir()
    TableLog.create((0L until 4000L).map(i => (i, i % 100))
      .toDF("k", "j"), t, "k", 4)
    TableLog.deleteWhereDv(spark, t, $"k" < 1000L) // 3000 live, no rewrite
    val prevCbo = spark.conf.getOption("spark.sql.cbo.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val stats = spark.sql(s"SELECT k, j FROM graftlog.`$t`")
        .queryExecution.optimizedPlan.stats
      val kStats = stats.attributeStats.find(_._1.name == "k").map(_._2)
      assert(kStats.exists(_.distinctCount.isDefined),
        s"MoR table lost its CBO distinct counts: $stats")
      // the write-time sketch (≈4000 ±9%) over-approximates live NDV
      // and the live-row clamp caps it at exactly the 3000 live rows
      assert(kStats.get.distinctCount.get.toLong == 3000L,
        s"expected the live-row clamp, got ${kStats.get.distinctCount}")
      // null accounting stays consistent: j has no nulls; the dead-row
      // subtraction must not go negative
      val jStats = stats.attributeStats.find(_._1.name == "j").map(_._2)
      assert(jStats.exists(_.nullCount.exists(_ == 0)),
        s"MoR null clamp wrong: $jStats")
    } finally {
      prevCbo.fold(spark.conf.unset("spark.sql.cbo.enabled"))(v =>
        spark.conf.set("spark.sql.cbo.enabled", v))
    }
  }
}
