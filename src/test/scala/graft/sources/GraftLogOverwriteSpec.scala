package graft.sources

import java.nio.file.Files

import graft.{GraftSession, SparkSuite}
import graft.tablelog.TableLog

/** INSERT OVERWRITE / TRUNCATE on the catalog (q434/q435's
  * machinery): expression overwrite (static partition spec),
  * dynamic partition overwrite, the truncate form, and the COW
  * locality guarantee — untouched partitions keep their exact files
  * across the restatement. */
class GraftLogOverwriteSpec extends SparkSuite {

  private def useCatalog(): Unit =
    spark.conf.set("spark.sql.catalog.graftlog",
      "graft.sources.GraftLogCatalog")

  /** Partitioned table, p ∈ {a,b,c,d}, 25 rows each; AQE coalescing
    * off during writes so the clustered layout is tuple-pure (the
    * at-scale shape — see GraftLogPartitionSpec). */
  private def fresh(): String = {
    useCatalog()
    val t = Files.createTempDirectory("tlog_ovw_").toString + "/tbl"
    spark.sql(
      s"""CREATE TABLE graftlog.`$t` (k BIGINT, p STRING, v STRING)
         |PARTITIONED BY (p) TBLPROPERTIES ('key' = 'k')""".stripMargin)
    import spark.implicits._
    (0L to 99L).map(i => (i, s"${('a' + (i % 4).toInt).toChar}", s"x$i"))
      .toDF("k", "p", "v").createOrReplaceTempView("ovw_src")
    coalesceOff().sql(s"INSERT INTO graftlog.`$t` SELECT * FROM ovw_src")
    t
  }

  /** A child session with AQE coalescing off (plus `confs`); it
    * sees the temp views registered before it is made. */
  private def coalesceOff(confs: (String, String)*) =
    GraftSession.scoped(spark,
      ("spark.sql.adaptive.coalescePartitions.enabled" -> "false") +: confs: _*)

  test("static INSERT OVERWRITE PARTITION restates ONE partition; " +
      "untouched partitions keep their exact files") {
    val t = fresh()
    val before = TableLog.state(t)
    val untouchedBefore = before.active.filter(a =>
      !a.parts.exists(_.values == Seq("b"))).map(_.relPath).toSet
    import spark.implicits._
    (1000L to 1009L).map(i => (i, s"n$i")).toDF("k", "v")
      .createOrReplaceTempView("ovw_new_b")
    coalesceOff().sql(
      s"""INSERT OVERWRITE graftlog.`$t` PARTITION (p = 'b')
         |SELECT k, v FROM ovw_new_b""".stripMargin)
    val after = TableLog.state(t)
    // one commit; b is exactly the 10 new rows; a/c/d untouched
    assert(after.version == before.version + 1)
    val got = spark.sql(
      s"SELECT p, count(*) AS n FROM graftlog.`$t` GROUP BY p")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("a" -> 25L, "b" -> 10L, "c" -> 25L, "d" -> 25L))
    assert(spark.sql(
      s"SELECT min(k), max(k) FROM graftlog.`$t` WHERE p = 'b'")
      .collect().head.toSeq == Seq(1000L, 1009L))
    // COW locality: every file with no 'b' tuple survived AS-IS
    val untouchedAfter = after.active.filter(a =>
      !a.parts.exists(_.values == Seq("b"))).map(_.relPath).toSet
    assert(untouchedBefore.subsetOf(untouchedAfter))
    // and time travel still reads the pre-overwrite partition
    assert(spark.sql(
      s"""SELECT count(*) FROM graftlog.`$t` VERSION AS OF ${before.version}
         |WHERE p = 'b'""".stripMargin).collect().head.getLong(0) == 25L)
  }

  test("dynamic partition overwrite replaces exactly the incoming " +
      "partitions, decided from the task writers' tuple stats") {
    val t = fresh()
    val before = TableLog.state(t)
    import spark.implicits._
    // incoming holds only b and d rows
    (Seq((500L, "b", "nb"), (501L, "b", "nb2"), (600L, "d", "nd")))
      .toDF("k", "p", "v").createOrReplaceTempView("ovw_dyn_src")
    coalesceOff("spark.sql.sources.partitionOverwriteMode" -> "dynamic").sql(
      s"INSERT OVERWRITE graftlog.`$t` SELECT * FROM ovw_dyn_src")
    val got = spark.sql(
      s"SELECT p, count(*) AS n FROM graftlog.`$t` GROUP BY p")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("a" -> 25L, "b" -> 2L, "c" -> 25L, "d" -> 1L))
    // a and c kept their exact files
    val after = TableLog.state(t)
    val keepBefore = before.active.filter(a => !a.parts.exists(p =>
      p.values == Seq("b") || p.values == Seq("d"))).map(_.relPath).toSet
    assert(keepBefore.subsetOf(after.active.map(_.relPath).toSet))
  }

  test("expression overwrite via writeTo().overwrite and the truncate " +
      "forms; TRUNCATE TABLE keeps history time-travelable") {
    val t = fresh()
    import spark.implicits._
    // DataFrameWriterV2 expression overwrite: k >= 50 dies, incoming lands
    val off = coalesceOff()
    off.createDataFrame(Seq((5000L, "a", "big"))).toDF("k", "p", "v")
      .writeTo(s"graftlog.`$t`").overwrite($"k" >= 50L)
    val n1 = spark.sql(s"SELECT count(*), sum(k) FROM graftlog.`$t`")
      .collect().head
    assert(n1.getLong(0) == 51L) // 0..49 survivors + 1 incoming
    assert(n1.getLong(1) == (0L until 50L).sum + 5000L)
    // static INSERT OVERWRITE with no partition spec = truncate form
    (Seq((9L, "z", "only")).toDF("k", "p", "v")
      .createOrReplaceTempView("ovw_all"))
    coalesceOff().sql(s"INSERT OVERWRITE graftlog.`$t` SELECT * FROM ovw_all")
    assert(spark.sql(s"SELECT count(*) FROM graftlog.`$t`")
      .collect().head.getLong(0) == 1L)
    // TRUNCATE TABLE: empty now, previous version intact
    val vBefore = TableLog.latestVersion(t)
    spark.sql(s"TRUNCATE TABLE graftlog.`$t`")
    assert(spark.sql(s"SELECT count(*) FROM graftlog.`$t`")
      .collect().head.getLong(0) == 0L)
    assert(spark.sql(
      s"SELECT count(*) FROM graftlog.`$t` VERSION AS OF $vBefore")
      .collect().head.getLong(0) == 1L)
  }
}
