package graft.tablelog

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.SparkSuite
import TableLog.{AddFile, ColStat, PartStat}

/** The staged write's per-file stats, gathered by the writing task
  * ([[FileStats]]), against the two-pass stats the stage step used to
  * compute: a schema-inference read of the new files plus one
  * aggregation grouped by `input_file_name()` (and partition tuple).
  * That two-pass code lives on here only as the reference
  * ([[reference]]); every shape asserts equal AddFiles — rows, key
  * bounds, column stats, NDV sketch bytes, partition stats, spec id —
  * and equal bloom sidecar bytes. */
class StageStatsSpec extends SparkSuite {

  private def freshDir(): String =
    Files.createTempDirectory("tlog_stage_").toString + "/t"

  /** The pre-change `stage()` stats over `files`, verbatim in logic. */
  private def reference(table: String, files: Seq[AddFile]): Seq[AddFile] = {
    val snap = TableLog.state(table)
    val (keyCol, partCols, specId) = (snap.keyCol, snap.partCols, snap.specId)
    val df = spark.read.parquet(files.map(a => Paths.get(table, a.relPath).toString): _*)
    def nameOf(uri: String): String =
      Paths.get(new java.net.URI(uri).getPath).getFileName.toString
    val relOf = files.map(a =>
      a.relPath.substring(a.relPath.lastIndexOf('/') + 1) -> a.relPath).toMap
    val sCols = TableLog.statCols(df.schema, keyCol, partCols)
    val statExprs = sCols.flatMap { case (c, _) => Seq(min(col(c)), max(col(c))) }
    def colsOf(r: Row, base: Int): Seq[ColStat] =
      sCols.zipWithIndex.flatMap { case ((c, t), j) =>
        TableLog.mkColStat(c, t, r.get(base + 2 * j), r.get(base + 2 * j + 1)) }
    val ndvCols: Seq[String] = (keyCol +: sCols.collect {
      case (c, t) if t == 'l' || t == 's' => c }).filter(_.nonEmpty).distinct
    val ndvExprs = ndvCols.flatMap(c => Seq(
      hll_sketch_agg(col(c), TableLog.ndvLgK),
      sum(when(col(c).isNull, 1L).otherwise(0L))))
    def b64(bytes: Array[Byte]): String =
      java.util.Base64.getEncoder.encodeToString(bytes)
    def ndvsOf(r: Row, base: Int): Seq[(String, String)] =
      ndvCols.zipWithIndex.flatMap { case (c, j) =>
        Option(r.get(base + 2 * j)).map(b =>
          c -> (b64(b.asInstanceOf[Array[Byte]]) + ":" + r.getLong(base + 2 * j + 1)))
      }
    if (partCols.isEmpty)
      df.groupBy(input_file_name().as("f"))
        .agg(count(lit(1)).as("rows"),
          Seq(min(col(keyCol)).cast("long").as("mn"),
            max(col(keyCol)).cast("long").as("mx")) ++ statExprs ++ ndvExprs: _*)
        .collect().map { r =>
          AddFile(relOf(nameOf(r.getString(0))), r.getLong(1), r.getLong(2),
            r.getLong(3), cols = colsOf(r, 4), specId = specId,
            ndvs = ndvsOf(r, 4 + 2 * sCols.length))
        }.toSeq.sortBy(_.relPath)
    else {
      val tupleExpr = array(partCols.map(c =>
        coalesce(TableLog.partValueCol(c, df.schema), lit(TableLog.NullPartValue))): _*)
      df.groupBy(input_file_name().as("f"), tupleExpr.as("t"))
        .agg(count(lit(1)).as("rows"),
          Seq(min(col(keyCol)).cast("long").as("mn"),
            max(col(keyCol)).cast("long").as("mx")) ++ statExprs ++ ndvExprs: _*)
        .collect().groupBy(r => nameOf(r.getString(0)))
        .map { case (name, rs) =>
          val parts = rs.map(r => PartStat(r.getSeq[String](1).toList, r.getLong(2)))
            .sortBy(_.values.mkString("/")).toSeq
          val cols = sCols.zipWithIndex.flatMap { case ((c, t), j) =>
            val mns = rs.map(_.get(5 + 2 * j)).filter(_ != null)
            val mxs = rs.map(_.get(5 + 2 * j + 1)).filter(_ != null)
            if (mns.isEmpty || mxs.isEmpty) None
            else TableLog.mkColStat(c, t,
              mns.reduce((a, b) => if (TableLog.cmpStat(t, a, b) <= 0) a else b),
              mxs.reduce((a, b) => if (TableLog.cmpStat(t, a, b) >= 0) a else b))
          }
          val ndvBase = 5 + 2 * sCols.length
          val ndvs = ndvCols.zipWithIndex.flatMap { case (c, j) =>
            val cells = rs.map(r => (r.get(ndvBase + 2 * j), r.getLong(ndvBase + 2 * j + 1)))
            val bs = cells.map(_._1).filter(_ != null).map(_.asInstanceOf[Array[Byte]])
            if (bs.isEmpty) None
            else {
              val u = new org.apache.datasketches.hll.Union(TableLog.ndvLgK)
              bs.foreach(b => u.update(org.apache.datasketches.hll.HllSketch.heapify(b)))
              Some(c -> (b64(u.getResult(org.apache.datasketches.hll.TgtHllType.HLL_4)
                .toCompactByteArray) + ":" + cells.map(_._2).sum))
            }
          }
          AddFile(relOf(name), rs.map(_.getLong(2)).sum, rs.map(_.getLong(3)).min,
            rs.map(_.getLong(4)).max, parts, cols = cols, specId = specId, ndvs = ndvs)
        }.toSeq.sortBy(_.relPath)
    }
  }

  /** The pre-change bloom sidecar bits of each of `files`. */
  private def referenceBlooms(table: String, files: Seq[AddFile],
      c: String, m: Int): Map[String, Seq[Byte]] = {
    val pos = (0 until TableLog.bloomHashes).map(j =>
      pmod(xxhash64(lit(j), col(c)), lit(m.toLong)).cast("int"))
    files.map { a =>
      val bits = new java.util.BitSet(m)
      spark.read.parquet(Paths.get(table, a.relPath).toString)
        .select(explode(array(pos: _*))).distinct().collect()
        .foreach(r => bits.set(r.getInt(0)))
      a.relPath -> bits.toByteArray.toSeq
    }.toMap
  }

  /** Assert the table's active files carry exactly the reference stats
    * (and bloom bits); returns the active set. */
  private def assertStats(table: String): Seq[AddFile] = {
    val snap = TableLog.state(table)
    val active = snap.active.sortBy(_.relPath)
    assert(active.nonEmpty)
    val ref = reference(table, active)
    assert(active.map(_.relPath) == ref.map(_.relPath))
    // the manifest stores parts, column stats and sketches sorted. A
    // file holding several partition tuples unions its tuple sketches,
    // and the reference fed that union in its aggregation's hash order,
    // which leaves its mark on the sketch's HIP accumulator only: there
    // the registers are compared, through the register-only composite
    // estimate, with the null count
    def canon(a: AddFile) = a.copy(parts = a.parts.sortBy(_.values.mkString("/")),
      cols = a.cols.sortBy(_.col), ndvs = a.ndvs.sortBy(_._1).map { case (c, v) =>
        if (a.parts.length <= 1) (c, v)
        else {
          val cut = v.lastIndexOf(':')
          val sk = org.apache.datasketches.hll.HllSketch.heapify(
            java.util.Base64.getDecoder.decode(v.substring(0, cut)))
          (c, s"${sk.getLgConfigK}/${sk.getTgtHllType}/${sk.getCompositeEstimate}" +
            v.substring(cut))
        }
      })
    active.zip(ref).foreach { case (a, r) =>
      assert(canon(a) == canon(r), s"\nstaged:    $a\nreference: $r") }
    snap.bloom.foreach { case (c, m) =>
      val want = referenceBlooms(table, active, c, m)
      active.foreach { a =>
        val got = Files.readAllBytes(Paths.get(table, a.relPath + s".$c.bloom")).toSeq
        assert(got == want(a.relPath), s"bloom bits of ${a.relPath}")
      }
    }
    active
  }

  private def dataFiles(table: String): Seq[java.nio.file.Path] = {
    val d = Paths.get(table, "data")
    if (!Files.isDirectory(d)) Nil
    else {
      val s = Files.walk(d)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq finally s.close()
    }
  }

  /** Staged file bytes equal `df.write.parquet`'s for the same range
    * partitions (its 0-row partition-0 file aside). Only inputs small
    * enough for the range sampler to take every row have the same
    * bounds in both writes: on larger ones the sample seed follows the
    * RDD id. */
  private def assertSameBytes(df: DataFrame, keyCol: String, numFiles: Int,
      table: String): Unit = {
    val dir = Files.createTempDirectory("tlog_stage_ref_").resolve("p").toString
    df.repartitionByRange(numFiles, col(keyCol)).write.parquet(dir)
    def bytes(ps: Seq[java.nio.file.Path]): Seq[Seq[Byte]] =
      ps.sortBy(_.getFileName.toString).map(p => Files.readAllBytes(p).toSeq)
    val want = {
      val s = Files.list(Paths.get(dir))
      try s.iterator().asScala.toSeq finally s.close()
    }.filter(p => p.getFileName.toString.endsWith(".parquet") &&
      spark.read.parquet(p.toString).count() > 0L)
    val got = dataFiles(table).filter(_.getFileName.toString.endsWith(".parquet"))
    val (g, w) = (bytes(got), bytes(want))
    assert(g.map(_.length) == w.map(_.length), "file sizes")
    g.zip(w).foreach { case (a, b) =>
      assert(a == b, s"first differing byte at ${a.zip(b).indexWhere(p => p._1 != p._2)}") }
  }

  test("unpartitioned: numFiles 1, 2 and 3, long and int keys, append") {
    import spark.implicits._
    val rows = (0L until 300L).map(i => (i, (i * 7919) % 1000, s"s${i % 37}", i * 0.5))
    for (n <- Seq(1, 2, 3)) {
      val t = freshDir()
      val df = rows.toDF("k", "x", "s", "d")
      TableLog.create(df, t, "k", n)
      assert(assertStats(t).length == n)
      assertSameBytes(df, "k", n, t)
    }
    val ti = freshDir()
    val ints = rows.map { case (k, x, s, d) => (k.toInt, x.toInt, s, d) }.toDF("k", "x", "s", "d")
    TableLog.create(ints.where($"k" < 200), ti, "k", 2)
    TableLog.append(ints.where($"k" >= 200), ti, 2)
    assert(assertStats(ti).length == 4)
  }

  test("orders with 2 files; documents with 3 files, non-ASCII and long text") {
    val to = freshDir()
    TableLog.create(spark.read.parquet(s"$sf0001/orders.parquet"), to, "o_orderkey", 2)
    assert(assertStats(to).length == 2)
    val td = freshDir()
    TableLog.create(spark.read.parquet(s"$sf0001/documents.parquet"), td, "doc_id", 3)
    assert(assertStats(td).length == 3)
    import spark.implicits._
    val texts = Seq("Ünïcödé — 東京 " * 8, "😀" * 40, "z" * 31 + "\uffff" + "a",
      "short", "", "Straße İstanbul ΣΊΣΥΦΟΣ", "a" * 33, "ascii only text")
    val docs = (0 until 60).map(i => (i.toLong, texts(i % texts.length) + i, s"l${i % 4}"))
      .toDF("doc_id", "text", "lang")
    val tn = freshDir()
    TableLog.create(docs, tn, "doc_id", 3)
    assert(assertStats(tn).length == 3)
    assertSameBytes(docs, "doc_id", 3, tn)
  }

  test("NaN, ±0 and ±Inf doubles; an all-null column; one row over 3 files") {
    import spark.implicits._
    val t = freshDir()
    val ds = Seq(Double.NaN, 0.0, -0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, 1.5, -2.5)
    val df = ds.zipWithIndex.map { case (d, i) => (i.toLong, d, d.toFloat) }.toDF("k", "d", "f")
      .withColumn("n", lit(null).cast("string")).withColumn("nl", lit(null).cast("long"))
    TableLog.create(df, t, "k", 2)
    assertStats(t)
    assertSameBytes(df, "k", 2, t)
    val t1 = freshDir()
    val one = Seq((42L, "only")).toDF("k", "v")
    TableLog.create(one, t1, "k", 3)
    assert(assertStats(t1).length == 1)
    assertSameBytes(one, "k", 3, t1)
  }

  test("empty input stages no file at all, and commits no AddFile") {
    import spark.implicits._
    val t = freshDir()
    TableLog.create(Seq((1L, "a")).toDF("k", "v").where($"k" < 0), t, "k", 2)
    assert(TableLog.state(t).active.isEmpty)
    assert(dataFiles(t).isEmpty, dataFiles(t))
    TableLog.append(Seq((1L, "a"), (5L, "b")).toDF("k", "v"), t, 2)
    assertStats(t)
  }

  test("identity, days and hours partitioning, with a null partition value") {
    import spark.implicits._
    val base = (0L until 240L).map(i => (i, if (i % 11 == 0) null else s"p${i % 3}",
      new java.sql.Timestamp(1700000000000L + i * 7L * 60000L), s"v$i"))
      .toDF("k", "p", "ts", "v")
    for (spec <- Seq(Seq("p"), Seq("days:ts"), Seq("hours:ts"), Seq("p", "days:ts"))) {
      val t = freshDir()
      TableLog.create(base, t, "k", 3, partCols = spec)
      val act = assertStats(t)
      assert(act.forall(_.parts.nonEmpty), spec)
      if (spec == Seq("p"))
        assert(act.exists(_.parts.exists(_.values == Seq(TableLog.NullPartValue))))
    }
  }

  test("colMap table, compactZorder layout and a bloom table") {
    import spark.implicits._
    val df = (0L until 200L).map(i => (i, i % 17, (i * 31) % 101, s"t${i % 13}"))
      .toDF("k", "x", "y", "s")
    val tc = freshDir()
    TableLog.create(df, tc, "k", 2)
    TableLog.renameColumn(tc, "s", "label")
    TableLog.append(df.where($"k" < 50).withColumnRenamed("s", "label"), tc, 2)
    assert(TableLog.state(tc).colMap.nonEmpty)
    assertStats(tc)
    val tz = freshDir()
    TableLog.create(df, tz, "k", 2)
    TableLog.compactZorder(spark, tz, "x", "y", 3)
    assertStats(tz)
    val tb = freshDir()
    TableLog.create(df, tb, "k", 3, bloomCol = Some("s"), bloomBits = 1 << 10)
    TableLog.append(df.where($"k" % 2 === 0), tb, 2)
    assertStats(tb)
  }

  test("a write that throws mid-task leaves no .parquet in the stage dir") {
    import spark.implicits._
    // the 65th partition tuple of one file fails the writing task
    // after it has already written rows of 64 tuples
    val t = freshDir()
    val wide = (0L until 200L).map(i => (i, s"u$i")).toDF("k", "p")
    val e = intercept[Exception](TableLog.create(wide, t, "k", 1, partCols = Seq("p")))
    assert(e.getMessage.contains("partition tuples"), e.getMessage)
    assert(!dataFiles(t).exists(_.getFileName.toString.contains(".parquet")), dataFiles(t))
    // a failing row upstream of the write stages nothing either
    val t2 = freshDir()
    val bad = (0L until 50L).toDF("k")
      .withColumn("v", when($"k" === 37L, raise_error(lit("boom"))).otherwise(lit("ok")))
    intercept[Exception](TableLog.create(bad, t2, "k", 2))
    assert(!dataFiles(t2).exists(_.getFileName.toString.contains(".parquet")), dataFiles(t2))
  }
}
