package graft.ops

import graft.{GraftSession, SparkSuite}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** [[DedupOps.ccFixpoint]]'s two paths give the same labels under the
  * same schema: the driver-side union-find (pair sets under the
  * broadcast gate — every case here at the suite's default threshold)
  * and the distributed min-label + pointer-jumping loop (forced with
  * the threshold at −1 on a scoped session). */
class CcFixpointSpec extends SparkSuite {

  private lazy val loopSession =
    GraftSession.scoped(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  private def pairsOn(s: SparkSession, ps: Seq[(Any, Any)],
                      nullable: Boolean): DataFrame = {
    val schema = StructType(Seq(StructField("doc_a", LongType, nullable),
      StructField("doc_b", LongType, nullable)))
    val rows = new java.util.ArrayList[Row]()
    ps.foreach { case (a, b) => rows.add(Row(a, b)) }
    s.createDataFrame(rows, schema)
  }

  private def onDriver(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])

  private def sorted(df: DataFrame): Seq[(Option[Long], Option[Long])] =
    df.collect().toSeq.map(r =>
      (Option(r.get(0)).map(_.asInstanceOf[Long]),
        Option(r.get(1)).map(_.asInstanceOf[Long])))
      .sortBy { case (d, _) => d.getOrElse(Long.MinValue) }

  /** Runs both paths, asserts equal schema and rows; returns the rows. */
  private def bothWays(ps: Seq[(Any, Any)], nullable: Boolean = true)
      : Seq[(Option[Long], Option[Long])] = {
    val driver = DedupOps.ccFixpoint(spark, pairsOn(spark, ps, nullable))
    val loop = DedupOps.ccFixpoint(loopSession, pairsOn(loopSession, ps, nullable))
    assert(driver.schema == loop.schema,
      s"${driver.schema.treeString} vs ${loop.schema.treeString}")
    val rows = sorted(driver)
    assert(rows == sorted(loop))
    rows
  }

  private def labels(rows: Seq[(Option[Long], Option[Long])]): Map[Long, Long] =
    rows.collect { case (Some(d), Some(l)) => d -> l }.toMap

  test("small pair sets finish on the driver; threshold -1 runs the loop") {
    val ps = Seq[(Any, Any)]((1L, 2L), (2L, 3L))
    assert(onDriver(DedupOps.ccFixpoint(spark, pairsOn(spark, ps, nullable = false))))
    assert(!onDriver(DedupOps.ccFixpoint(loopSession,
      pairsOn(loopSession, ps, nullable = false))))
  }

  test("empty pairs: no labels, same schema both ways") {
    assert(bothWays(Seq.empty).isEmpty)
    assert(bothWays(Seq.empty, nullable = false).isEmpty)
  }

  test("one pair and a self-pair") {
    assert(labels(bothWays(Seq((1L, 2L)), nullable = false)) == Map(1L -> 1L, 2L -> 1L))
    assert(labels(bothWays(Seq((5L, 5L)))) == Map(5L -> 5L))
  }

  test("duplicate and reversed pairs collapse onto the same components") {
    val ps = Seq[(Any, Any)]((1L, 2L), (2L, 1L), (1L, 2L), (3L, 2L), (8L, 7L), (7L, 8L))
    assert(labels(bothWays(ps)) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("null endpoints: the null node takes its partners' min label and passes none on") {
    // the loop's join never matches a null key: the null node only
    // receives. Pinned on the loop first, then required of both paths.
    val n: Any = null
    assert(bothWays(Seq((3L, 4L), (4L, n), (n, 9L), (10L, 11L))) == Seq(
      (None, Some(3L)), (Some(3L), Some(3L)), (Some(4L), Some(3L)),
      (Some(9L), Some(9L)), (Some(10L), Some(10L)), (Some(11L), Some(10L))))
    assert(bothWays(Seq((n, n))) == Seq((None, None)))
    assert(bothWays(Seq((n, n), (n, 6L), (5L, 6L))) ==
      Seq((None, Some(5L)), (Some(5L), Some(5L)), (Some(6L), Some(5L))))
  }

  test("a star labels every leaf with the minimum id") {
    val ps = (Seq.range(0L, 40L) ++ Seq.range(41L, 81L)).map(l => (40L: Any, l: Any))
    assert(labels(bothWays(ps, nullable = false)) == (0L to 80L).map(_ -> 0L).toMap)
  }

  test("a 64-node chain in shuffled order converges to its minimum") {
    val ps = new scala.util.Random(7).shuffle((1L until 64L).map(k => (k + 1: Any, k: Any)))
    assert(labels(bothWays(ps, nullable = false)) == (1L to 64L).map(_ -> 1L).toMap)
  }

  test("seeded random graph (~5k edges, long chains): both paths match a reference") {
    val rnd = new scala.util.Random(42)
    val ids = rnd.shuffle((0L until 4000L).toVector)
    // 8 chains of 500 shuffled ids, then 1000 extra edges inside chains
    val chains = ids.grouped(500).toVector
    val chainEdges = chains.flatMap(c => c.sliding(2).map(w => (w(0), w(1))))
    val extra = (0 until 1000).map { _ =>
      val c = chains(rnd.nextInt(chains.length))
      (c(rnd.nextInt(c.length)), c(rnd.nextInt(c.length)))
    }
    val ps = rnd.shuffle(chainEdges ++ extra).map { case (a, b) => (a: Any, b: Any) }
    assert(ps.length > 4900)
    val expected = chains.flatMap(c => c.map(_ -> c.min)).toMap
    assert(labels(bothWays(ps, nullable = false)) == expected)
  }

  test("a 1e5-node chain on the driver path: iterative union-find, no stack overflow") {
    val n = 100000L
    val ps = (1L until n).map(k => (k + 1: Any, k: Any))
    val df = DedupOps.ccFixpoint(spark, pairsOn(spark, ps, nullable = false))
    assert(onDriver(df))
    val rows = df.collect()
    assert(rows.length == n)
    assert(rows.forall(_.getLong(1) == 1L))
  }

  test("CC consumers q74/q79/q127/q290/q386 at sf0.001: same rows on both paths") {
    def rows(df: DataFrame) = df.collect().toSeq.map(_.toSeq).sortBy(_.toString)
    for ((name, q) <- Seq[(String, (SparkSession, String) => DataFrame)](
      "q74" -> DedupOps.q74ClusterKeepers,
      "q79" -> DedupOps.q79NeardupClusters,
      "q127" -> DedupOps.q127IncrementalClusters,
      "q290" -> DedupOps.q290ClusterDensity,
      "q386" -> SimilarityOps.q386GridDensity)) {
      val driver = rows(q(spark, sf0001))
      assert(driver.nonEmpty, name)
      assert(driver == rows(q(loopSession, sf0001)), name)
    }
  }
}
