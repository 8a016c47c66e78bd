package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.SparkSuite

/** Repeat calls of the TableOps queries whose fixtures touch
  * session-global names (warehouse catalogs, named memory sinks) or
  * are not idempotent (vacuum, tag, deletion vectors): each query runs
  * twice at sf0.001, then once at sf0.01, in one session. Equal scale
  * must give equal rows, and the second scale must give its own rows,
  * not the first scale's. */
class TableOpsRepeatSpec extends SparkSuite {

  def sf001 = sf0001.stripSuffix("sf0.001") + "sf0.01"

  // A child of the shared session: same SparkContext and confs, but its
  // own catalog registrations and temp views, so the `graftwh` catalog
  // q437 registers cannot meet the one GraftLogWarehouseSpec registers.
  private lazy val session: SparkSession = spark.newSession()

  private val cases: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q437 warehouse catalog" -> TableOps.q437NamedCatalog,
    "q441 stream by name" -> TableOps.q441StreamByName,
    "q422 stream source memory sink" -> TableOps.q422TableStreamSource,
    "q429 change-feed memory sink" -> TableOps.q429ChangeFeedStream,
    "q459 skip-change-commits memory sink" -> TableOps.q459SkipChangeCommits,
    "q419 vacuum" -> TableOps.q419VacuumRetention,
    "q506 snapshot tag" -> TableOps.q506SnapshotTags,
    "q456 deletion-vector detail" -> TableOps.q456TableDetail)

  cases.foreach { case (name, q) =>
    test(s"$name: repeat calls agree at one scale, and a second scale reads its own data") {
      def rows(dir: String): Seq[Row] = q(session, dir).collect().toSeq
      val first = rows(sf0001)
      val second = rows(sf0001)
      val larger = rows(sf001)
      assert(first.nonEmpty)
      assert(second == first)
      assert(larger.nonEmpty)
      assert(larger != first)
    }
  }
}
