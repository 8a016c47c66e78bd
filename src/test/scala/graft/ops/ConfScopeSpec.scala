package graft.ops

import org.apache.spark.sql.SparkSession
import graft.{SparkEntry, SparkSuite}

/** Queries that need their own confs run them on a scoped clone
  * (`GraftSession.scoped`) and never change the session they are
  * given. One test per such query compares the caller's conf before
  * and after the run; the lint pins that no query function in `ops/`
  * sets or unsets a conf on its caller's session, except the catalog
  * registrations a SQL-by-name query needs. */
class ConfScopeSpec extends SparkSuite {

  // A child of the shared session, so the catalogs these queries
  // register stay off the session other specs use.
  private lazy val session: SparkSession = spark.newSession()

  /** The caller's confs, without the catalog registrations that
    * `withCatalog` and `warehouseRoot` make on purpose. */
  private def confs(s: SparkSession): Map[String, String] =
    s.conf.getAll.filter { case (k, _) => !k.startsWith("spark.sql.catalog.") }

  Seq("q30_stream_tumbling", "q177_transform_with_state",
    "q432_partitioned_prune", "q434_insert_overwrite",
    "q435_dynamic_overwrite", "q445_storage_partitioned_join",
    "q460_bucketed_key_join", "q416_explain_analyze",
    "q399_runtime_filter", "q387_sql_scripting").foreach { name =>
    test(s"$name leaves the caller's session conf unchanged") {
      val before = confs(session)
      assert(SparkEntry.queries(name)(session, sf0001).collect().nonEmpty)
      val after = confs(session)
      val changed = (after.toSet diff before.toSet) ++ (before.toSet diff after.toSet)
      assert(changed.isEmpty)
    }
  }

  test("a scoped session sees the caller's runtime confs and temp views; " +
      "its own confs stay on the clone") {
    val s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "America/New_York")
    s.range(3).createOrReplaceTempView("scope_probe")
    val scoped = graft.GraftSession.scoped(s, "spark.sql.shuffle.partitions" -> "3")
    assert(scoped.conf.get("spark.sql.session.timeZone") == "America/New_York")
    assert(scoped.table("scope_probe").count() == 3)
    assert(scoped.conf.get("spark.sql.shuffle.partitions") == "3")
    assert(s.conf.get("spark.sql.shuffle.partitions") != "3")
  }

  test("ops/ sets or unsets no session conf beyond the three catalog registrations") {
    val dir = new java.io.File("src/main/scala/graft/ops")
    val sites = dir.listFiles().toSeq.filter(_.getName.endsWith(".scala"))
      .sortBy(_.getName)
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().toList
          .filter(l => l.contains("conf.set(") || l.contains("conf.unset("))
          .map(l => f.getName -> l.trim)
        finally src.close()
      }
    assert(sites == Seq(
      "TableOps.scala" -> """s.conf.set("spark.sql.catalog.graftlog",""",
      "TableOps.scala" ->
        """s.conf.set(s"spark.sql.catalog.$catalog", "graft.sources.GraftLogCatalog")""",
      "TableOps.scala" -> "s.conf.set(key, root)"), sites.mkString("\n"))
  }
}
