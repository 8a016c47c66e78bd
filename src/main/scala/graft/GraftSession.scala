package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.SessionBridge

/** The one local SparkSession recipe: `Bench`, `Verify`, `Explain` and
  * the specs' `SparkSuite` all build their session here, so every
  * surface plans and reads with the same confs. A query that needs
  * its own confs runs on [[scoped]] and never changes the session it
  * was given. */
object GraftSession {

  /** Cores for the mains: `SPARK_GRAFT_CPUS`, default 4. */
  def envCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** A `local[cores]` session with one shuffle partition per core. */
  def apply(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Testdata timestamps are µs with no tz annotation; read them as
      // TIMESTAMP (UTC session) straight off the scan — same instants
      // DuckDB's naive read yields, and no NTZ cast blocking pushdown.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A clone of `s` with `confs` set on the clone only. The clone sees
    * everything the caller set up — runtime confs, temp views, catalog
    * registrations — and a DataFrame built on it plans under `confs`
    * whenever it runs, so there is nothing to restore and concurrent
    * callers of `s` never see the change.
    *
    * One read escapes the clone: a logical plan's `stats` are computed
    * lazily under the ACTIVE session's conf. So caller code that reads
    * `clone.table(t).queryExecution.optimizedPlan.stats` outside the
    * clone's own execution sees the caller's `spark.sql.cbo.enabled`,
    * not the clone's. No query in `ops/` reads `stats`; a test that
    * does keeps its conf on the session it reads from. */
  def scoped(s: SparkSession, confs: (String, String)*): SparkSession = {
    val c = SessionBridge.cloneSession(s)
    confs.foreach { case (k, v) => c.conf.set(k, v) }
    c
  }
}
