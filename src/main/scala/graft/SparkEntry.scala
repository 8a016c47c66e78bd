package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every operator module's named queries;
  * `oracleSql` the matching DuckDB SQL (omitted for ops that aren't
  * SQL-expressible — those get the driver's rows-only check).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q01PricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ Scalars.queries ++ Streaming.queries ++
      TextOps.queries ++ DedupOps.queries ++ SimilarityOps.queries ++
      MultimodalOps.queries ++ ExtOps.queries ++ EventOps.queries ++
      LinkOps.queries ++ SketchOps.queries ++ PrivacyOps.queries ++
      TableOps.queries ++ graft.etl.EtlDemo.queries

  /** The queries `names` lists, or all of them when it is empty. An
    * unknown name is reported on stderr and exits with status 2: a
    * typo'd subset must fail, not run nothing and exit clean. */
  def selected(tool: String, names: Seq[String])
      : Map[String, (SparkSession, String) => DataFrame] = {
    val wanted = names.toSet
    val unknown = wanted -- queries.keySet
    if (unknown.nonEmpty) {
      System.err.println(
        s"[$tool] unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    if (wanted.isEmpty) queries else queries.filter { case (k, _) => wanted(k) }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Relational.oracles ++ Scalars.oracles ++ Streaming.oracles ++
      TextOps.oracles ++ DedupOps.oracles ++ SimilarityOps.oracles ++
      MultimodalOps.oracles ++ ExtOps.oracles ++ EventOps.oracles ++
      LinkOps.oracles ++ SketchOps.oracles ++ PrivacyOps.oracles ++
      TableOps.oracles ++ graft.etl.EtlDemo.oracles
}
