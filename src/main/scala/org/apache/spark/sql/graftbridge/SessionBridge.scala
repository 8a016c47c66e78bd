package org.apache.spark.sql.graftbridge

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession

/** Bridge into the `private[sql]` session state's Hadoop-conf
  * factory — needed by the graftlog DSv2 catalog to hand Spark's own
  * parquet scan a configuration that carries the session's SQL confs
  * (timezone, parquet reader flags) exactly the way the built-in
  * file sources receive it. Kept in graftbridge with ColumnBridge /
  * FunctionBridge — the repo's declared package-cheat surface.
  */
object SessionBridge {
  def newHadoopConf(spark: SparkSession,
      options: Map[String, String]): Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConfWithOptions(options)

  /** `Dataset.ofRows` is `private[sql]` — the SQL-INSERT rewrite
    * command needs it to turn the captured INSERT source plan back
    * into a DataFrame for the TableLog write path. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `cloneSession` is `private[sql]`: a child session that starts
    * with a copy of the parent's runtime confs, temp views and
    * catalog registrations (`newSession` drops all three), and whose
    * later conf changes stay on the child. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
}
