package graft.etl

import java.time.Instant
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Scratch

/** Self-contained E-T-L demonstration registered as a driver query
  * (rows-only check — the fixture lives in a temp dir, not in the
  * oracle's parquet tables). Synthesizes the reference's source shape
  * (JSONPlaceholder /posts: top-level array + a single-object edge
  * case), lands, loads via the exactly-once stream, returns the table.
  */
object EtlDemo {

  /** Deterministic posts-shaped payloads (FIXTURES.md §1). */
  def arrayPayload(n: Int): String =
    (1 to n).map { i =>
      s"""{"userId": ${(i - 1) / 10 + 1}, "id": $i, "title": "title $i", "body": "body text $i"}"""
    }.mkString("[", ",", "]")

  val singleObjectPayload: String =
    """{"userId": 99, "id": 1000, "title": "solo", "body": "single object, one row"}"""

  def q80EtlPosts(spark: SparkSession, dir: String): DataFrame = {
    val root = Scratch.dir("graft_etl_").toString
    val landing = s"$root/landing"
    val table = s"$root/table"
    val checkpoint = s"$root/_checkpoint"
    Extract.land(() => arrayPayload(100), landing, Instant.parse("2024-01-01T00:00:00Z"))
    Extract.land(() => singleObjectPayload, landing, Instant.parse("2024-01-01T06:00:00Z"))
    Load.runStream(spark, landing, table, checkpoint)
    // second run must be an exactly-once no-op (reference re-load
    // duplicates rows; we deliberately don't — SURVEY.md §2.3)
    Load.runStream(spark, landing, table, checkpoint)
    Load.table(spark, table)
      .select(col("userId"), col("id"), col("title"), col("body"),
        col("processedAt").isNotNull.as("stamped"))
      .orderBy(col("id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q80_etl_posts" -> (q80EtlPosts _))

  /** Generative oracle: the fixture is deterministic by construction
    * (formulaic 100-post array + the fixed single-object edge case),
    * so DuckDB can REGENERATE the expected table from pure SQL — no
    * sfDir table involved. processedAt is wall-clock and compares as
    * the `stamped` nullness bit, which the load path guarantees TRUE
    * for every row (T0); exact values are spec-asserted in EtlSpec. */
  val oracles: Map[String, String] = Map(
    "q80_etl_posts" ->
      """SELECT (i - 1) // 10 + 1 AS userId, CAST(i AS BIGINT) AS id,
        |  'title ' || CAST(i AS VARCHAR) AS title,
        |  'body text ' || CAST(i AS VARCHAR) AS body,
        |  TRUE AS stamped
        |FROM range(1, 101) t(i)
        |UNION ALL
        |SELECT CAST(99 AS BIGINT), CAST(1000 AS BIGINT), 'solo',
        |  'single object, one row', TRUE
        |ORDER BY id""".stripMargin)
}
