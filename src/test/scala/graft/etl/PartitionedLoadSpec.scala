package graft.etl

import graft.SparkSuite
import org.apache.spark.sql.functions._

class PartitionedLoadSpec extends SparkSuite {

  test("date-partitioned load: pruning engages, only the queried day is scanned") {
    val root = java.nio.file.Files.createTempDirectory("graft_part").toString
    val landing = s"$root/landing"
    val table = s"$root/table"
    // two batches landed and loaded under different processing days
    Extract.land(() => """[{"userId":1,"id":1,"title":"a","body":"x"}]""", landing,
      java.time.Instant.parse("2024-03-01T10:00:00Z"))
    Load.runBatchPartitioned(spark, landing, table,
      to_timestamp(lit("2024-03-01 10:00:00")))
    val landing2 = s"$root/landing2"
    Extract.land(() => """[{"userId":2,"id":2,"title":"b","body":"y"}]""", landing2,
      java.time.Instant.parse("2024-03-02T10:00:00Z"))
    Load.runBatchPartitioned(spark, landing2, table,
      to_timestamp(lit("2024-03-02 10:00:00")))

    // layout: Hive-style load_date= directories
    val dirs = new java.io.File(table).listFiles().map(_.getName).filter(_.startsWith("load_date="))
    assert(dirs.toSet == Set("load_date=2024-03-01", "load_date=2024-03-02"))

    val day1 = Load.partitionedTable(spark, table)
      .where(col("load_date") === "2024-03-01")
    assert(day1.count() == 1)
    assert(day1.head().getAs[Long]("id") == 1L)
    // the predicate must be a PartitionFilter (directory pruning),
    // never a data filter
    val plan = day1.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(load_date"), plan.take(400))
  }

  test("dynamic partition pruning: a filtered dim join prunes fact partitions at runtime") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    val table = s"$root/table"
    for (day <- 1 to 3) {
      val landing = s"$root/landing$day"
      Extract.land(() => s"""[{"userId":$day,"id":$day,"title":"t","body":"b"}]""",
        landing, java.time.Instant.parse(f"2024-03-0$day%dT10:00:00Z"))
      Load.runBatchPartitioned(spark, landing, table,
        to_timestamp(lit(f"2024-03-0$day%d 10:00:00")))
    }
    // the partition predicate is only known at RUNTIME, via the dim's
    // filter — static pruning can't help; DPP injects the dim-side
    // values into the fact scan's PartitionFilters (at 100 TB: scan
    // one day because the calendar dim said so, not the whole table)
    // the dim must come from storage: a local Seq's filter constant-
    // folds into the LocalRelation before the DPP rule looks for a
    // selective predicate
    // `active = 'y'` rather than a bare boolean: DPP also requires the
    // dim predicate to look selective (EqualTo/In/...), which a lone
    // boolean attribute does not
    Seq(("2024-03-02", "y"), ("2024-03-01", "n"), ("2024-03-03", "n"))
      .toDF("d", "active").write.parquet(s"$root/dim")
    // DPP's benefit heuristic compares estimated sizes and skips
    // kilobyte-scale fixtures; force the estimate so the PLAN property
    // (a DynamicPruning subquery in PartitionFilters) is what's pinned
    val dpp = graft.GraftSession.scoped(spark,
      "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio" -> "100000")
    val dim = dpp.read.parquet(s"$root/dim")
    val joined = Load.partitionedTable(dpp, table)
      .join(dim.where($"active" === "y"), col("load_date") === to_date($"d"))
    val rows = joined.collect()
    assert(rows.length == 1 && rows.head.getAs[Long]("id") == 2L)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"), plan.take(800))
  }
}
