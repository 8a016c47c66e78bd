package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.ops._

/** The `query` and `query_floor` workloads: a stratified sample of the
  * query registries, run once each in a seeded order. Each query is timed
  * from building its DataFrame until its whole result is written as
  * parquet, so every column a reader would see is computed; the launcher
  * checks the written results afterwards. */
object QueryMix {
  type Query = (SparkSession, String) => DataFrame

  /** The registries `SparkEntry.queries` aggregates, by module. */
  val registries: Seq[(String, Map[String, Query])] = Seq(
    "Relational" -> Relational.queries, "Scalars" -> Scalars.queries,
    "Streaming" -> Streaming.queries, "TextOps" -> TextOps.queries,
    "DedupOps" -> DedupOps.queries, "SimilarityOps" -> SimilarityOps.queries,
    "MultimodalOps" -> MultimodalOps.queries, "ExtOps" -> ExtOps.queries,
    "EventOps" -> EventOps.queries, "LinkOps" -> LinkOps.queries,
    "SketchOps" -> SketchOps.queries, "PrivacyOps" -> PrivacyOps.queries,
    "TableOps" -> TableOps.queries, "EtlDemo" -> graft.etl.EtlDemo.queries)

  /** The sample is drawn under this fixed seed, so runs with different
    * `--seed` values measure the same queries (the run seed sets their
    * order). A per-run sample would make the spread across seeds reflect
    * which queries were drawn rather than how fast the program is. */
  val SampleSeed = 7L

  /** Run untimed before the sample, and never sampled. */
  val WarmUp = Seq("q01_pricing_summary", "q37_window_suite")

  /** Sample size per second of `--seconds`. In a fresh JVM on four cores
    * a sampled query takes about 2 s at sf0.001 and 3.5 s at sf0.1. */
  val QueriesPerSecond = 0.75

  /** The first `n` picks of a sequential proportional allocation: each
    * pick goes to the module furthest below its share of the registry,
    * and takes that module's next query in a fixed permutation. Samples
    * are nested, so a smaller `n` draws a prefix of a larger one. */
  def sample(n: Int): Seq[(String, String)] = {
    val total = registries.map(_._2.size).sum.toDouble
    val perms = registries.map { case (m, qs) =>
      m -> new Random(SampleSeed ^ m.hashCode).shuffle(qs.keys.toSeq.sorted.diff(WarmUp)) }
    val taken = mutable.Map.empty[String, Int].withDefaultValue(0)
    (1 to math.min(n, total.toInt)).map { i =>
      val (m, perm) = perms.maxBy { case (m, p) => p.size / total * i - taken(m) }
      val q = perm(taken(m))
      taken(m) += 1
      m -> q
    }
  }

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def hygiene(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  def run(spark: SparkSession, a: Args, scale: String): Map[String, Any] = {
    val dir = s"${a.data}/$scale"
    val sc = spark.sparkContext
    // Two warm-up queries (an aggregate, a window suite) written as parquet
    // at sf0.001 leave the scan, shuffle, sort, window and writer paths
    // JIT-compiled, so that cost does not land on whichever sampled query
    // runs first.
    sc.setJobGroup("harness.setup", "setup")
    WarmUp.foreach(q => Relational.queries(q)(spark, s"${a.data}/sf0.001")
      .write.parquet(Paths.get(a.out, "warmup", q).toString))
    // Set-up, repeated three times; the median counts towards setup_s.
    var order = Seq.empty[(String, String)]
    val setups = (1 to 3).map { _ =>
      val t0 = Clock.nowMs
      tables.foreach(t => spark.read.parquet(s"$dir/$t.parquet").schema)
      order = new Random(a.seed).shuffle(
        sample(math.max(1, math.round(a.seconds * QueriesPerSecond).toInt)))
      (Clock.nowMs - t0) / 1000.0
    }.sorted
    val registry = registries.toMap
    val resultsDir = Paths.get(a.out, "results")
    Files.createDirectories(resultsDir)
    val oracles = SparkEntry.oracleSql
    Files.writeString(resultsDir.resolve("oracle_sql.json"), Json(
      order.map(_._2).filter(oracles.contains).map(q => q -> oracles(q)).toMap))
    hygiene(spark)
    val setupS = Meters.sinceJvmStartS - setups.sum + setups(1)
    val ops = order.map { case (module, name) =>
      val out = resultsDir.resolve(name).toString
      sc.setJobGroup(name, name)
      val c0 = Meters.cpuS
      val t0 = Clock.nowMs
      val err = Trace.span("harness.op", name) {
        try {
          val df = Trace.span(s"ops.$module.build", name)(registry(module)(name)(spark, dir))
          Trace.span(s"ops.$module.materialize", name)(df.write.parquet(out))
          None
        } catch {
          case e: Throwable =>
            Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300))
        }
      }
      val t1 = Clock.nowMs
      val c1 = Meters.cpuS
      // Outside the timed window: stop streams the query left running and
      // free cached data, so neither reaches the next query.
      sc.setJobGroup("harness.check", name)
      val leaked = spark.streams.active.toSeq
      leaked.foreach(q => try q.stop() catch { case _: Throwable => () })
      hygiene(spark)
      sc.clearJobGroup()
      Map("name" -> name, "module" -> module, "start_ms" -> t0, "end_ms" -> t1,
        "wall_s" -> (t1 - t0) / 1000.0, "cpu_s" -> (c1 - c0), "error" -> err,
        "leaked_streams" -> leaked.size)
    }
    Map("setup_s" -> setupS, "setup_repeats_s" -> setups,
      "scale" -> scale, "ops" -> ops)
  }
}
