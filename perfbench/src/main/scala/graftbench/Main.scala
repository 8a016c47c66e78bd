package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Minimal JSON rendering for the run record (numbers, strings, maps,
  * sequences, booleans, null). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}

/** Process-level meters: CPU time and peak heap of this JVM. */
object Meters {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS: Double = os.getProcessCpuTime / 1e9
  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0
  def jvmStartMs: Double = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
  /** Seconds since this JVM started. */
  def sinceJvmStartS: Double = (Clock.nowMs - jvmStartMs) / 1000.0
}

/** `inject` is a test hook: "duplicate-row" re-appends one committed row
  * before the ingest check, which the check must report. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    data: String, out: String, cores: Int, inject: Option[String])

/** One benchmark run in a fresh JVM. Writes `run.json` (raw measurements)
  * and, when traced, `spans.jsonl` into the output directory; the
  * launcher turns them into metrics and checks query results. */
object Main {
  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("data"), need("out"), need("cores").toInt,
      m.get("inject"))
  }

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", Paths.get(a.out, "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.out))
    val spark = session(a)
    val counters = if (a.trace) {
      Trace.on = true
      val c = new SparkCounters(spark)
      c.install()
      Some(c)
    } else None
    val record: Map[String, Any] = a.workload match {
      case "ingest" => Ingest.run(spark, a)
      case "query" => QueryMix.run(spark, a, "sf0.1")
      case "query_floor" => QueryMix.run(spark, a, "sf0.001")
      case w => sys.error(s"unknown workload $w")
    }
    val listened = counters.map { c =>
      c.flush()
      Thread.sleep(200) // the streams queue is separate from the shared one
      Map("stages" -> c.stages.asScala.toSeq.map(s => Map(
        "group" -> s.group, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "tasks" -> s.tasks, "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs,
        "gc_ms" -> s.gcMs, "input_bytes" -> s.inputBytes,
        "shuffle_read_bytes" -> s.shuffleReadBytes,
        "shuffle_write_bytes" -> s.shuffleWriteBytes, "spill_bytes" -> s.spillBytes)),
        "progress" -> c.progress.asScala.toSeq.map(p => Map(
          "run_id" -> p.runId, "batch_id" -> p.batchId, "start_ms" -> p.startMs,
          "input_rows" -> p.inputRows, "duration_ms" -> p.durations)))
    }
    if (a.trace) Trace.write(Paths.get(a.out, "spans.jsonl").toString)
    val full = record ++ Map("workload" -> a.workload, "seed" -> a.seed,
      "cores" -> a.cores, "traced" -> a.trace, "heap_peak_mb" -> Meters.heapPeakMb,
      "spark" -> listened)
    Files.writeString(Paths.get(a.out, "run.json"), Json(full) + "\n")
    spark.stop()
  }
}
