package graft

/** Plan-capture tool for the optimization rounds: dumps
  * `.explain("formatted")` for the named queries (or all of them) to
  * `<outDir>/<name>.txt`. Build-only tooling — the driver's surfaces
  * (Verify/Bench) are untouched; this main exists so plan claims in
  * OPTIMIZATION_r*.md are reproducible files, not prose.
  *
  * Usage: runMain graft.Explain <sfDir> <outDir> [query...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    java.nio.file.Files.createDirectories(outDir)
    val selected = SparkEntry.selected("explain", args.drop(2).toSeq)
    val spark = GraftSession(GraftSession.envCores)
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(outDir.resolve(s"$name.txt"), plan)
        println(s"[explain] wrote $name")
      } catch {
        case e: Throwable =>
          println(s"[explain] $name failed: ${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").take(200)}")
      }
    }
    spark.stop()
  }
}
