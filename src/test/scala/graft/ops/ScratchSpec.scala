package graft.ops

import java.nio.file.{Files, Path, Paths}

import graft.SparkSuite

/** The per-JVM scratch root every ops/ and etl/ temp dir lives under. */
class ScratchSpec extends SparkSuite {

  private def entries(dir: Path): Set[String] = {
    val ls = Files.list(dir)
    try { import scala.jdk.CollectionConverters._
      ls.iterator().asScala.map(_.getFileName.toString).toSet }
    finally ls.close()
  }

  test("a query's temp dirs land under the one per-JVM root") {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val d = Scratch.dir("graft_scratch_spec_")
    assert(d.getParent == Scratch.root && Files.isDirectory(d))
    assert(Scratch.root.getParent == tmp &&
      Scratch.root.getFileName.toString.startsWith("graft_run_"))
    // q506 keeps its lazy result over the table it builds: the table
    // stays readable, and nothing new appears in the temp dir itself
    val before = entries(tmp).filter(_.startsWith("graft_"))
    val rows = TableOps.queries("q506_snapshot_tags")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    assert(entries(tmp).filter(_.startsWith("graft_")) == before)
    assert(entries(Scratch.root).exists(_.startsWith("graft_tlogtag_")))
  }

  test("rmTree deletes a tree and a symlink in it, never the link's target") {
    val d = Scratch.dir("graft_rmtree_spec_")
    val target = Files.createDirectories(Scratch.dir("graft_rmtree_target_")
      .resolve("kept"))
    Files.writeString(target.resolve("f.txt"), "x")
    Files.createDirectories(d.resolve("a/b"))
    Files.writeString(d.resolve("a/b/g.txt"), "y")
    Files.createSymbolicLink(d.resolve("a/link"), target)
    Scratch.rmTree(d)
    assert(!Files.exists(d))
    assert(Files.exists(target.resolve("f.txt")))
    Scratch.rmTree(target.getParent)
  }

  test("ops/ and etl/ make temp dirs only through Scratch and " +
      "Streaming.scratchDir") {
    def sources(dir: String): Seq[java.io.File] =
      new java.io.File(dir).listFiles().toSeq
        .filter(_.getName.endsWith(".scala")).sortBy(_.getName)
    def linesOf(f: java.io.File): Vector[String] = {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().toVector finally src.close()
    }
    val streaming = linesOf(new java.io.File("src/main/scala/graft/ops/Streaming.scala"))
    val scratchDir = {
      val start = streaming.indexWhere(_.contains("def scratchDir("))
      assert(start >= 0)
      val indent = streaming(start).takeWhile(_ == ' ').length
      val end = streaming.indexWhere(l =>
        l.trim.nonEmpty && l.takeWhile(_ == ' ').length <= indent, start + 1)
      (start to end).toSet
    }
    val sites = (sources("src/main/scala/graft/ops") ++
        sources("src/main/scala/graft/etl")).flatMap { f =>
      linesOf(f).zipWithIndex.collect {
        case (l, i) if l.contains("createTempDirectory(") => f.getName -> i }
    }
    val stray = sites.filterNot { case (f, i) =>
      f == "Scratch.scala" || (f == "Streaming.scala" && scratchDir(i)) }
    assert(sites.nonEmpty && stray.isEmpty, s"createTempDirectory( at $stray")
  }
}
