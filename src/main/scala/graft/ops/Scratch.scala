package graft.ops

import java.nio.file.{Files, Path}

/** Temp dirs of query builds. Most TableLog and format queries return
  * LAZY frames over the tables they build (q506 returns `s.sql` over
  * ``graftlog.`$t` ``), so their dirs must outlive the build and cannot
  * be deleted when it returns, the way [[Streaming.freshBuild]]
  * deletes its scratch. They all live under one root per JVM instead,
  * made on first use and deleted by one shutdown hook: a long bench
  * or verify session leaves nothing in the temp dir once its JVM
  * exits (a JVM killed outright leaves the one root). */
private[graft] object Scratch {

  /** The per-JVM root, under `java.io.tmpdir`. */
  private[ops] lazy val root: Path = {
    val r = Files.createTempDirectory("graft_run_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => rmTree(r)))
    r
  }

  /** A fresh dir under [[root]], named `prefix` plus a random suffix. */
  def dir(prefix: String): Path = Files.createTempDirectory(root, prefix)

  /** Recursive delete that never follows symlinks — the landing dirs
    * link into the read-only testdata, and only the link dies. The
    * walk stream is closed before deleting (it holds a directory
    * handle; leaking one per scratch-dir cleanup is exactly the slow
    * drip a long bench/verify session can't afford). */
  def rmTree(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.exists(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val walk = Files.walk(p)
      val paths = try walk.iterator().asScala.toSeq finally walk.close()
      paths.reverse.foreach(Files.deleteIfExists)
    }
  }
}
