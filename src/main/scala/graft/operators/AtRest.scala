package graft.operators

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

/** Per-JVM at-rest artifact store: `key` -> a directory under one temp
  * root, written ONCE by its `write` function and read back per
  * execution — the discipline every deterministic index/model/
  * ground-truth artifact shares (the SQL IVF index, the walk-PQ model, the
  * exact-top-8 and dedup truth frames, the dup pair tables and
  * [[GraphIndexCache]]'s kNN graphs). Build once per JVM, reclaimed
  * on exit, so separate gate/bench runs stay hermetic.
  *
  * A `_COMPLETE` marker is written after `write` returns: a build
  * that throws leaves no marker, and the next call rebuilds from a
  * clean directory. Spark skips `_`-prefixed files, so consumers read
  * the directory with plain `read.parquet`. Each build's wall time is
  * recorded under its key, so Bench can charge the one-time artifact
  * costs visibly in its `split` section instead of leaving them
  * smeared into whichever timed query touches the artifact first.
  */
object AtRest {

  /** Recursively delete `path`; a failure is logged, never thrown. */
  def deleteTree(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    try rm(new java.io.File(path))
    catch { case NonFatal(e) =>
      System.err.println(s"[atrest] delete $path failed: ${e.getClass.getName}: ${e.getMessage}")
    }
  }

  /** [[deleteTree]] `path` at JVM exit. */
  def deleteOnExit(path: String): Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(path)))

  private lazy val root: String = {
    val dir = Files.createTempDirectory("graft_atrest").toString
    deleteOnExit(dir)
    dir
  }

  /** Per-key build monitors: builds of DIFFERENT keys proceed in
    * parallel; only same-key callers serialize.
    */
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private val times =
    new java.util.concurrent.ConcurrentHashMap[String, Double]()

  /** The directory for `key` (md5-hashed: keys carry paths), built by
    * `write` on first use.
    */
  def dir(key: String)(write: String => Unit): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val dir = s"$root/$md"
    val marker = Paths.get(dir, "_COMPLETE")
    if (!Files.exists(marker))
      locks.computeIfAbsent(key, _ => new Object).synchronized {
        if (!Files.exists(marker)) {
          deleteTree(dir) // leftovers of a build that threw
          val t0 = System.nanoTime()
          write(dir)
          times.put(key, (System.nanoTime() - t0) / 1e9)
          Files.createFile(marker)
        }
      }
    dir
  }

  /** Build seconds per key, for every artifact built in this JVM. */
  def buildTimes: Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    times.asScala.toMap
  }
}
