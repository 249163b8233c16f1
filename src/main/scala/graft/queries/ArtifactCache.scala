package graft.queries

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

/** The one get-or-build cache for what registered queries reuse across
  * calls: persisted artifact dirs (indexes, sketch tables, exported
  * sources, the curation audit) and driver-side values (trained tokenizer
  * tables).
  *
  * An entry is keyed by `(kind, sfDir)` and holds the content signature —
  * file names/lengths/mtimes — of the fixture table it derives from, so a
  * table rewritten at the SAME path in this JVM (a regenerated fixture)
  * rebuilds the artifact instead of serving stale results. A path-only key
  * would silently serve stale centroids/codes/postings.
  *
  * Nothing bound to a session is cached: each caller reads a dir back in
  * its own session, so no query depends on pins another query left behind.
  *
  * Each key has its own monitor (re-entrant): different artifacts build
  * concurrently, a builder may consult other entries, and concurrent
  * callers of one key build it once. */
private[graft] object ArtifactCache {

  private final class Entry {
    var sig: String = _
    var value: Any = _
    @volatile var dir: String = _
  }
  private val entries = new ConcurrentHashMap[(String, String), Entry]()

  Runtime.getRuntime.addShutdownHook(new Thread(() => clear()))

  /** Dir artifact `kind` of fixture `d`, signed by `table`: on a miss the
    * dir it replaces is deleted and `build` writes a fresh
    * `graft_<kind>_` temp dir, whose path is returned. */
  def dir(s: SparkSession, kind: String, d: String, table: String)
      (build: String => Unit): String =
    getOrBuild(s, kind, d, table) { e =>
      Option(e.dir).foreach(deleteDirTree)
      e.dir = null
      val tmp = Files.createTempDirectory(s"graft_${kind}_").toString
      try build(tmp) catch { case t: Throwable => deleteDirTree(tmp); throw t }
      e.dir = tmp
      tmp
    }

  /** Driver-side value `kind` of fixture `d`, signed by `table`. */
  def value[T](s: SparkSession, kind: String, d: String, table: String)
      (build: => T): T =
    getOrBuild(s, kind, d, table)(_ => build)

  private def getOrBuild[T](s: SparkSession, kind: String, d: String,
      table: String)(build: Entry => T): T = {
    val sig = tableSignature(s, d, table)
    val e = entries.computeIfAbsent((kind, d), _ => new Entry)
    e.synchronized {
      if (e.sig != sig) {
        e.sig = null // a failed build must not leave the old signature live
        e.value = build(e)
        e.sig = sig
      }
      e.value.asInstanceOf[T]
    }
  }

  /** Forgets every entry and deletes every dir; the JVM exit hook runs it. */
  private[graft] def clear(): Unit =
    entries.keySet.forEach { k =>
      Option(entries.remove(k)).flatMap(e => Option(e.dir)).foreach(deleteDirTree)
    }

  private def tableSignature(s: SparkSession, d: String, table: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$d/$table.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.listStatus(p).filter(_.isFile).map(f =>
        s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
      .sorted.mkString(",")
  }

  private def deleteDirTree(dir: String): Unit =
    try {
      val root = Paths.get(dir)
      if (Files.exists(root)) {
        val walk = Files.walk(root)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
        finally walk.close()
      }
    } catch { case _: Exception => () }
}
