package graft.queries

import java.nio.file.{FileSystemException, Files, Path, Paths,
  StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** The query surface's one artifact store. Every on-disk artifact a
  * query keeps — parquet memos, the IVF index, the bucketed copies, the
  * binaryFile, schema-evolution and streaming replay stages, and the
  * round-trip scratch dirs — lives at `/tmp/graft-<name>-<key>`.
  *
  * Key: md5 hex of the dataset dir plus the stamp of each source table
  * the artifact is derived from. A table's stamp is its total file size,
  * file count and latest mtime (directories included, so deleting a part
  * file moves it too). A table regenerated at the same path therefore
  * gives every artifact derived from it a new dir instead of serving
  * stale rows.
  *
  * Build-once artifacts ([[once]], [[memo]]): the build writes into a
  * private sibling staging dir, published with one atomic rename. The
  * target dir's existence is the done test, so no marker file is kept.
  * When another JVM has published the same key first, the rename fails,
  * the staging dir is deleted and the existing artifact is served, so two
  * JVMs never overwrite each other's artifact. Within a JVM a per-key
  * monitor runs each build once. The build runs outside any map compute
  * because builds NEST (candidateEdges' build calls the signature memo),
  * and a nested computeIfAbsent on one map is a "Recursive update"
  * error. Nested monitors can't deadlock: nesting is one-directional
  * (pair-level artifacts depend on signature-level ones, never the
  * reverse).
  *
  * Per-call scratch dirs ([[path]]): round trips that write and read
  * back within one call use the same key and overwrite the dir per call.
  *
  * The store never deletes a published artifact; `/tmp/graft-*` is safe
  * to delete whenever no JVM using it runs. */
private[queries] object Derived {
  private val Root = Paths.get("/tmp")

  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def stamp(table: Path): String =
    if (!Files.exists(table)) "absent"
    else {
      val all = Files.walk(table)
      try {
        var size, files, mtime = 0L
        all.iterator().asScala.foreach { p =>
          mtime = math.max(mtime, Files.getLastModifiedTime(p).toMillis)
          if (Files.isRegularFile(p)) { size += Files.size(p); files += 1 }
        }
        s"$size/$files/$mtime"
      } finally all.close()
    }

  /** The artifact dir for `name` over dataset `d`, keyed on the source
    * `tables`. Callers that overwrite it per call use it as is. */
  def path(name: String, d: String, tables: String*): String = {
    val src = (d +: tables.map(t =>
      s"$t@${stamp(Paths.get(graft.Tables.path(d, t)))}")).mkString("|")
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(src.getBytes("UTF-8")).map("%02x".format(_)).mkString
    Root.resolve(s"graft-$name-$key").toString
  }

  /** The build-once artifact [[path]]`(name, d, tables)`: when it is
    * absent, `build` writes it into the staging dir it is given, which is
    * then published. Returns the artifact dir. */
  def once(name: String, d: String, tables: String*)(
      build: String => Unit): String = {
    val dir = Paths.get(path(name, d, tables: _*))
    locks.computeIfAbsent(dir.toString, _ => new Object).synchronized {
      if (!Files.exists(dir)) {
        val stage = dir.resolveSibling(
          s"${dir.getFileName}.staging-${java.util.UUID.randomUUID}")
        try {
          build(stage.toString)
          publish(stage, dir)
        } finally deleteTree(stage)
      }
    }
    dir.toString
  }

  /** Rename `stage` to `dir`; when another process has published `dir`
    * first, keep its artifact (the caller deletes `stage`). Linux fails a
    * rename onto a non-empty dir with ENOTEMPTY, which Java raises as a
    * plain FileSystemException. */
  private def publish(stage: Path, dir: Path): Unit =
    try Files.move(stage, dir, StandardCopyOption.ATOMIC_MOVE)
    catch { case _: FileSystemException if Files.isDirectory(dir) => () }

  /** Memoize `build` as a parquet artifact derived from `table`. Disk
    * rather than persist() on purpose: per-query session clones defeat
    * `cache()`, and the sweep's between-query hygiene unpersists every
    * RDD, so every later caller just scans the small file. */
  def memo(s: SparkSession, d: String, table: String, tag: String)(
      build: => DataFrame): DataFrame =
    s.read.parquet(once(s"rt-$tag", d, table)(build.write.parquet(_)))

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally all.close()
    }
}
