package graft

import java.io.IOException
import org.apache.hadoop.fs.{FileSystem, Path}

/** The publish step of both NDJSON writers, on any Hadoop FileSystem.
  * `apply` runs `stage` on `<target>/_temporary/<tag>`; it returns each
  * staged file with its final name. They land in this order: drop
  * `_SUCCESS`; rename each into place (a failed rename raises before any
  * old file goes); with `replace`, delete the old `part-*` files not just
  * published; write `_SUCCESS`. The staging dir always goes. On a
  * rename-is-copy object store the renames would become a manifest
  * write; only this object changes. */
private[graft] object StagedPublish {
  def staging(target: Path, tag: String): Path = new Path(target, s"_temporary/$tag")

  def apply(fs: FileSystem, target: Path, tag: String, replace: Boolean)(
      stage: Path => Seq[(Path, String)]): Unit =
    try {
      val files = stage(staging(target, tag))
      fs.delete(new Path(target, "_SUCCESS"), false)
      for ((src, name) <- files; dst = new Path(target, name))
        // HDFS refuses a rename onto an existing file; the local FS replaces it.
        if (!fs.rename(src, dst) && !(replace && fs.delete(dst, false) && fs.rename(src, dst)))
          throw new IOException(s"rename of $src to $dst failed")
      val published = files.map(_._2).toSet
      if (replace) fs.listStatus(target).map(_.getPath)
        .filter(p => p.getName.startsWith("part-") && !published(p.getName))
        .foreach(fs.delete(_, false))
      fs.create(new Path(target, "_SUCCESS"), true).close()
    } finally clean(fs, target, tag)

  def clean(fs: FileSystem, target: Path, tag: String): Unit = {
    fs.delete(staging(target, tag), true)
    // Fails while another writer is staging there: the race-safe clean-up.
    try fs.delete(new Path(target, "_temporary"), false)
    catch { case _: IOException => () }
  }
}
