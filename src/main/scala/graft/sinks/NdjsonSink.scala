package graft.sinks

import graft.{SerializableHadoopConf, StagedPublish}
import java.io.{BufferedOutputStream, ByteArrayOutputStream}
import java.util.zip.GZIPOutputStream
import org.apache.hadoop.fs.Path
import org.apache.spark.{Partitioner, TaskContext}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Batch-windowed NDJSON sink — the W1/W2/K1/K2 tail of the reference
  * pipeline (SURVEY.md §2.1).
  *
  *  - W2: one JSON object per line, serialized once with to_json.
  *  - W1 count cap: n records land as exactly ceil(n / batchSize) files;
  *    file k holds global indexes [k·batchSize, (k+1)·batchSize) (the
  *    count half of the count-or-time window; the time half is the
  *    streaming trigger interval).
  *  - K1/K2: <dir>/<uid>_<batchId>/part-<k>.log[.gz], then `_SUCCESS`.
  *    A gzip file is one gzip member per input partition it spans,
  *    concatenated: one valid gzip file (RFC 1952 §2.2) that
  *    `GZIPInputStream`, Hadoop's codec and `zcat` read whole.
  *  - Batch id comes from foreachBatch (monotonic), not wall-clock nanos —
  *    a deliberate divergence from io/batch.go:8-10 (restart-safe): a
  *    re-run batch id overwrites `<uid>_<batchId>`.
  */
object NdjsonSink {

  /** Write one micro-batch (or one batch DataFrame) as count-capped
    * NDJSON files in two Spark jobs (one for an empty input). Returns
    * the number of files written.
    *
    *  - Job 1 pins the serialized lines with `localCheckpoint` and
    *    counts each partition's rows, which give each partition's global
    *    offset. A plain round-robin `repartition(files)` does NOT
    *    guarantee the cap (caught by the batch-partitioning property
    *    test). The count's function captures nothing, so the job ships
    *    the input's plan once.
    *  - After job 1 the pinned lines drop their lineage: job 2 reads the
    *    blocks job 1 stored and ships no plan, and it sees exactly the
    *    rows job 1 counted, even for a non-deterministic input. The
    *    trade-off is block loss: a lost block fails the write instead of
    *    being recomputed (perhaps with other rows). The micro-batch then
    *    does not commit, and a restart re-runs it under the same batch id,
    *    which overwrites `<uid>_<batchId>` (the replay law above).
    *  - Job 2: each partition packs the rows of every chunk it overlaps
    *    into one member (gzip or plain), so compression runs on every
    *    partition; the members shuffle to `files` writers, and writer k
    *    concatenates them in partition order into a file staged under
    *    its task attempt's name.
    *  - The driver publishes through graft.StagedPublish: a re-run keeps
    *    the old files until the new ones are in place, and a failed
    *    rename raises an `IOException` naming the path. */
  def write(batch: DataFrame, dir: String, uid: String, batchId: Long,
      batchSize: Int, gzip: Boolean = false): Int = {
    val lines = batch.select(to_json(struct(batch.columns.map(col): _*)))
      .queryExecution.toRdd.map(_.getUTF8String(0).copy().getBytes)
      .localCheckpoint()
    try {
      val counts = batch.sparkSession.sparkContext
        .runJob(lines, (it: Iterator[Array[Byte]]) => it.size.toLong)
      val starts = counts.scanLeft(0L)(_ + _)
      val n = starts.last
      if (n == 0) return 0
      val files = ((n + batchSize - 1) / batchSize).toInt
      val hconf = new SerializableHadoopConf(batch.sparkSession.sessionState.newHadoopConf())
      val dirPath = new Path(s"$dir/${uid}_$batchId")
      val fs = dirPath.getFileSystem(hconf.value)
      // Qualified, so executors resolve the same location as the driver.
      val target = fs.makeQualified(dirPath)
      val ext = if (gzip) ".log.gz" else ".log"
      // Tagged by batch id, so a re-run also clears a crashed run's staging.
      StagedPublish(fs, target, batchId.toString, replace = true) { staging =>
        lines
          .mapPartitionsWithIndex { (p, rows) =>
            val all = rows.toArray
            val k0 = (starts(p) / batchSize).toInt
            val head = (batchSize - starts(p) % batchSize).toInt // rows left in chunk k0
            (Iterator(all.take(head)) ++ all.drop(head).grouped(batchSize))
              .filter(_.nonEmpty).zipWithIndex
              .map { case (chunk, j) => (k0 + j, (p, member(chunk, gzip))) }
          }
          .partitionBy(new Partitioner {
            override def numPartitions: Int = files
            override def getPartition(key: Any): Int = key.asInstanceOf[Int]
          })
          .mapPartitionsWithIndex { (k, blocks) =>
            val path = new Path(staging,
              f"part-$k%05d-${TaskContext.get.taskAttemptId}$ext")
            val out = path.getFileSystem(hconf.value).create(path, true)
            try blocks.map(_._2).toArray.sortBy(_._1).foreach(m => out.write(m._2))
            finally out.close()
            Iterator.single(path -> f"part-$k%05d$ext")
          }
          .collect().toSeq
      }
      files
    } finally lines.unpersist(blocking = false)
  }

  /** The newline-terminated `lines`, gzip-compressed when `gzip`. */
  private def member(lines: Array[Array[Byte]], gzip: Boolean): Array[Byte] = {
    val buf = new ByteArrayOutputStream(1 << 16)
    val out = new BufferedOutputStream(
      if (gzip) new GZIPOutputStream(buf, 1 << 16) else buf, 1 << 16)
    lines.foreach { l => out.write(l); out.write('\n') }
    out.close()
    buf.toByteArray
  }
}
