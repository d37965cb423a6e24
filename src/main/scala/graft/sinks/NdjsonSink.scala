package graft.sinks

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Batch-windowed NDJSON sink — the W1/W2/K1/K2 tail of the reference
  * pipeline (SURVEY.md §2.1).
  *
  * Semantics reproduced:
  *  - W2: one JSON object per line (Spark's json sink is NDJSON natively;
  *    we serialize explicitly with to_json to control the payload).
  *  - W1 count cap: a micro-batch with n records is split into
  *    ceil(n / batchSize) files, so no file exceeds batchSize records
  *    (the count half of the count-or-time window; the time half is the
  *    streaming trigger interval). Round-robin repartition bounds every
  *    partition at ceil(n/files) ≤ batchSize.
  *  - K1/K2 naming: <dir>/<uid>_<batchId>/part-*.log[.gz]; gzip via the
  *    standard codec (streams straight into the file, no intermediates).
  *  - Batch id comes from foreachBatch (monotonic), not wall-clock nanos —
  *    a deliberate divergence from io/batch.go:8-10 (restart-safe).
  *
  * At scale: writers are one task per file, no driver materialization;
  * the only coordination is the count() to size the file set.
  */
object NdjsonSink {

  /** Write one micro-batch (or one batch DataFrame) as count-capped
    * NDJSON files. Returns the number of files written.
    *
    * Chunk routing is EXACT: rows get a global index (zipWithIndex — one
    * extra lightweight job) and chunk k = index / batchSize maps to
    * partition k via an identity partitioner. A plain round-robin
    * `repartition(files)` does NOT guarantee the cap — each source
    * partition round-robins from a random offset, so target partitions
    * can exceed batchSize (caught by the batch-partitioning property
    * test). */
  def write(batch: DataFrame, dir: String, uid: String, batchId: Long,
      batchSize: Int, gzip: Boolean = false): Int = {
    val spark = batch.sparkSession
    val lines = batch.select(to_json(struct(batch.columns.map(col): _*)).as("value"))
    // Persist BEFORE counting: the count and the routing pass below must
    // see the same rows. Without the pin, a non-deterministic input (a
    // sample, an unordered limit, a changed source) could produce more
    // rows on re-execution than n, yielding chunk keys ≥ files and a
    // failed job — and every batch would pay the lineage twice.
    val strs = lines.toDF().rdd.map(_.getString(0))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = strs.count()
      if (n == 0) return 0
      val files = math.max(1, math.ceil(n.toDouble / batchSize).toInt)
      val routed = strs
        .zipWithIndex()
        .map { case (s, i) => ((i / batchSize).toInt, s) }
        .partitionBy(new org.apache.spark.Partitioner {
          override def numPartitions: Int = files
          override def getPartition(key: Any): Int = key.asInstanceOf[Int]
        })
        .values
      import spark.implicits._
      val writer = spark.createDataset(routed).toDF("value")
        .write.mode("overwrite")
      val target = s"$dir/${uid}_$batchId"
      (if (gzip) writer.option("compression", "gzip") else writer).text(target)
      // The text sink emits part-*.txt[.gz]; the documented K1/K2
      // contract (reference io/flush_s3.go:45-84 `.log.gz` objects) is
      // .log[.gz] — rename through the Hadoop FS API so the same code
      // holds for file:// and s3a:// paths. A failed rename fails the
      // batch: a part file left as .txt is outside the sink's contract.
      val hPath = new org.apache.hadoop.fs.Path(target)
      val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(hPath).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("part-") && n.contains(".txt")) {
          val dst = new org.apache.hadoop.fs.Path(hPath, n.replace(".txt", ".log"))
          if (!fs.rename(st.getPath, dst))
            throw new java.io.IOException(s"NdjsonSink: rename of ${st.getPath} to $dst failed")
        }
      }
      files
    } finally strs.unpersist(blocking = false)
  }
}
