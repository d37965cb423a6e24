package graft.sources.ndjson

import java.util
import java.util.zip.GZIPOutputStream

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.{SerializableHadoopConf, StagedPublish}

/** DataSourceV2 BATCH WRITE connector for gzip NDJSON — the engine-native
  * twin of the reference's S3 flusher (io/flush_s3.go:45-84: gzip NDJSON
  * objects under a prefix), upgraded with Spark's task-commit protocol.
  *
  * Where the reference appends to S3 with at-least-once semantics
  * (README.md "Limitations": duplicates possible after restart), this
  * connector stages every task's files and publishes them only in the
  * driver-side job commit (graft.StagedPublish) — a failed/speculative
  * task attempt leaves nothing visible, and an overwrite keeps the old
  * files until every new one is in place.
  *
  * Batch only: it is the backfill/one-shot writer
  * (`df.write.format("graft.sources.ndjson.NdjsonWriteSource")`, the
  * `sink_ndjson_v2` query). Streaming ingest lands through
  * `StreamPipeline.run` → graft.sinks.NdjsonSink, which keeps the exact
  * count-capped `<uid>_<batchId>` micro-batch layout.
  *
  * Contract: input schema is exactly ONE string column (serialize with
  * to_json upstream — same discipline as the text/kafka sinks), so the
  * connector never touches Spark-internal JSON machinery. Output:
  * `<path>/part-<partition>-<tag>-c<k>.log.gz` + `_SUCCESS` marker.
  *
  * Scale posture: one file per task streamed through GZIPOutputStream —
  * no row buffering; commit is O(files) driver-side renames (on object
  * stores a rename is a copy: production would use a manifest commit,
  * noted on graft.StagedPublish).
  */
class NdjsonWriteSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType().add("value", StringType)

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new NdjsonTable(properties.get("path"))
}

private[ndjson] class NdjsonTable(path: String) extends Table with SupportsWrite {
  require(path != null && path.nonEmpty, "option 'path' is required")
  override def name(): String = s"graft-ndjson($path)"
  override def schema(): StructType = new StructType().add("value", StringType)
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE).asJava

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val s = info.schema()
    require(s.fields.length == 1 && s.fields(0).dataType == StringType,
      s"graft-ndjson expects exactly one STRING column (got ${s.simpleString});" +
        " serialize with to_json(struct(*)) upstream")
    // Session Hadoop conf + write options layered on top (fs.* / s3a
    // overrides per write), mirroring newHadoopConfWithOptions in
    // Spark's file sources. Build time = driver, session available.
    val opts = info.options.asScala.toMap
    val hconf = org.apache.spark.sql.SparkSession.active
      .sessionState.newHadoopConf()
    // Reference S3 object-attribute parity (io/flush_s3.go:76-80 stamps
    // storage class STANDARD_IA and a private ACL on every upload):
    // friendly options map onto the S3A keys the uploader then applies
    // to each object. Raw fs.s3a.* options work too (next line); these
    // two just name the reference's knobs directly.
    opts.get("storageclass").foreach(v =>
      hconf.set("fs.s3a.create.storage.class", v))
    opts.get("acl").foreach(v => hconf.set("fs.s3a.acl.default", v))
    opts.foreach { case (k, v) => hconf.set(k, v) }
    new NdjsonWriteBuilder(path, info.queryId(), opts,
      new SerializableHadoopConf(hconf))
  }
}

private[ndjson] class NdjsonWriteBuilder(path: String, queryId: String,
    opts: Map[String, String], hconf: SerializableHadoopConf)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  // SaveMode.Overwrite arrives as truncate() on the builder.
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new NdjsonBatchWrite(path, queryId, doTruncate, opts, hconf)
  }
}

private[ndjson] case class NdjsonCommitMessage(tempPaths: Seq[String])
    extends WriterCommitMessage

private[ndjson] class NdjsonBatchWrite(path: String, queryId: String,
    truncate: Boolean, opts: Map[String, String],
    hconf: SerializableHadoopConf) extends BatchWrite {

  private val tag = queryId.replaceAll("[^0-9a-zA-Z]", "").take(8)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    // CaseInsensitiveStringMap hands options through with lowercased keys.
    new NdjsonWriterFactory(path, tag,
      opts.getOrElse("maxrecordsperfile", "0").toLong, hconf)

  private def root = new Path(path)

  /** Staging and final names carry the query tag, so two APPEND jobs into
    * one directory never clean up or overwrite each other's files. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.toSeq.flatMap { case NdjsonCommitMessage(tmps) => tmps.map(new Path(_)) }
      .map(src => src -> src.getName.replaceAll("-tid\\d+", s"-$tag"))
    StagedPublish(root.getFileSystem(hconf.value), root, tag, truncate)(_ => staged)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    StagedPublish.clean(root.getFileSystem(hconf.value), root, tag)
}

private[ndjson] class NdjsonWriterFactory(path: String, tag: String,
    maxRecordsPerFile: Long, hconf: SerializableHadoopConf)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new NdjsonDataWriter(path, tag, partitionId, taskId, maxRecordsPerFile,
      hconf)
}

/** One gzip stream per task; rows are never buffered. The staged name
  * carries the task id so concurrent speculative attempts of one
  * partition never collide — only the attempt whose commit message
  * reaches [[NdjsonBatchWrite.commit]] gets published.
  *
  * maxRecordsPerFile > 0 rolls to a new staged chunk every N rows —
  * the reference's `batch_size` count cap (io/batch.go:15-37) enforced
  * INSIDE the connector, so no published file ever exceeds the cap
  * regardless of partition sizes. */
private[ndjson] class NdjsonDataWriter(path: String, tag: String,
    partitionId: Int, taskId: Long, maxRecordsPerFile: Long,
    hconf: SerializableHadoopConf)
    extends DataWriter[InternalRow] {

  private def chunkPath(k: Int) = new Path(StagedPublish.staging(new Path(path), tag),
    f"part-$partitionId%05d-tid$taskId-c$k%03d.log.gz")
  private val fs = chunkPath(0).getFileSystem(hconf.value)
  private var chunk = 0
  private var temp = chunkPath(0)
  private var out = new GZIPOutputStream(fs.create(temp, true))
  private var rowsInChunk = 0L
  private val done = scala.collection.mutable.ListBuffer.empty[String]

  private def roll(): Unit = {
    out.close()
    if (rowsInChunk == 0) fs.delete(temp, false) else done += temp.toString
    chunk += 1
    temp = chunkPath(chunk)
    out = new GZIPOutputStream(fs.create(temp, true))
    rowsInChunk = 0L
  }

  override def write(record: InternalRow): Unit = {
    val line = record.getUTF8String(0)
    if (line != null) {
      if (maxRecordsPerFile > 0 && rowsInChunk >= maxRecordsPerFile) roll()
      out.write(line.getBytes)
      out.write('\n')
      rowsInChunk += 1
    }
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    if (rowsInChunk == 0) fs.delete(temp, false) else done += temp.toString
    NdjsonCommitMessage(done.toList)
  }

  override def abort(): Unit = {
    try out.close() catch { case _: Throwable => () }
    (0 to chunk).foreach(k =>
      try fs.delete(chunkPath(k), false) catch { case _: Throwable => () })
  }

  override def close(): Unit = ()
}
