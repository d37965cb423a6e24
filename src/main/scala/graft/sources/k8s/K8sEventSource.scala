package graft.sources.k8s

import graft.k8s.{EventSource => L9Source, KubeEvent, ObjectRef}
import java.sql.Timestamp
import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Kubernetes event-watch source as a DataSourceV2 `MicroBatchStream`
  * (SURVEY.md §2.1 S1/S2 live mode, §4.3 "only genuinely novel physical
  * component").
  *
  * Offsets are the Kubernetes **resourceVersion** (monotonic per watch):
  * micro-batch N covers resourceVersions (startRv, endRv]. Replays after
  * restart re-read from the last committed rv — the analog of the
  * reference's informer resync (config.go:8 `resync_interval`, README
  * "Resync allows to catch up"): at-least-once, with D1 dedup downstream
  * absorbing re-delivery, exactly like the reference's contract.
  *
  * The watch client is pluggable, two ship:
  *  - [[FileWatchClient]] (`option("path", file)`) — NDJSON watch-record
  *    replay, offline-testable, the fixture shape;
  *  - [[HttpWatchClient]] (`option("endpoint", "https://apiserver")`,
  *    plus the [[WatchOptions]] both k8s sources take) — the LIVE path
  *    against the Kubernetes LIST+WATCH API (the reference's informer
  *    role, main.go:88-90), through the [[K8sWatchStream]] the service
  *    source also uses. The client buffers on the driver; partitions
  *    carry their planned slice (the socket/rate-source pattern —
  *    correct for event volumes, which are control-plane-scale, not
  *    data-scale).
  *
  * Usage: spark.readStream.format("graft.sources.k8s.K8sEventSource")
  *          .option("path", watchFile).load()            // replay
  *        spark.readStream.format("graft.sources.k8s.K8sEventSource")
  *          .option("endpoint", apiServerUrl).load()     // live
  */
class K8sEventSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    K8sEventSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val o = WatchOptions.parse(properties)
    // Fail at source construction, not with an NPE from Paths.get deep
    // inside the first poll.
    val path = Option(properties.get("path")).filter(_.nonEmpty)
    require(path.nonEmpty || o.endpoint.nonEmpty,
      "K8sEventSource requires .option(\"path\", <watch file>) or " +
        ".option(\"endpoint\", <api-server url>)")
    if (o.endpoint.nonEmpty)
      o.liveTable("events", K8sEventSource.encoder, HttpWatchClient.events)
    else new K8sWatchTable(s"k8s_events(${path.get})", K8sEventSource.schema,
      () => new K8sMicroBatchStream(path.get))
  }
  override def supportsExternalMetadata(): Boolean = false
}

object K8sEventSource {
  private[k8s] val encoder: ExpressionEncoder[KubeEvent] = ExpressionEncoder[KubeEvent]()
  /** Output schema = the consumed v1.Event subset (FIXTURES.md §A.1),
    * i.e. the encoder schema of [[KubeEvent]]. */
  val schema: StructType = encoder.schema
}

private[k8s] class K8sMicroBatchStream(path: String) extends MicroBatchStream {
  override def initialOffset(): Offset = K8sOffset(0L)
  override def latestOffset(): Offset = K8sOffset(FileWatchClient.latestRv(path))
  override def deserializeOffset(json: String): Offset = K8sOffset(json.toLong)
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    Array(K8sInputPartition(path,
      start.asInstanceOf[K8sOffset].rv, end.asInstanceOf[K8sOffset].rv))
  override def createReaderFactory(): PartitionReaderFactory = K8sReaderFactory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** A file-replay slice: read (and decoded) where the partition runs. */
private[k8s] case class K8sInputPartition(path: String, fromRv: Long, toRv: Long)
    extends K8sPartition {
  override def rows: Iterator[InternalRow] = {
    val toRow = K8sEventSource.encoder.createSerializer()
    FileWatchClient.fetch(path, fromRv, toRv).iterator.map(toRow(_).copy())
  }
}

/** File-backed watch client: one JSON object per line with a `rv` field
  * plus the flat event fields. Append-only — appended lines with higher
  * rv become the next micro-batch; stale rvs (≤ committed) are skipped,
  * exactly as a resumed watch skips already-seen resourceVersions. */
object FileWatchClient {
  private val mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m.configure(com.fasterxml.jackson.databind.DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    m
  }

  /** Wire record (flat; ts = epoch MILLIS — seconds truncation destroyed
    * sub-second ordering between duplicates on the round trip; count is
    * nullable so an absent count survives as None instead of becoming
    * Some(0)). */
  case class WireEvent(rv: Long, uid: String, ts: Long, name: String,
      namespace: String, reason: String, message: String, eventType: String,
      count: java.lang.Integer, objApiVersion: String, objKind: String,
      objName: String, objNamespace: String, objRv: String, objUid: String,
      component: String, host: String)

  // Parse cache keyed by (size, mtime): the watch file is append-only
  // and latestOffset() polls every trigger — without the cache, each
  // poll (and each fetch) re-parses the WHOLE history, making cumulative
  // driver work quadratic in file length. Size is the discriminator for
  // same-millisecond appends.
  private val parsed =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Seq[WireEvent])]
  private val warnedMissing = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def readAll(path: String): Seq[WireEvent] = {
    val f = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(f)) {
      // Legitimate for a watch file that appears later, but say so ONCE —
      // a typo'd path otherwise streams nothing forever with no hint.
      if (warnedMissing.add(path))
        System.err.println(s"[graft] K8sEventSource: watch file not found (yet): $path")
      Seq.empty
    } else {
      val size = java.nio.file.Files.size(f)
      val mtime = java.nio.file.Files.getLastModifiedTime(f).toMillis
      val cached = parsed.get(path)
      if (cached != null && cached._1 == size && cached._2 == mtime) cached._3
      else {
        val text = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        val lines = text.linesIterator.filter(_.trim.nonEmpty).toSeq
        // A last line without its newline may be a writer's unfinished
        // append: hold it back until it parses (a later poll sees the
        // grown file). A complete last line without a trailing newline
        // still parses and is read.
        val torn = !text.endsWith("\n") && lines.nonEmpty &&
          scala.util.Try(mapper.readValue(lines.last, classOf[WireEvent])).isFailure
        val events = (if (torn) lines.init else lines)
          .map(l => mapper.readValue(l, classOf[WireEvent]))
        parsed.put(path, (size, mtime, events))
        events
      }
    }
  }

  def latestRv(path: String): Long =
    readAll(path).foldLeft(0L)((m, e) => math.max(m, e.rv))

  def fetch(path: String, fromRv: Long, toRv: Long): Seq[KubeEvent] =
    readAll(path)
      .filter(e => e.rv > fromRv && e.rv <= toRv)
      .sortBy(_.rv)
      .map(w => KubeEvent(w.uid, new Timestamp(w.ts), w.name,
        w.namespace, w.reason, w.message, w.eventType,
        Option(w.count).map(_.intValue),
        ObjectRef(w.objApiVersion, w.objKind, w.objName, w.objNamespace,
          w.objRv, w.objUid),
        L9Source(w.component, w.host)))

  /** Serialize an event as a watch line (fixture/test helper). The
    * toLine → fetch round trip is LOSSLESS for every consumed field. */
  def toLine(rv: Long, e: KubeEvent): String = {
    val w = WireEvent(rv, e.uid, e.creationTimestamp.getTime, e.name,
      e.namespace, e.reason, e.message, e.eventType,
      e.count.map(Int.box).orNull,
      e.involvedObject.apiVersion, e.involvedObject.kind, e.involvedObject.name,
      e.involvedObject.namespace, e.involvedObject.resourceVersion,
      e.involvedObject.uid, e.source.component, e.source.host)
    mapper.writeValueAsString(w)
  }
}
