package graft.sources.k8s

import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import scala.jdk.CollectionConverters._

/** The options both k8s providers read, parsed once. `endpoint` selects
  * the live watch; the rest tune its [[HttpWatchClient]] and the
  * stream's admission control. [[K8sEventSource]] adds `path` (file
  * replay), [[K8sServiceSource]] adds `resource`. */
private[k8s] final case class WatchOptions(endpoint: Option[String],
    token: Option[String], namespace: Option[String],
    relistIntervalMs: Long, resyncBackoffMs: Long,
    maxEventsPerTrigger: Option[Int]) {

  /** The live table over the client `watch` opens on `endpoint` when a
    * query starts. */
  def liveTable[T](kind: String, encoder: ExpressionEncoder[T],
      watch: (String, Option[String], Option[String], Long, Long) => HttpWatchClient[T])
      : Table = {
    val ep = endpoint.get
    new K8sWatchTable(s"k8s_$kind($ep)", encoder.schema, () =>
      new K8sWatchStream(
        watch(ep, token, namespace, resyncBackoffMs, relistIntervalMs),
        encoder, maxEventsPerTrigger))
  }
}

private[k8s] object WatchOptions {
  def parse(properties: util.Map[String, String]): WatchOptions = {
    def opt(key: String) = Option(properties.get(key)).filter(_.nonEmpty)
    WatchOptions(opt("endpoint"), opt("token"), opt("namespace"),
      // periodic full re-LIST (the reference's resync_interval); unset = off
      opt("relistIntervalMs").map(_.toLong).getOrElse(Long.MaxValue),
      // watch reconnect pacing: 1 s default matches the reference
      // informer's steady backoff; soak/high-churn deployments tune it
      opt("resyncBackoffMs").map(_.toLong).getOrElse(1000L),
      // admission control: cap how many buffered records one micro-batch
      // may admit (Kafka's maxOffsetsPerTrigger analog). Unset = drain
      // all available — correct for steady state, but a catch-up batch
      // after downtime (or a resync that replays a whole LIST) then
      // swallows the backlog in one plan.
      opt("maxEventsPerTrigger").map(_.toInt))
  }
}

/** One k8s streaming table: a name, a schema, and the micro-batch
  * stream its scan opens. */
private[k8s] class K8sWatchTable(tableName: String, tableSchema: StructType,
    newStream: () => MicroBatchStream) extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = tableSchema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        newStream()
    }
}

/** Offset = highest resourceVersion included so far. */
case class K8sOffset(rv: Long) extends Offset {
  override def json: String = rv.toString
}

/** Live micro-batch stream over one [[HttpWatchClient]], for every
  * watched resource (events, services, deployments). The client (and
  * its watch thread + buffer) lives on the DRIVER where latestOffset
  * runs; each planned partition carries its slice as rows to the
  * executor (the socket/memory-source pattern — a watch feed is
  * control-plane volume, and the slice is one micro-batch, not
  * history). Offset commit trims the buffer, so memory holds only the
  * uncommitted replay window. */
private[k8s] class K8sWatchStream[T](client: HttpWatchClient[T],
    encoder: ExpressionEncoder[T], maxEventsPerTrigger: Option[Int])
    extends MicroBatchStream with SupportsAdmissionControl {
  private val toRow = encoder.createSerializer()
  override def initialOffset(): Offset = K8sOffset(0L)
  // With SupportsAdmissionControl mixed in, the engine resolves offsets
  // through the 2-arg overload below (same contract as the Kafka source).
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this")
  override def getDefaultReadLimit: ReadLimit =
    maxEventsPerTrigger.map(n => ReadLimit.maxRows(n.toLong))
      .getOrElse(ReadLimit.allAvailable())
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[K8sOffset].rv
    limit match {
      case mr: ReadMaxRows => K8sOffset(client.rvAfter(from, mr.maxRows().toInt))
      case _ => K8sOffset(client.latestRv())
    }
  }
  override def deserializeOffset(json: String): Offset = K8sOffset(json.toLong)
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    Array(K8sBufferPartition(client.fetch(
      start.asInstanceOf[K8sOffset].rv, end.asInstanceOf[K8sOffset].rv)
      .map(toRow(_).copy()).toArray))
  override def createReaderFactory(): PartitionReaderFactory = K8sReaderFactory
  override def commit(end: Offset): Unit =
    client.trimCommitted(end.asInstanceOf[K8sOffset].rv)
  override def stop(): Unit = client.close()
}

/** A k8s input partition: the rows it reads, in rv order. */
private[k8s] trait K8sPartition extends InputPartition {
  def rows: Iterator[InternalRow]
}

/** A slice of the watch buffer, serialized on the driver at planning. */
private[k8s] case class K8sBufferPartition(slice: Array[InternalRow])
    extends K8sPartition {
  override def rows: Iterator[InternalRow] = slice.iterator
}

/** The one reader of every k8s partition, file replay included. */
private[k8s] object K8sReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val it = partition.asInstanceOf[K8sPartition].rows
      private var current: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { current = it.next(); true } else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
}
