package graft.sources.k8s

import graft.k8s.WatchedService
import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import scala.jdk.CollectionConverters._

/** The SERVICE half of the live watch (SURVEY.md §2.1 S2): the same
  * DataSourceV2 MicroBatchStream shape as [[K8sEventSource]], over
  * [[HttpWatchClient.services]] (LIST+WATCH on /api/v1/services,
  * v1.Service → WatchedService: the KubeService fields PLUS the watch
  * line's type, so F1 can emit `deletedService` downstream — the
  * reference's OnDelete path, handler.go:56-64). The natural downstream
  * is the D2 gate (`StreamPipeline.dedupServicesWatchedTagged`)
  * — exactly the reference's service-informer → version-gate path
  * (main.go:88-90 → handler.go:95-115). Consumers that don't care about
  * lifecycle can still `.as[KubeService]` (the schema is a superset).
  *
  * `option("resource", "deployments")` switches the watch to apps/v1
  * Deployments (the E5 dimension feed, reference k8sclient.go:62-74) —
  * same carrier schema, selector from spec.selector.matchLabels.
  *
  * Usage: spark.readStream.format("graft.sources.k8s.K8sServiceSource")
  *          .option("endpoint", apiServerUrl)
  *          [.option("token", t)] [.option("namespace", ns)]
  *          [.option("resource", "services|deployments")].load()
  */
class K8sServiceSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    K8sServiceSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val endpoint = properties.get("endpoint")
    require(endpoint != null && endpoint.nonEmpty,
      "K8sServiceSource requires .option(\"endpoint\", <api-server url>)")
    val resource = Option(properties.get("resource")).filter(_.nonEmpty)
      .getOrElse("services")
    require(resource == "services" || resource == "deployments",
      s"K8sServiceSource resource must be services|deployments, got $resource")
    new K8sServiceTable(endpoint,
      Option(properties.get("token")).filter(_.nonEmpty),
      Option(properties.get("namespace")).filter(_.nonEmpty),
      resource,
      Option(properties.get("relistIntervalMs")).filter(_.nonEmpty)
        .map(_.toLong).getOrElse(Long.MaxValue),
      Option(properties.get("maxEventsPerTrigger")).filter(_.nonEmpty)
        .map(_.toInt))
  }
  override def supportsExternalMetadata(): Boolean = false
}

object K8sServiceSource {
  val schema: StructType = Encoders.product[WatchedService].schema
}

private[k8s] class K8sServiceTable(endpoint: String,
    token: Option[String], namespace: Option[String], resource: String,
    relistIntervalMs: Long = Long.MaxValue,
    maxEventsPerTrigger: Option[Int] = None)
    extends Table with SupportsRead {
  override def name(): String = s"k8s_$resource($endpoint)"
  override def schema(): StructType = K8sServiceSource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = K8sServiceSource.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new K8sServiceMicroBatchStream(endpoint, token, namespace, resource,
            relistIntervalMs, maxEventsPerTrigger)
      }
    }
}

private[k8s] class K8sServiceMicroBatchStream(endpoint: String,
    token: Option[String], namespace: Option[String], resource: String,
    relistIntervalMs: Long = Long.MaxValue,
    maxEventsPerTrigger: Option[Int] = None)
    extends MicroBatchStream with SupportsAdmissionControl {
  private val client =
    if (resource == "deployments")
      HttpWatchClient.deployments(endpoint, token, namespace,
        relistIntervalMs = relistIntervalMs)
    else HttpWatchClient.services(endpoint, token, namespace,
      relistIntervalMs = relistIntervalMs)
  override def initialOffset(): Offset = K8sOffset(0L)
  // Admission control, same contract as K8sHttpMicroBatchStream: a
  // catch-up batch after downtime (a resync replays the whole service
  // LIST) must not swallow the backlog in one plan — the fMGWS version
  // gate's state shuffle scales with batch size.
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
    Array(K8sServiceBufferPartition(client.fetch(
      start.asInstanceOf[K8sOffset].rv, end.asInstanceOf[K8sOffset].rv)))
  override def createReaderFactory(): PartitionReaderFactory =
    K8sServiceBufferReaderFactory
  override def commit(end: Offset): Unit =
    client.trimCommitted(end.asInstanceOf[K8sOffset].rv)
  override def stop(): Unit = client.close()
}

private[k8s] case class K8sServiceBufferPartition(services: Seq[WatchedService])
  extends InputPartition

private[k8s] object K8sServiceBufferReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[K8sServiceBufferPartition]
    new PartitionReader[InternalRow] {
      private val serializer =
        ExpressionEncoder[WatchedService]().createSerializer()
      private val it = p.services.iterator
      private var current: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { current = serializer(it.next()).copy(); true } else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
