package graft.sources.k8s

import graft.k8s.WatchedService
import java.util
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The SERVICE half of the live watch (SURVEY.md §2.1 S2): the same
  * [[K8sWatchStream]] and [[WatchOptions]] as [[K8sEventSource]]'s live
  * path, over [[HttpWatchClient.services]] (LIST+WATCH on
  * /api/v1/services, v1.Service → WatchedService: the KubeService fields
  * PLUS the watch line's type, so F1 can emit `deletedService`
  * downstream — the reference's OnDelete path, handler.go:56-64). The
  * natural downstream is the D2 gate
  * (`StreamPipeline.dedupServicesWatchedTagged`) — exactly the
  * reference's service-informer → version-gate path (main.go:88-90 →
  * handler.go:95-115). Consumers that don't care about lifecycle can
  * still `.as[KubeService]` (the schema is a superset).
  *
  * The only option of its own is `resource`: `"deployments"` switches
  * the watch to apps/v1 Deployments (the E5 dimension feed, reference
  * k8sclient.go:62-74) — same carrier schema, selector from
  * spec.selector.matchLabels.
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
    val o = WatchOptions.parse(properties)
    require(o.endpoint.nonEmpty,
      "K8sServiceSource requires .option(\"endpoint\", <api-server url>)")
    val resource = Option(properties.get("resource")).filter(_.nonEmpty)
      .getOrElse("services")
    require(resource == "services" || resource == "deployments",
      s"K8sServiceSource resource must be services|deployments, got $resource")
    o.liveTable(resource, K8sServiceSource.encoder,
      if (resource == "deployments") HttpWatchClient.deployments
      else HttpWatchClient.services)
  }
  override def supportsExternalMetadata(): Boolean = false
}

object K8sServiceSource {
  private[k8s] val encoder: ExpressionEncoder[WatchedService] =
    ExpressionEncoder[WatchedService]()
  val schema: StructType = encoder.schema
}
