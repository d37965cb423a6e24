package graft.k8s

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The k8stream dataflow, re-expressed as Spark relational operators
  * (SURVEY.md §2.1 F1-F4, D1-D2, E1-E5, P1-P4). Batch forms here; the
  * streaming assembly reuses these column expressions via
  * [[graft.streaming.StreamPipeline]].
  *
  * Scale posture: dimension joins broadcast (objects/nodes are small
  * relative to the event stream); the selector join (E3) is an
  * explode-equi-join, never a theta join; every step is a narrow
  * projection or a keyed shuffle.
  */
object EventPipeline {

  /** Namespaces dropped unconditionally (reference handler.go:22-24, 80). */
  val SkipNamespaces: Seq[String] = Seq("kube-system", "kubernetes", "kubernetes-dashboard")

  // ------------------------------------------------------------- filters

  /** F2+F3+F4: static blacklist, optional namespace whitelist, optional
    * reason whitelist (reference handler.go:126-135 isEligible). */
  def eligible(events: DataFrame, conf: GraftConfig): DataFrame = {
    val afterSkip = events.filter(!col("namespace").isin(SkipNamespaces: _*))
    val afterNs =
      if (conf.namespaces.isEmpty) afterSkip
      else afterSkip.filter(col("namespace").isin(conf.namespaces: _*))
    if (conf.events.isEmpty) afterNs
    else afterNs.filter(col("reason").isin(conf.events: _*))
  }

  // --------------------------------------------------------------- dedup

  /** D1 batch form: exactly-one record per event UID. The reference keeps
    * the first arrival (handler.go:142-151); in batch there is no arrival
    * order, so "first" is defined as the minimum creation timestamp.
    * (creationTimestamp, message) is NOT a total order — duplicates can
    * tie on both while differing elsewhere (count bumped, rv advanced on
    * a re-delivery) — so the remaining KubeEvent fields complete the
    * sort key EXPLICITLY: involvedObject.resourceVersion (numeric — the
    * field that actually advances on re-delivery) then count, then every
    * other scalar. Same total order the old whole-row to_json tiebreak
    * produced, without serializing the widest relation in the pipeline
    * once per row inside the dedup window. Deterministic and idempotent
    * under ANY partitioning (PropertiesSpec partition-invariance law).
    * Expects the KubeEvent schema — this is the pipeline's D1 point, not
    * a generic operator. */
  def dedupEvents(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("uid"))
      .orderBy(col("creationTimestamp"), col("message"),
        col("involvedObject.resourceVersion").cast("long"),
        col("count"), col("eventType"), col("reason"), col("name"),
        col("namespace"), col("involvedObject.uid"),
        col("involvedObject.apiVersion"), col("involvedObject.kind"),
        col("involvedObject.name"), col("involvedObject.namespace"),
        col("source.component"), col("source.host"))
    events.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** D2 batch form: keep only the newest resourceVersion per service UID.
    * The reference compares versions lexically (handler.go:111) — a
    * documented bug-in-waiting ("9" > "10"); the engine compares
    * numerically (SURVEY.md §7 divergence note). */
  def dedupServicesLatest(services: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("uid"))
      .orderBy(col("resource_version").cast("long").desc)
    services.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  // --------------------------------------------------------- enrichment

  /** E1 dimension: `objects` projected to `(uid, labels, annotations,
    * pod)`, where `pod` is the P2/P3 mini pod map built once per object
    * (reference event.go:80-111). A Pod's JSON doc decodes once into a
    * struct column, which the map then reads (P3); the map keeps the six
    * mini-pod fields (P2). A non-Pod, or a Pod whose doc does not decode,
    * gets an empty map. A malformed doc decodes to a struct of nulls, not
    * to null, so the decode marks it in a corrupt-record field. */
  def objectDim(objects: DataFrame): DataFrame =
    objects
      .select(col("uid"), col("labels"), col("annotations"), col("kind"),
        from_json(col("pod_json"), podSchema,
          Map("columnNameOfCorruptRecord" -> "__corrupt")).as("__pod"))
      .select(col("uid"), col("labels"), col("annotations"),
        when(col("kind") === "Pod" && col("__pod").isNotNull &&
          col("__pod.__corrupt").isNull, map(lit("info"), miniPodJson("__pod")))
          .otherwise(map()).as("pod"))

  /** E2 dimension: `nodes` projected to `(name, addresses)`. */
  def nodeDim(nodes: DataFrame): DataFrame =
    nodes.select(col("name"), col("addresses"))

  /** E1+E2: dimension lookup joins — event → involved object (labels /
    * annotations / pod map) and host → node addresses. Left joins: a miss
    * enriches with nulls, it never drops the record (reference
    * k8sclient.go:124-159, 95-122; empty host short-circuits to []). */
  def enrich(events: DataFrame, objects: DataFrame, nodes: DataFrame): DataFrame =
    enrichDims(events, objectDim(objects), nodeDim(nodes))

  /** [[enrich]] over dimensions already projected by [[objectDim]] and
    * [[nodeDim]], so a caller can build (and cache) them once. */
  def enrichDims(events: DataFrame, objDim: DataFrame, nodeDim: DataFrame): DataFrame = {
    val obj = objDim.select(
      col("uid").as("__obj_uid"), col("labels").as("__obj_labels"),
      col("annotations").as("__obj_annotations"), col("pod").as("__obj_pod"))
    val nd = nodeDim.select(col("name").as("__node_name"),
      col("addresses").as("__node_addresses"))
    events
      .join(broadcast(obj), col("involvedObject.uid") === col("__obj_uid"), "left_outer")
      .join(broadcast(nd), col("source.host") === col("__node_name"), "left_outer")
  }

  // --------------------------------------------------------- projection

  /** Mini pod-info JSON (reference event.go:89-98 miniPodInfo): the six
    * kept fields, serialized as one JSON string. */
  private def miniPodJson(prefix: String): Column =
    to_json(struct(
      col(s"$prefix.uid").as("uid"),
      col(s"$prefix.name").as("name"),
      col(s"$prefix.namespace").as("namespace"),
      date_format(col(s"$prefix.start_time"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("start_time"),
      col(s"$prefix.ip").as("ip"),
      col(s"$prefix.host_ip").as("host_ip")))

  private val podSchema = "uid STRING, name STRING, namespace STRING, " +
    "start_time TIMESTAMP, ip STRING, host_ip STRING, __corrupt STRING"

  /** P1: project an enriched event to the flat L9Event record (reference
    * event.go:49-77). The `pod` column is the object's mini pod map from
    * [[objectDim]], empty on a miss. */
  def projectL9(enriched: DataFrame): Dataset[L9Event] = {
    val spark = enriched.sparkSession
    import spark.implicits._
    enriched
      .select(
        col("uid").as("id"),
        unix_timestamp(col("creationTimestamp")).as("timestamp"),
        coalesce(col("source.component"), lit("")).as("component"),
        coalesce(col("source.host"), lit("")).as("host"),
        coalesce(col("message"), lit("")).as("message"),
        coalesce(col("namespace"), lit("")).as("namespace"),
        coalesce(col("reason"), lit("")).as("reason"),
        coalesce(col("involvedObject.uid"), lit("")).as("reference_uid"),
        coalesce(col("involvedObject.name"), lit("")).as("reference_name"),
        coalesce(col("involvedObject.apiVersion"), lit("")).as("reference_version"),
        coalesce(col("involvedObject.namespace"), lit("")).as("reference_namespace"),
        coalesce(col("involvedObject.kind"), lit("")).as("reference_kind"),
        coalesce(col("involvedObject.uid"), lit("")).as("object_uid"),
        coalesce(col("__obj_labels"), map()).as("labels"),
        coalesce(col("__obj_annotations"), map()).as("annotations"),
        coalesce(col("__node_addresses"), array()).cast("array<string>").as("address"),
        coalesce(col("__obj_pod"), map()).as("pod"),
        lit(L9Event.Version).as("version"))
      .as[L9Event]
  }

  /** Full event-side pipeline: filter → dedup → enrich → project
    * (reference §3.1 entry point A). */
  def events(raw: DataFrame, objects: DataFrame, nodes: DataFrame,
      conf: GraftConfig): Dataset[L9Event] =
    projectL9(enrich(dedupEvents(eligible(raw, conf)), objects, nodes))

  // ------------------------------------------- service side (§3.2, P4/E3)

  /** E3: selector join — pods whose labels contain every (k,v) of the
    * service's selector, scoped to the service's own namespace (reference
    * k8sclient.go:76-81 lists Pods(namespace) with the selector — a
    * same-labeled pod in another namespace must NOT match). Composed from
    * built-ins as an explode + equi-join + group-count (SURVEY.md §2.1
    * E3): scalable (shuffles on (namespace, label) entries, no theta
    * join), and empty selectors match nothing, matching the reference's
    * labels.Set(...).AsSelector() semantics.
    *
    * Matches are counted per service ROW, `(uid, resource_version)`: one
    * micro-batch may carry several versions of one service, each with its
    * own selector, and counting per uid would pool their selector entries
    * (a one-label selector then matches nothing, a two-label one also
    * matches pods carrying only one of its labels). Output columns:
    * `service_uid, pod_uid, resource_version`. */
  def servicePods(services: DataFrame, pods: DataFrame): DataFrame = {
    val sel = services
      .select(col("uid").as("service_uid"), col("resource_version"),
        col("namespace").as("__ns"), col("selector"))
      .withColumn("__n_sel", size(col("selector")))
      .filter(col("__n_sel") > 0)
      .select(col("service_uid"), col("resource_version"), col("__ns"), col("__n_sel"),
        explode(col("selector")).as(Seq("__k", "__v")))
    val podLab = pods
      .select(col("uid").as("pod_uid"), col("namespace").as("__ns"),
        explode(col("labels")).as(Seq("__k", "__v")))
    sel.join(podLab, Seq("__ns", "__k", "__v"))
      .groupBy(col("service_uid"), col("resource_version"), col("pod_uid"), col("__n_sel"))
      .agg(count(lit(1)).as("__matched"))
      .filter(col("__matched") === col("__n_sel"))
      .select(col("service_uid"), col("pod_uid"), col("resource_version"))
  }

  /** E4: the two reverse-index projections of the E3 product (reference
    * event_service.go:10-37) — plain join products in Spark, no state. */
  def serviceToPods(servicePods: DataFrame): DataFrame =
    servicePods.groupBy(col("service_uid"))
      .agg(sort_array(collect_list(col("pod_uid"))).as("pod_uids"))

  def podToService(servicePods: DataFrame): DataFrame =
    servicePods.select(col("pod_uid"), col("service_uid"))

  /** P4: synthesize the service-change L9Event (reference
    * event_service.go:72-112). `reason` carries the lifecycle tag (F1:
    * addedService / updatedService / deletedService, handler.go:26-69);
    * `pod` holds podName → mini-pod-json for every matched pod. */
  def serviceEvents(services: DataFrame, pods: DataFrame,
      eventType: String): Dataset[L9Event] =
    serviceEvents(services, pods, lit(eventType))

  /** P4 with the reason read per row — the streaming gate's `tag` column,
    * so one call (one selector join) covers every lifecycle tag of a
    * micro-batch. The pod map joins back on the service row's
    * `(uid, resource_version)`, the key [[servicePods]] matched on. */
  def serviceEvents(services: DataFrame, pods: DataFrame,
      reason: Column): Dataset[L9Event] = {
    val spark = services.sparkSession
    import spark.implicits._
    val matches = servicePods(services, pods)
    val podRows = pods.select(col("uid").as("pod_uid"), col("name").as("__pod_name"),
      struct(col("uid"), col("name"), col("namespace"), col("start_time"),
        col("ip"), col("host_ip")).as("__pod"))
    val podMap = matches
      .join(podRows, Seq("pod_uid"))
      .withColumn("__entry", struct(col("__pod_name"), miniPodJson("__pod")))
      .groupBy(col("service_uid").as("uid"), col("resource_version"))
      .agg(map_from_entries(array_sort(collect_list(col("__entry")))).as("__pods"))
    services
      .filter(!col("namespace").isin(SkipNamespaces: _*) && col("name") =!= "kubernetes")
      .join(podMap, Seq("uid", "resource_version"), "left_outer")
      .select(
        concat(col("uid"), lit("-"), col("resource_version")).as("id"),
        unix_timestamp(current_timestamp()).as("timestamp"),
        col("name").as("component"),
        lit("").as("host"),
        lit("").as("message"),
        col("namespace").as("namespace"),
        reason.as("reason"),
        col("uid").as("reference_uid"),
        col("name").as("reference_name"),
        col("resource_version").as("reference_version"),
        col("namespace").as("reference_namespace"),
        lit("Service").as("reference_kind"),
        col("uid").as("object_uid"),
        coalesce(col("labels"), map()).as("labels"),
        coalesce(col("annotations"), map()).as("annotations"),
        array().cast("array<string>").as("address"),
        coalesce(col("__pods"), map()).as("pod"),
        lit(L9Event.Version).as("version"))
      .as[L9Event]
  }
}
