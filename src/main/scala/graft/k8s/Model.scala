package graft.k8s

import java.sql.Timestamp

/** Data model of the k8stream semantic layer (SURVEY.md §1).
  *
  * [[L9Event]] is the engine's one fixed output record — 18 fields, names
  * fixed by the reference's json tags (reference event.go:12-31). The
  * heterogeneous `pod` column (§1.2: typed mini-map for pod events,
  * podName→json for service events) is modeled as Map[String,String] with
  * JSON-string values — lossless for both shapes, `from_json` at query
  * time (reference event.go:89-98, event_service.go:88-96).
  */
final case class L9Event(
    id: String,
    timestamp: Long,
    component: String,
    host: String,
    message: String,
    namespace: String,
    reason: String,
    reference_uid: String,
    reference_name: String,
    reference_version: String,
    reference_namespace: String,
    reference_kind: String,
    object_uid: String,
    labels: Map[String, String],
    annotations: Map[String, String],
    address: Seq[String],
    pod: Map[String, String],
    version: String)

object L9Event {
  /** Engine version stamped on every record (reference main.go:18). */
  val Version = "0.1.0"
}

/** Consumed subset of a Kubernetes core/v1 Event (reference event.go:49-63
  * plus the wire fields the reference ignores but analytics wants —
  * FIXTURES.md §A.1). */
final case class ObjectRef(
    apiVersion: String,
    kind: String,
    name: String,
    namespace: String,
    resourceVersion: String,
    uid: String)

final case class EventSource(component: String, host: String)

final case class KubeEvent(
    uid: String,
    creationTimestamp: Timestamp,
    name: String,
    namespace: String,
    reason: String,
    message: String,
    eventType: String,
    count: Option[Int],
    involvedObject: ObjectRef,
    source: EventSource)

/** Dimension rows for the enrichment joins (FIXTURES.md §A.2). */
final case class KubeObject(
    uid: String,
    kind: String,
    namespace: String,
    name: String,
    labels: Map[String, String],
    annotations: Map[String, String],
    pod_json: String)

final case class KubeNode(name: String, addresses: Seq[String])

final case class KubeService(
    uid: String,
    resource_version: String,
    name: String,
    namespace: String,
    labels: Map[String, String],
    annotations: Map[String, String],
    selector: Map[String, String])

/** A service as delivered by the watch protocol: the [[KubeService]]
  * fields plus the watch line's type (`ADDED` / `MODIFIED` / `DELETED`).
  * The flat shape (rather than nesting the service) keeps the live
  * source's schema a superset of [[KubeService]]'s, so existing
  * consumers can still `.as[KubeService]` and ignore the tag. The tag is
  * what lets F1 emit `deletedService` on the live path — the reference's
  * OnDelete callback routes a deleted v1.Service into the same pipeline
  * with that lifecycle string (handler.go:56-64). */
final case class WatchedService(
    uid: String,
    resource_version: String,
    name: String,
    namespace: String,
    labels: Map[String, String],
    annotations: Map[String, String],
    selector: Map[String, String],
    watch_type: String) {
  def service: KubeService = KubeService(uid, resource_version, name,
    namespace, labels, annotations, selector)
}

object WatchedService {
  def of(s: KubeService, watchType: String): WatchedService =
    WatchedService(s.uid, s.resource_version, s.name, s.namespace,
      s.labels, s.annotations, s.selector, watchType)
}

final case class KubePod(
    uid: String,
    name: String,
    namespace: String,
    labels: Map[String, String],
    start_time: Timestamp,
    ip: String,
    host_ip: String)

/** Engine config twin of the reference's L9K8streamConfig
  * (reference config.go:11-17, io/config.go:22-32). */
final case class GraftConfig(
    uid: String,
    sink: String = "file",             // s3 | file | memory (reference
                                       // requires it; file matches the
                                       // fileSinkDir default below)
    batchSize: Int = 10000,            // reference deploy default
    batchIntervalSec: Int = 30,
    namespaces: Seq[String] = Nil,     // whitelist; empty = all
    events: Seq[String] = Nil,         // reason whitelist; empty = all
    fileSinkDir: String = "/tmp/graft-sink",
    gzip: Boolean = false,
    dedupTtlSec: Int = 3600,           // reference objectCacheExpiry
    debug: Boolean = false,
    kubeconfig: String = "",           // "" = in-cluster service account
    resyncIntervalSec: Int = 120,      // reference DEFAULT_RESYNC_INTERVAL
    heartbeatHook: String = "",        // "" = heartbeat disabled
    heartbeatIntervalSec: Int = 30,    // reference defaultHeartbeatInterval
    heartbeatTimeoutMs: Int = 300,     // reference defaultHeartbeatTimeout
    s3Prefix: String = "",             // s3 sink keys (io/flush_s3.go:19-24)
    s3Region: String = "",
    s3Bucket: String = "",
    s3Profile: String = "")

/** Config validation failure carrying EVERY violation at once (the
  * reference's validator.v9 reports field-by-field; one error per run
  * forces a fix-rerun loop, so we collect instead). */
final class GraftConfigException(val errors: Seq[String])
  extends IllegalArgumentException(
    s"invalid config: ${errors.mkString("; ")}")

/** JSON config loader — the `--config file.json` entry path of the
  * reference (main.go:33-51, io/config.go:53-68). Accepts the
  * reference's exact file shape: engine keys nested under "config"
  * (snake_case, io/config.go:22-32), k8s keys at the top level
  * (config.go:11-17), and sink-specific keys ALSO at the top level —
  * the reference re-parses the whole raw file per sink
  * (io/flush.go:26, conf.Raw = cData at main.go:51), so FileSink's
  * `file_sink_dir` and S3Sink's `prefix`/`aws_*` live beside
  * "config", not inside it.
  *
  * Divergence from the reference, deliberate: an unknown sink there
  * nil-panics (io/flush.go:13-26 leaves `f` nil); here it is a
  * collected validation error. Validation mirrors the `validate:`
  * tags: uid + sink required (io/config.go:24,28), file_sink_dir
  * required for the file sink (io/flush_file.go:14), the four aws
  * keys for the s3 sink (io/flush_s3.go:19-24). */
object GraftConfig {
  import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

  val Sinks: Set[String] = Set("s3", "file", "memory")

  def load(path: String): GraftConfig =
    parse(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8))

  def parse(json: String): GraftConfig = {
    val root =
      try new ObjectMapper().readTree(json)
      catch { case e: Exception =>
        throw new GraftConfigException(Seq(s"malformed JSON: ${e.getMessage}")) }
    if (root == null || !root.isObject)
      throw new GraftConfigException(Seq("config root must be a JSON object"))
    val c = root.path("config") // engine block; missing() => all defaults
    def str(n: JsonNode, k: String, dflt: String): String =
      { val v = n.path(k); if (v.isMissingNode || v.isNull) dflt else v.asText(dflt) }
    def int(n: JsonNode, k: String, dflt: Int): Int =
      { val v = n.path(k); if (v.isMissingNode || v.isNull) dflt else v.asInt(dflt) }
    def bool(n: JsonNode, k: String, dflt: Boolean): Boolean =
      { val v = n.path(k); if (v.isMissingNode || v.isNull) dflt else v.asBoolean(dflt) }
    def strs(n: JsonNode, k: String): Seq[String] = {
      val v = n.path(k)
      if (!v.isArray) Nil
      else (0 until v.size).map(i => v.get(i).asText())
    }
    val sink = str(c, "sink", "")
    val conf = GraftConfig(
      uid = str(c, "uid", ""),
      sink = sink,
      batchSize = int(c, "batch_size", 10000),
      batchIntervalSec = int(c, "batch_interval", 30),
      namespaces = strs(root, "namespaces"),
      events = strs(root, "events"),
      // an s3 config lands at s3a://<aws_bucket>/<prefix> (MIGRATION.md)
      fileSinkDir = str(root, "file_sink_dir",
        if (sink == "s3") s"s3a://${str(root, "aws_bucket", "")}/${str(root, "prefix", "")}"
        else ""),
      // the reference's S3 flusher always gzips (io/flush_s3.go:57-60);
      // its file flusher never does (io/flush_file.go:38-40)
      gzip = bool(root, "gzip", sink == "s3"),
      dedupTtlSec = int(root, "object_cache_expiry", 3600),
      debug = bool(c, "debug", dflt = false),
      kubeconfig = str(root, "kubeconfig", ""),
      resyncIntervalSec = {
        // setDefaults (config.go:20-24): 0 means unset, take the default
        val v = int(root, "resync_interval", 120)
        if (v == 0) 120 else v
      },
      heartbeatHook = str(c, "heartbeat_hook", ""),
      heartbeatIntervalSec = {
        val v = int(c, "heartbeat_interval", 30)
        if (v == 0) 30 else v // io/heartbeat.go:26-28
      },
      heartbeatTimeoutMs = {
        val v = int(c, "heartbeat_timeout_ms", 300)
        if (v == 0) 300 else v // io/heartbeat.go:29-31
      },
      s3Prefix = str(root, "prefix", ""),
      s3Region = str(root, "aws_region", ""),
      s3Bucket = str(root, "aws_bucket", ""),
      s3Profile = str(root, "aws_profile", ""))
    val errors = validate(conf)
    if (errors.nonEmpty) throw new GraftConfigException(errors)
    conf
  }

  /** All violations, empty = valid. Public so programmatically-built
    * configs can run the same gate the JSON path does. */
  def validate(c: GraftConfig): Seq[String] = {
    val e = Seq.newBuilder[String]
    if (c.uid.isEmpty) e += "config.uid is required"
    if (c.sink.isEmpty) e += "config.sink is required"
    else if (!Sinks(c.sink))
      e += s"config.sink '${c.sink}' is not one of ${Sinks.toSeq.sorted.mkString("/")}"
    if (c.sink == "file" && c.fileSinkDir.isEmpty)
      e += "file_sink_dir is required for the file sink"
    if (c.sink == "s3") {
      if (c.s3Prefix.isEmpty) e += "prefix is required for the s3 sink"
      if (c.s3Region.isEmpty) e += "aws_region is required for the s3 sink"
      if (c.s3Bucket.isEmpty) e += "aws_bucket is required for the s3 sink"
      if (c.s3Profile.isEmpty) e += "aws_profile is required for the s3 sink"
    }
    if (c.batchSize <= 0) e += s"batch_size must be positive, got ${c.batchSize}"
    if (c.batchIntervalSec <= 0)
      e += s"batch_interval must be positive, got ${c.batchIntervalSec}"
    e.result()
  }
}
