package graft.streaming

import graft.k8s._
import graft.sinks.NdjsonSink
import graft.sources.k8s.Kubeconfig.KubeContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{DataStreamReader, GroupState, GroupStateTimeout, OutputMode, StreamingQuery,
  StreamingQueryListener, Trigger}
import org.apache.spark.storage.StorageLevel

/** Streaming assembly of the k8stream dataflow (SURVEY.md §3.1 Spark
  * shape): source → eligibility filters → watermarked dedup →
  * stream-static enrichment → L9 projection → count-capped NDJSON sink
  * via foreachBatch. [[run]] is the one event-side path: every sink
  * (file, s3, memory) lands through it, from [[runFromConfig]],
  * [[runLive]] and `graft.Main` alike.
  *
  * Delivery contract: the sink write happens before the batch commits
  * (micro-batch N+1 does not start until N's sink completes — the
  * reference's backpressure semantic, flush.go:15-27, is Spark's
  * micro-batch serialization for free). A restart replays an
  * uncommitted micro-batch under the same batch id, and the NDJSON sink
  * overwrites `<dir>/<uid>_<batchId>`, so with a replayable source (one
  * whose replayed batch id carries the same rows) the replay replaces
  * its own files: every record lands exactly once. The reference's
  * flusher names files by wall-clock nanos and keeps the duplicates.
  */
object StreamPipeline {

  /** D1 streaming: drop duplicate event UIDs within the watermark horizon
    * — the TTL'd dedup table (3600 s ≈ watermark delay; reference
    * handler.go:142-151, flush.go:57-62).
    *
    * At-least-once edge, same as the reference: the live watch decodes
    * DELETED v1.Event lines (event TTL expiry, ~1 h, redelivers the uid
    * with its ORIGINAL timestamp), and dedup state for that uid expires
    * at the same 1-hour horizon — a duplicate can slip out right at the
    * edge. The reference routes event deletes through the same onEvent
    * handler with the same TTL'd cache (handler.go:56-64, 142-151), so
    * the duplicate window is shared behavior, not a divergence; widen
    * `watermarkDelay` past the cluster's event TTL to close it.
    *
    * [[run]] runs no no-data batches, so keys past the horizon leave
    * state with the next data batch. A duplicate with the evicted key's
    * `creationTimestamp` (every K8s re-delivery) is behind the watermark
    * by then and dropped as late: the same output as an eager eviction. */
  def dedupStream(events: DataFrame, watermarkDelay: String = "1 hour"): DataFrame =
    events
      .withWatermark("creationTimestamp", watermarkDelay)
      .dropDuplicatesWithinWatermark(Seq("uid"))

  /** Versioned-dedup state for D2. */
  final case class VersionState(maxVersion: Long)

  /** A service row that passed the D2 gate, with its F1 lifecycle tag. */
  final case class TaggedService(service: KubeService, tag: String)

  /** D2 + F1 in one stateful pass — the service side's only version gate:
    * per service uid, pass only a strictly newer resourceVersion
    * (reference handler.go:95-115; versions compared numerically — a
    * documented divergence from the reference's lexical compare) and tag
    * each passed row with its lifecycle, which the reference's informer
    * callbacks map 1:1 (handler.go:26-69: OnAdd → addedService, OnUpdate
    * → updatedService, OnDelete → deletedService). Within a micro-batch
    * rows are taken in ascending version order, so an out-of-order batch
    * emits its strictly increasing prefix once each.
    *
    * A DELETED line carries a bumped rv, so it passes the gate and emits
    * exactly one `deletedService`; its state is then dropped (the
    * reference's OnDelete removes the uid from the informer cache), so a
    * later re-list of a recreated same-uid service tags as an add again.
    * Rows with no watch type (file replay, batch fixtures: bare
    * [[KubeService]] lifted with `WatchedService.of(_, "")`) take the
    * tag from state: first sight of a uid is `addedService`, every later
    * strictly-newer version `updatedService`.
    *
    * State is kept per uid with no timeout; only a delete removes it. A
    * TTL on service state (the reference's 3600 s cache expiry) is out
    * of scope: no gate ran one, and an armed processing-time timeout
    * makes the query fire on every trigger. */
  def dedupServicesWatchedTagged(services: Dataset[WatchedService])(
      implicit spark: SparkSession): Dataset[TaggedService] = {
    import spark.implicits._
    services
      .groupByKey(_.uid)
      .flatMapGroupsWithState[VersionState, TaggedService](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[WatchedService], state: GroupState[VersionState]) =>
          var maxSeen = state.getOption.map(_.maxVersion).getOrElse(Long.MinValue)
          // `known` = the uid currently exists in state, i.e. the informer
          // cache already holds this key. A watch type of ADDED is NOT
          // trusted for known keys: LIST items are decoded as ADDED
          // (HttpWatchClient.list), so after any re-list (410 recovery,
          // transport error, periodic relist) a service that changed while
          // disconnected arrives as ADDED — client-go's informer fires
          // OnUpdate → updatedService for known keys on resync
          // (handler.go:41-48); addedService is reserved for first-ever
          // (or post-delete) uids. A DELETED drops the key, so a
          // same-batch recreate tags as an add again.
          var known = state.getOption.isDefined
          val out = rows.toSeq.sortBy(_.resource_version.toLong).flatMap { s =>
            val v = s.resource_version.toLong
            if (v > maxSeen) {
              maxSeen = v
              val tag = s.watch_type match {
                case "DELETED"  => "deletedService"
                case "MODIFIED" => "updatedService"
                case _          => if (known) "updatedService" else "addedService"
              }
              known = tag != "deletedService"
              Some(TaggedService(s.service, tag))
            } else None
          }
          if (known) state.update(VersionState(maxSeen))
          else state.remove()
          out.iterator
      }
  }

  /** Lands one micro-batch of L9 rows on the configured sink — W1/W2/
    * K1-K3 dispatched on the config twin's `sink` knob (reference
    * io/config.go:27 "s3 | file | memory"): file and s3 share the NDJSON
    * writer (an s3 config's `fileSinkDir` is `s3a://<aws_bucket>/<prefix>`,
    * derived by [[GraftConfig.parse]]), memory is the in-process test
    * sink. */
  private def land(l9: DataFrame, conf: GraftConfig, batchId: Long): Unit =
    conf.sink match {
      case "memory" =>
        graft.sinks.MemoryBatchSink.append(conf.uid, batchId, l9, conf.batchSize)
      case _ =>
        NdjsonSink.write(l9, conf.fileSinkDir, conf.uid, batchId,
          conf.batchSize, conf.gzip)
    }

  /** Per-micro-batch sink body of the service-side query: one P4
    * projection over the whole gated batch (serviceEvents stamps each
    * row's lifecycle tag as the L9 reason), so the selector join runs
    * once per micro-batch, then one sink write. */
  private def serviceBatchSink(pods: DataFrame, conf: GraftConfig): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) =>
      land(EventPipeline.serviceEvents(
        batch.select(col("service.*"), col("tag")), pods, col("tag")).toDF(),
        conf, batchId)

  /** The service-side streaming query for bare [[KubeService]] rows (file
    * replay, no watch metadata): lifted with an empty watch type into
    * [[runServicesWatched]], so the gate tags add/update from its state
    * and never sees a delete. */
  def runServices(stream: Dataset[KubeService], pods: DataFrame,
      conf: GraftConfig, checkpoint: String,
      triggerMs: Option[Long] = None): StreamingQuery = {
    val spark = stream.sparkSession
    import spark.implicits._
    runServicesWatched(stream.map(WatchedService.of(_, "")), pods, conf,
      checkpoint, triggerMs)
  }

  /** The SERVICE-side streaming query (reference main.go service informer
    * → handler → event_service.go): [[WatchedService]] rows (from the
    * live watch source) through the tagged version gate, then per
    * micro-batch the P4 projection (selector-matched pod map, service L9
    * synthesis) lands on the configured sink — the service twin of
    * [[run]]. Service deletions land as `deletedService` L9 records, the
    * reference's OnDelete path end-to-end (handler.go:56-64 →
    * event_service.go:72-112). */
  def runServicesWatched(stream: Dataset[WatchedService], pods: DataFrame,
      conf: GraftConfig, checkpoint: String,
      triggerMs: Option[Long] = None): StreamingQuery = {
    implicit val spark: SparkSession = stream.sparkSession
    val tagged = dedupServicesWatchedTagged(stream)
    val trigger = triggerMs.getOrElse(conf.batchIntervalSec * 1000L)
    tagged.toDF().writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(trigger))
      .foreachBatch(serviceBatchSink(pods, conf))
      .start()
  }

  /** The full event-side streaming query: returns the started query.
    *
    * `objects`/`nodes` are a per-query snapshot (SURVEY.md §2.1 E1/E2,
    * the reference's lookup cache): projected once by
    * [[EventPipeline.objectDim]]/[[EventPipeline.nodeDim]], persisted and
    * materialized before `start()`, and released when the query
    * terminates. Every micro-batch joins that snapshot, so a dimension
    * change reaches the query only through a restart. The cache keeps its
    * lineage: a lost block is recomputed from `objects`/`nodes`. Two
    * queries started over the same dimensions share one cache entry, and
    * the first to terminate releases it (the other then re-reads them
    * per batch).
    *
    * Config twins honored here: the dedup horizon is
    * `conf.dedupTtlSec` (the reference's 3600 s objectCacheExpiry,
    * flush.go:57-62) and the trigger interval is `conf.batchIntervalSec`
    * (the count-or-time window's time half, io/batch.go:15-37).
    * `triggerMs` overrides the trigger for tests only.
    *
    * No-data batches are off for this query: its one stateful operator
    * emits on arrival, so such a batch would land nothing, only evict
    * expired keys (the next data batch does that, [[dedupStream]]), after
    * re-planning the sink body and re-broadcasting both dimensions. The
    * setting is read from the session clone taken at `start()`, so it
    * is set for that call only; later queries keep the session's value. */
  def run(stream: DataFrame, objects: DataFrame, nodes: DataFrame,
      conf: GraftConfig, checkpoint: String,
      triggerMs: Option[Long] = None): StreamingQuery = {
    val filtered = EventPipeline.eligible(stream, conf)
    val deduped = dedupStream(filtered, s"${conf.dedupTtlSec} seconds")
    val objDim = EventPipeline.objectDim(objects).persist(StorageLevel.MEMORY_AND_DISK)
    val nodeDim = EventPipeline.nodeDim(nodes).persist(StorageLevel.MEMORY_AND_DISK)
    val dims = Seq(objDim, nodeDim)
    val trigger = triggerMs.getOrElse(conf.batchIntervalSec * 1000L)
    val writer = deduped.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(trigger))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // E1/E2/P1-P3 run inside the batch, against the query's dimension snapshot.
        land(EventPipeline.projectL9(
          EventPipeline.enrichDims(batch, objDim, nodeDim)).toDF(), conf, batchId)
      }
    val session = stream.sparkSession.conf
    val key = SQLConf.STREAMING_NO_DATA_MICRO_BATCHES_ENABLED.key
    val prev = session.getOption(key)
    val query =
      try {
        dims.foreach(_.count())
        session.set(key, "false")
        try writer.start()
        finally prev.fold(session.unset(key))(session.set(key, _))
      } catch {
        case e: Throwable =>
          dims.foreach(_.unpersist(blocking = false))
          throw e
      }
    releaseOnTermination(stream.sparkSession, query, dims)
    query
  }

  /** Unpersist `cached` once `query` terminates (stopped or failed). The
    * terminated event arrives on the listener bus after `stop()` returns;
    * a query that already ended before the listener was added releases
    * here. */
  private def releaseOnTermination(spark: SparkSession, query: StreamingQuery,
      cached: Seq[DataFrame]): Unit = {
    val streams = spark.streams
    def release(listener: StreamingQueryListener): Unit = {
      streams.removeListener(listener)
      cached.foreach(_.unpersist(blocking = false))
    }
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.id == query.id) release(this)
    }
    streams.addListener(listener)
    if (!query.isActive) release(listener)
  }

  /** The reference's process entry (`k8stream --config file.json`,
    * main.go:20-60) re-expressed: load + validate the JSON config
    * (GraftConfig.load — throws GraftConfigException listing every
    * violation), start the periodic heartbeat when a hook is configured
    * (the reference's StartHeartbeat goroutine, io/heartbeat.go:17-60;
    * ours is a daemon ticker with process lifetime, like theirs), then
    * [[run]] the caller's event stream on the configured sink. */
  def runFromConfig(configPath: String, stream: DataFrame, objects: DataFrame,
      nodes: DataFrame, checkpoint: String, version: String = "graft",
      triggerMs: Option[Long] = None): StreamingQuery =
    runConfigured(configPath, stream.sparkSession, _ => stream, objects, nodes,
      checkpoint, version, triggerMs)

  /** The body [[runFromConfig]] and [[runLive]] share: config, heartbeat,
    * then [[run]] over the stream the config selects. */
  private def runConfigured(configPath: String, spark: SparkSession,
      stream: GraftConfig => DataFrame, objects: DataFrame, nodes: DataFrame,
      checkpoint: String, version: String, triggerMs: Option[Long]): StreamingQuery = {
    val conf = GraftConfig.load(configPath)
    Heartbeat.startPeriodic(spark, conf, version)
    run(stream(conf), objects, nodes, conf, checkpoint, triggerMs)
  }

  // ----------------------------------------- config → live source plumbing

  /** Resolve the live API endpoint the way the reference does
    * (k8sclient.go:37-60): the config's `kubeconfig` file when set,
    * the in-cluster service account otherwise (config.go:11-17 — "" =
    * in-cluster). */
  def liveContext(conf: GraftConfig): KubeContext =
    if (conf.kubeconfig.nonEmpty)
      graft.sources.k8s.Kubeconfig.load(conf.kubeconfig)
    else graft.sources.k8s.Kubeconfig.inCluster()

  /** A live watch reader for the k8s source `format`: endpoint, token
    * and namespace from `kc`, and `resync_interval` → the client's
    * periodic-relist knob (the reference hands the same value to its
    * informer factory, main.go:82-90, config.go:20-24). `graft.Main
    * --endpoint` builds its event stream here too. */
  private[graft] def liveReader(spark: SparkSession, format: String, kc: KubeContext,
      conf: GraftConfig): DataStreamReader = {
    var r = spark.readStream.format(s"graft.sources.k8s.$format")
      .option("endpoint", kc.server)
      .option("relistIntervalMs", (conf.resyncIntervalSec * 1000L).toString)
    kc.token.foreach(t => r = r.option("token", t))
    kc.namespace.foreach(ns => r = r.option("namespace", ns))
    r
  }

  /** The live EVENT watch stream built entirely from config. */
  def liveEventStream(spark: SparkSession, conf: GraftConfig): DataFrame =
    liveReader(spark, "K8sEventSource", liveContext(conf), conf).load()

  /** The live SERVICE (or deployments, E5) watch stream from config —
    * feeds [[runServicesWatched]]. */
  def liveServiceStream(spark: SparkSession, conf: GraftConfig,
      resource: String = "services"): Dataset[WatchedService] =
    liveReader(spark, "K8sServiceSource", liveContext(conf), conf)
      .option("resource", resource).load()
      .as(org.apache.spark.sql.Encoders.product[WatchedService])

  /** The reference's PRIMARY entry contract (`k8stream --config
    * file.json`, main.go:28-97): the config file alone stands up the
    * live path — kubeconfig/in-cluster resolution, watch client knobs,
    * heartbeat, sink dispatch. Dimensions stay caller-supplied
    * snapshots (the reference's GetObject side-lookups,
    * k8sclient.go:124-159; empty = enrich-with-nulls). */
  def runLive(configPath: String, spark: SparkSession, objects: DataFrame,
      nodes: DataFrame, checkpoint: String, version: String = "graft",
      triggerMs: Option[Long] = None): StreamingQuery =
    runConfigured(configPath, spark, liveEventStream(spark, _), objects, nodes,
      checkpoint, version, triggerMs)
}
