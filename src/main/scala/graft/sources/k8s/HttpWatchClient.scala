package graft.sources.k8s

import graft.k8s.{EventSource => L9Source, KubeEvent, KubeService, ObjectRef, WatchedService}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentSkipListMap
import java.util.concurrent.atomic.AtomicBoolean
import scala.jdk.CollectionConverters._

/** Live Kubernetes watch client over the public watch API — the HTTP
  * analog of the reference's informer machinery (main.go:88-90 starts
  * informers; k8sclient.go:37-60 builds the clientset). Its contract
  * with [[K8sWatchStream]] is four calls, all on a driver-side buffer:
  * `latestRv` (the offset cursor), `rvAfter` (the admission-control
  * cursor), `fetch` (an rv range) and `trimCommitted` (drop what the
  * stream has committed).
  *
  * Protocol (public Kubernetes API semantics):
  *  1. LIST  `GET {base}{apiPrefix}/{resource}` — seeds the buffer and
  *     yields the list resourceVersion to start watching from.
  *  2. WATCH same URL + `?watch=true&resourceVersion=rv&timeoutSeconds=n`
  *     — chunked NDJSON of `{"type":"ADDED|MODIFIED|DELETED|ERROR",
  *     "object":...}` lines, decoded incrementally as they arrive. The
  *     decoder receives the watch TYPE too: the reference's OnDelete
  *     routes deletes through the same handlers (handler.go:56-64 —
  *     a deleted v1.Service becomes a `deletedService` record), so
  *     DELETED lines are decoded, not dropped.
  *  3. On CLEAN stream end (the server closes every watch after
  *     `timeoutSeconds`): re-WATCH from the last seen rv — no LIST.
  *     A full collection LIST per watch lifetime would hammer the
  *     apiserver for nothing (the rv cursor is still valid). LIST runs
  *     again only when the cursor is actually lost: HTTP 410 Gone / an
  *     ERROR watch line (rv expired) or a transport error — plus the
  *     optional periodic `relistIntervalMs` safety net, the analog of
  *     the reference's `resync_interval` (config.go:8, README "Resync
  *     allows to catch up"; client-go replays its local store on
  *     resync — an HTTP client's closest equivalent is a fresh LIST).
  *     Re-listed events overwrite by rv, so the buffer never
  *     duplicates; downstream D1 dedup absorbs redelivery across
  *     restarts, exactly the reference's at-least-once contract.
  *     Known divergence from client-go informers: a LIST reflects
  *     deletes (the object is simply absent) but this client does not
  *     diff the listed set against prior state, so a DELETED event
  *     whose watch line falls entirely inside an rv-loss window is
  *     observed as absence, not as a deletedService record —
  *     client-go synthesizes DeletedFinalStateUnknown from its store
  *     diff. At-least-once delivery of deletes therefore holds only
  *     outside rv-loss windows (K8sSoakSpec exercises the boundary).
  *
  * Liveness: a half-open connection (NAT drop) would block `readLine()`
  * forever with no exception — so the watch request carries the public
  * `timeoutSeconds` parameter (`ServerTimeoutSec`, the server's bound on
  * the WHOLE watch — deliberately long, it is not an idle timeout) AND a
  * local watchdog closes the response stream if no line arrives within
  * `IdleTimeoutMs`, which lands the reader in the resync loop — as a
  * CLEAN end (flagged before the close): the rv cursor is still valid,
  * so an idle-close re-WATCHes from `maxSeenRv` rather than re-LISTing
  * the collection every idle period. Either side alone is insufficient:
  * the server-side timeout dies with the server, the local one covers
  * that case. The LIST half (and every
  * exchange up to response headers — safe for the streaming WATCH,
  * whose timer is cancelled once headers arrive) is covered by
  * `RequestTimeoutMs` on the request itself, so a half-open connection
  * during LIST cannot block `http.send` forever either.
  *
  * Backpressure, not eviction: the buffer is a rv-ordered skip-list
  * trimmed only BELOW the committed rv (`trimCommitted`, called from the
  * MicroBatchStream's `commit`). When uncommitted backlog reaches
  * `BufferCap` the read loop PAUSES (the reference's bounded-channel
  * semantic, flush.go:20) instead of evicting — `planInputPartitions`
  * can therefore always re-plan an uncommitted range without a hole.
  *
  * Cluster auth: a bearer token (service-account) rides as the
  * `Authorization` header; TLS is the JVM default trust store — an
  * in-cluster deployment mounts the CA into it. Everything here is the
  * public API-server surface; no client library required.
  *
  * `apiPrefix` selects the API group: `/api/v1` for core resources
  * (events, services), `/apis/apps/v1` for deployments — the reference
  * watches both groups (k8sclient.go:62-74 lists apps/v1 Deployments).
  */
class HttpWatchClient[T](base: String, apiPrefix: String,
    resourcePath: String,
    decode: (String, com.fasterxml.jackson.databind.JsonNode) => Option[(Long, T)],
    token: Option[String], namespace: Option[String],
    resyncBackoffMs: Long, relistIntervalMs: Long) extends AutoCloseable {
  import HttpWatchClient.{BufferCap, IdleTimeoutMs, RequestTimeoutMs, ServerTimeoutSec}

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val buffer = new ConcurrentSkipListMap[Long, T]()
  // Entry count tracked explicitly: ConcurrentSkipListMap.size() is O(n),
  // and the backpressure gate checks occupancy once per put.
  private val occupancy = new java.util.concurrent.atomic.AtomicInteger(0)
  private val running = new AtomicBoolean(true)
  @volatile private var committedRv = 0L
  // The re-watch cursor: highest rv ever decoded OR returned by a LIST.
  // Survives trimCommitted (the buffer does not), so a clean stream end
  // can re-WATCH without re-LISTing.
  @volatile private var maxSeenRv = 0L
  // Watchdog state: the stream being read, and when it last made progress.
  @volatile private var activeBody: java.io.InputStream = _
  @volatile private var lastProgressMs: Long = System.currentTimeMillis()
  // Set by the watchdog just before it closes the body: an idle-close is
  // a LOCAL liveness decision, not a lost rv cursor — the read loop must
  // re-WATCH from maxSeenRv, not fall into the full-LIST recovery path
  // (a quiet namespace would otherwise LIST the whole collection every
  // IdleTimeoutMs for nothing).
  @volatile private var watchdogClosed = false

  private val listUrl = namespace match {
    case Some(ns) => s"$base$apiPrefix/namespaces/$ns/$resourcePath"
    case None => s"$base$apiPrefix/$resourcePath"
  }

  private val http = java.net.http.HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(10)).build()

  private def request(url: String): java.net.http.HttpRequest = {
    val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url)).GET()
      // Until response headers only — the streaming WATCH body is NOT
      // bounded by this; it is the LIST-half liveness cover.
      .timeout(java.time.Duration.ofMillis(RequestTimeoutMs))
    token.foreach(t => b.header("Authorization", s"Bearer $t"))
    b.build()
  }

  /** One LIST: seed buffer, return the collection rv to watch from.
    * List items carry no watch type; they are the informer's initial
    * adds ("ADDED"). */
  private def list(): Long = {
    val resp = http.send(request(listUrl),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() != 200)
      throw new java.io.IOException(s"LIST ${resp.statusCode()}")
    val root = mapper.readTree(resp.body())
    val items = root.path("items")
    if (items.isArray)
      items.asScala.foreach(decode("ADDED", _).foreach { case (rv, e) =>
        put(rv, e) })
    val listRv =
      try root.path("metadata").path("resourceVersion").asText("0").toLong
      catch { case _: NumberFormatException => 0L }
    val from = math.max(listRv, if (buffer.isEmpty) 0L else buffer.lastKey())
    maxSeenRv = math.max(maxSeenRv, from)
    from
  }

  /** Bounded-buffer backpressure: block the read loop while uncommitted
    * backlog is at capacity. Progress resumes when commit() trims, or
    * the client closes. Deliberately NOT an eviction — dropping
    * uncommitted rvs would punch a silent hole in a replanned range. */
  private def awaitSpace(): Unit =
    while (running.get() && occupancy.get() >= BufferCap) {
      lastProgressMs = System.currentTimeMillis() // paused ≠ stalled
      Thread.sleep(20)
    }

  private def put(rv: Long, e: T): Unit = {
    if (buffer.put(rv, e) == null) occupancy.incrementAndGet()
    if (rv > maxSeenRv) maxSeenRv = rv
  }

  /** One WATCH connection: stream lines until server close or stop.
    * Returns true on a clean end (rv cursor still valid — re-WATCH from
    * `maxSeenRv`), false when the cursor is lost (410 Gone / ERROR
    * line — the caller must re-LIST). */
  private def watch(fromRv: Long): Boolean = {
    // allowWatchBookmarks: the server periodically sends BOOKMARK lines
    // carrying the current collection rv, keeping the re-watch cursor
    // fresh on idle streams (otherwise a quiet namespace's cursor ages
    // toward the compaction horizon and eventually 410s into a LIST).
    val url = s"$listUrl?watch=true&resourceVersion=$fromRv" +
      s"&timeoutSeconds=$ServerTimeoutSec&allowWatchBookmarks=true"
    val resp = http.send(request(url),
      java.net.http.HttpResponse.BodyHandlers.ofInputStream())
    if (resp.statusCode() == 410) return false // Gone: rv expired -> re-list
    if (resp.statusCode() != 200)
      throw new java.io.IOException(s"WATCH ${resp.statusCode()}")
    val body = resp.body()
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(body,
        java.nio.charset.StandardCharsets.UTF_8))
    lastProgressMs = System.currentTimeMillis()
    activeBody = body
    try {
      var line = reader.readLine()
      while (line != null && running.get()) {
        lastProgressMs = System.currentTimeMillis()
        if (line.trim.nonEmpty) {
          // A single malformed line must not tear down the whole watch
          // connection (which would force a full re-LIST): skip it and
          // keep consuming — the stream framing is line-oriented, so
          // the next line is independently parseable.
          try {
            val n = mapper.readTree(line)
            val kind = n.path("type").asText("")
            // ERROR carries a Status object (e.g. 410 Gone mid-stream)
            if (kind == "ERROR") return false
            if (kind == "BOOKMARK") {
              // No data; just advance the re-watch cursor.
              val rvText = n.path("object").path("metadata")
                .path("resourceVersion").asText("")
              try { val rv = rvText.toLong; if (rv > maxSeenRv) maxSeenRv = rv }
              catch { case _: NumberFormatException => () }
            } else
              decode(kind, n.path("object")).foreach { case (rv, e) =>
                awaitSpace()
                if (running.get()) put(rv, e)
              }
          } catch {
            case _: com.fasterxml.jackson.core.JacksonException => ()
          }
        }
        line = reader.readLine()
      }
      true
    } finally { activeBody = null; reader.close() }
  }

  private val loop = new Thread(() => {
    // LIST only when the rv cursor is lost (initial, 410/ERROR,
    // transport error) or the periodic relist safety net fires; a clean
    // server-side watch close just re-WATCHes from maxSeenRv.
    var needList = true
    var lastListMs = 0L
    while (running.get()) {
      try {
        if (!needList && relistIntervalMs != Long.MaxValue &&
            System.currentTimeMillis() - lastListMs >= relistIntervalMs)
          needList = true
        val fromRv =
          if (needList) {
            val rv = list()
            lastListMs = System.currentTimeMillis()
            needList = false
            rv
          } else maxSeenRv
        watchdogClosed = false
        if (!watch(fromRv)) needList = true
      } catch {
        case _: Exception =>
          // A watchdog idle-close surfaces here as an IOException from
          // the closed body — that is a CLEAN end (cursor still valid):
          // re-WATCH from maxSeenRv. Only genuine transport errors
          // re-LIST.
          if (!watchdogClosed) needList = true
          watchdogClosed = false
      }
      if (running.get())
        try Thread.sleep(resyncBackoffMs)
        catch { case _: InterruptedException => () } // close() interrupts
    }
  }, "graft-k8s-watch")
  loop.setDaemon(true)
  loop.start()

  // Idle watchdog: if the reader has made no progress for IdleTimeoutMs,
  // the connection is presumed half-open — close the body so readLine()
  // throws and the loop falls back into LIST+WATCH resync. Single daemon
  // timer; checks at IdleTimeoutMs/4 granularity.
  private val watchdog = new Thread(() => {
    while (running.get()) {
      try Thread.sleep(math.max(10L, IdleTimeoutMs / 4))
      catch { case _: InterruptedException => () }
      val body = activeBody
      if (running.get() && body != null &&
          System.currentTimeMillis() - lastProgressMs > IdleTimeoutMs) {
        watchdogClosed = true // flag BEFORE close: the reader sees it set
        try body.close() catch { case _: Exception => () }
      }
    }
  }, "graft-k8s-watchdog")
  watchdog.setDaemon(true)
  watchdog.start()

  /** The offset cursor, NOT the buffer tail: monotone non-decreasing
    * even after trimCommitted empties the buffer (a trimmed-empty buffer
    * must not roll the stream's latest offset back below the committed
    * one — micro-batch planning would then ask for an inverted range). */
  def latestRv(): Long = maxSeenRv

  def fetch(fromRv: Long, toRv: Long): Seq[T] =
    if (toRv <= fromRv) Seq.empty
    else buffer.subMap(fromRv, false, toRv, true).values.asScala.toSeq

  /** Admission-control cursor: the rv that admits at most `maxCount`
    * buffered records above `fromRv` — the source's maxEventsPerTrigger
    * cap resolves through this. If fewer than `maxCount` records are
    * buffered, returns a cursor snapshotted BEFORE the walk
    * (everything decoded as of batch-planning time is admitted,
    * including a collection-level rv advance with no items, which
    * yields a watermark-advancing empty batch exactly like the
    * uncapped path). The snapshot-first order makes the cap STRICT
    * under concurrent watch traffic: reading latestRv() after the
    * walk would admit records decoded between the walk and the
    * fallback, letting a micro-batch exceed maxEventsPerTrigger.
    * O(maxCount) skip-list walk, no copying. */
  def rvAfter(fromRv: Long, maxCount: Int): Long = {
    val snapshotRv = latestRv()
    var n = 0
    var rv = fromRv
    val it = buffer.tailMap(fromRv, false).keySet.iterator()
    while (it.hasNext && n < maxCount && rv < snapshotRv) {
      rv = it.next(); n += 1
    }
    // under-cap: admit exactly through the pre-walk snapshot — records
    // decoded mid-walk (rv > snapshotRv) wait for the next batch
    if (n < maxCount) snapshotRv else math.min(rv, snapshotRv)
  }

  /** Called on offset commit: everything ≤ rv is durably downstream, so
    * the replay window has moved past it; trim to keep the buffer
    * bounded (a watch left running for weeks must not grow without
    * bound — at 100 TB scale the buffer holds a replay window, never
    * history). Only entries AT OR BELOW the committed rv are ever
    * removed; uncommitted backlog is bounded by backpressure
    * ([[awaitSpace]]), never by eviction. */
  def trimCommitted(rv: Long): Unit = {
    committedRv = math.max(committedRv, rv)
    // ≤ rv is durable: inclusive; O(removed), keeps occupancy exact.
    var e = buffer.firstEntry()
    while (e != null && e.getKey <= committedRv) {
      if (buffer.remove(e.getKey) != null) occupancy.decrementAndGet()
      e = buffer.firstEntry()
    }
  }

  override def close(): Unit = {
    running.set(false)
    loop.interrupt()
    watchdog.interrupt()
    val body = activeBody
    if (body != null) { try body.close() catch { case _: Exception => () } }
  }
}

/** The per-resource decoders + convenience constructors: one generic
  * LIST/WATCH/resync client, one decoder per watched kind — exactly the
  * reference's informer-per-resource layout (main.go:88-90 starts one
  * informer each for events and services; k8sclient.go:62-74 reads
  * apps/v1 deployments). */
object HttpWatchClient {

  /** Uncommitted records buffered before the read loop pauses. */
  private val BufferCap = 1 << 20
  /** No watch line for this long = a half-open connection. */
  private val IdleTimeoutMs = 300000L
  /** The server's bound on one whole watch (`timeoutSeconds`). */
  private val ServerTimeoutSec = 3600L
  /** Bound on each exchange up to response headers. */
  private val RequestTimeoutMs = 30000L

  def events(base: String, token: Option[String] = None,
      namespace: Option[String] = None, resyncBackoffMs: Long = 1000L,
      relistIntervalMs: Long = Long.MaxValue): HttpWatchClient[KubeEvent] =
    new HttpWatchClient[KubeEvent](base, "/api/v1", "events",
      (_, n) => decodeEvent(n), token, namespace, resyncBackoffMs,
      relistIntervalMs)

  def services(base: String, token: Option[String] = None,
      namespace: Option[String] = None, resyncBackoffMs: Long = 1000L,
      relistIntervalMs: Long = Long.MaxValue): HttpWatchClient[WatchedService] =
    new HttpWatchClient[WatchedService](base, "/api/v1", "services",
      decodeSelecting(deployment = false), token, namespace, resyncBackoffMs,
      relistIntervalMs)

  /** apps/v1 Deployments as selector-bearing dimension rows (uid,
    * namespace, name, labels, spec.selector.matchLabels) — the E5 feed
    * (reference k8sclient.go:62-74). Reuses KubeService as the carrier:
    * the selector-join (E3) is kind-agnostic, it only needs
    * (uid, namespace, selector). */
  def deployments(base: String, token: Option[String] = None,
      namespace: Option[String] = None, resyncBackoffMs: Long = 1000L,
      relistIntervalMs: Long = Long.MaxValue): HttpWatchClient[WatchedService] =
    new HttpWatchClient[WatchedService](base, "/apis/apps/v1", "deployments",
      decodeSelecting(deployment = true), token, namespace, resyncBackoffMs,
      relistIntervalMs)

  private def strMap(n: com.fasterxml.jackson.databind.JsonNode)
      : Map[String, String] =
    if (!n.isObject) Map.empty
    else {
      val b = Map.newBuilder[String, String]
      n.fields().forEachRemaining(e => b += (e.getKey -> e.getValue.asText("")))
      b.result()
    }

  /** v1.Service (the S2 consumed subset: event_service.go / FIXTURES.md
    * §A.3) or apps/v1.Deployment JSON → the KubeService carrier, tagged
    * with the watch type. A Service's selector is the bare map at
    * spec.selector; a Deployment's is a LabelSelector, whose map lives at
    * spec.selector.matchLabels. A LabelSelector can ALSO carry
    * matchExpressions (set-based requirements) — the equi-join form of
    * E3 cannot express those, and decoding such a deployment with only
    * its matchLabels half (or an empty map) would silently join the
    * WRONG pod set; skip the row instead, so a miss is visibly a miss. */
  private def decodeSelecting(deployment: Boolean)(watchType: String,
      n: com.fasterxml.jackson.databind.JsonNode)
      : Option[(Long, WatchedService)] = {
    val meta = n.path("metadata")
    val uid = meta.path("uid").asText("")
    val rvText = meta.path("resourceVersion").asText("")
    val rv = try rvText.toLong catch { case _: NumberFormatException => -1L }
    val selector = n.path("spec").path("selector")
    val exprs = selector.path("matchExpressions")
    if (uid.isEmpty || rv <= 0 ||
        (deployment && exprs.isArray && exprs.size > 0)) None
    else Some(rv -> WatchedService.of(KubeService(
      uid = uid,
      resource_version = rvText,
      name = meta.path("name").asText(""),
      namespace = meta.path("namespace").asText(""),
      labels = strMap(meta.path("labels")),
      annotations = strMap(meta.path("annotations")),
      selector = strMap(
        if (deployment) selector.path("matchLabels") else selector)),
      watchType))
  }

  /** v1.Event JSON → KubeEvent; None when the record is unusable (no
    * uid/rv). Field mapping is the same subset the file client carries
    * (FIXTURES.md §A.1) — the two clients must be interchangeable.
    * Watch type is irrelevant for events: the reference routes event
    * deletes through the same onEvent handler as adds/updates
    * (handler.go:56-64). */
  private[sources] def decodeEvent(n: com.fasterxml.jackson.databind.JsonNode):
      Option[(Long, KubeEvent)] = {
    val meta = n.path("metadata")
    val uid = meta.path("uid").asText("")
    val rvText = meta.path("resourceVersion").asText("")
    // K8s resourceVersions are opaque strings that are etcd revisions in
    // practice; a non-numeric rv cannot order a micro-batch offset — skip
    // it rather than corrupt the offset sequence.
    val rv = try rvText.toLong catch { case _: NumberFormatException => -1L }
    if (uid.isEmpty || rv <= 0) return None
    def ts(field: String): Option[Timestamp] = {
      val v = n.path(field).asText("")
      if (v.isEmpty) None
      else try Some(Timestamp.from(java.time.Instant.parse(v)))
      catch { case _: Exception => None }
    }
    val when = ts("lastTimestamp").orElse(ts("eventTime"))
      .orElse {
        val v = meta.path("creationTimestamp").asText("")
        if (v.isEmpty) None
        else try Some(Timestamp.from(java.time.Instant.parse(v)))
        catch { case _: Exception => None }
      }
      .getOrElse(new Timestamp(0L))
    val obj = n.path("involvedObject")
    val src = n.path("source")
    Some(rv -> KubeEvent(
      uid = uid,
      creationTimestamp = when,
      name = meta.path("name").asText(""),
      namespace = meta.path("namespace").asText(""),
      reason = n.path("reason").asText(""),
      message = n.path("message").asText(""),
      eventType = n.path("type").asText(""),
      count = { val c = n.path("count"); if (c.isNumber) Some(c.asInt) else None },
      involvedObject = ObjectRef(
        obj.path("apiVersion").asText(""), obj.path("kind").asText(""),
        obj.path("name").asText(""), obj.path("namespace").asText(""),
        obj.path("resourceVersion").asText(""), obj.path("uid").asText("")),
      source = L9Source(
        src.path("component").asText(""), src.path("host").asText(""))))
  }
}
