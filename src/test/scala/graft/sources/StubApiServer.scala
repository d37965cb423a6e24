package graft.sources

import java.util.concurrent.{ConcurrentLinkedQueue, ConcurrentSkipListMap, Executors}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Scripted Kubernetes API-server stub for one LIST+WATCH resource path
  * (`/api/v1/events`, `/api/v1/services`, `/api/v1/namespaces/<ns>/events`).
  * [[put]] stores an object JSON at a resourceVersion.
  *
  *  - LIST returns every stored object, with the store's max rv as the
  *    list's resourceVersion.
  *  - WATCH streams the objects above the requested rv as `watchType`
  *    lines, at most 50,000 per response, then closes. The client's
  *    resync loop reconnects for the rest, as it must against a real
  *    API server, and no response materializes a large backlog as one
  *    string.
  *
  * Every request's `Authorization` header is recorded, and LISTs and
  * WATCHes are counted. */
final class StubApiServer(path: String, watchType: String = "ADDED") {
  private val store = new ConcurrentSkipListMap[Long, String]()
  val authSeen = new ConcurrentLinkedQueue[String]()
  val lists = new AtomicInteger(0)
  val watches = new AtomicInteger(0)
  private val listKind = path.split('/').last.capitalize.stripSuffix("s") + "List"
  private val srv = com.sun.net.httpserver.HttpServer.create(
    new java.net.InetSocketAddress("127.0.0.1", 0), 0)
  private val pool = Executors.newFixedThreadPool(4,
    r => { val t = new Thread(r, "stub-api-http"); t.setDaemon(true); t })
  srv.setExecutor(pool)
  srv.createContext(path, { ex =>
    authSeen.add(Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse(""))
    val query = Option(ex.getRequestURI.getQuery).getOrElse("")
    val body =
      if (query.contains("watch=true")) {
        watches.incrementAndGet()
        val fromRv = query.split("&").collectFirst {
          case kv if kv.startsWith("resourceVersion=") =>
            kv.substring("resourceVersion=".length).toLong
        }.getOrElse(0L)
        store.tailMap(fromRv, false).values.asScala.iterator
          .take(50000)
          .map(j => s"""{"type":"$watchType","object":$j}""" + "\n")
          .mkString.getBytes("UTF-8")
      } else {
        lists.incrementAndGet()
        val maxRv = if (store.isEmpty) 0L else store.lastKey()
        (s"""{"kind":"$listKind","metadata":{"resourceVersion":"$maxRv"},""" +
          s""""items":[${store.values.asScala.mkString(",")}]}""").getBytes("UTF-8")
      }
    ex.sendResponseHeaders(200, if (body.isEmpty) -1 else body.length)
    if (body.nonEmpty) ex.getResponseBody.write(body)
    ex.close()
  })
  srv.start()

  def url: String = s"http://127.0.0.1:${srv.getAddress.getPort}"
  def put(rv: Long, json: String): Unit = store.put(rv, json)
  def stop(): Unit = { srv.stop(0); pool.shutdownNow() }
}
