package graft.sources

import graft.SparkSpec
import graft.k8s.{EventSource, KubeEvent, ObjectRef}
import graft.sources.k8s.{FileWatchClient, K8sEventSource}
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.sql.Timestamp

/** The DataSourceV2 K8s watch source: resourceVersion offsets, replay
  * of appended records, stale-rv skipping. */
class K8sSourceSpec extends SparkSpec {

  private def ev(uid: String) = KubeEvent(uid,
    Timestamp.valueOf("2024-01-01 10:00:00"), uid, "default", "Scheduled",
    s"m-$uid", "Normal", Some(1),
    ObjectRef("v1", "Pod", "p", "default", "1", s"o-$uid"),
    EventSource("kubelet", "n1"))

  private def append(path: String, lines: String*): Unit =
    Files.write(Paths.get(path),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  test("micro-batches follow resourceVersion offsets; stale rvs are skipped") {
    val file = Files.createTempDirectory("k8ssrc").resolve("watch.ndjson").toString
    append(file,
      FileWatchClient.toLine(1, ev("a")),
      FileWatchClient.toLine(2, ev("b")),
      FileWatchClient.toLine(3, ev("c")))
    val q = spark.readStream
      .format(classOf[K8sEventSource].getName)
      .option("path", file)
      .load()
      .writeStream.format("memory").queryName("k8ssrc")
      .start()
    try {
      q.processAllAvailable()
      val first = spark.table("k8ssrc").select("uid").collect().map(_.getString(0)).sorted
      assert(first.toSeq == Seq("a", "b", "c"))
      // rv=2 is stale (≤ committed offset 3) → skipped; rv=5 is new
      append(file,
        FileWatchClient.toLine(2, ev("stale")),
        FileWatchClient.toLine(5, ev("d")))
      q.processAllAvailable()
      val all = spark.table("k8ssrc").select("uid").collect().map(_.getString(0)).sorted
      assert(all.toSeq == Seq("a", "b", "c", "d"))
    } finally q.stop()
  }

  test("schema matches the consumed v1.Event subset and fields round-trip") {
    val file = Files.createTempDirectory("k8ssrc2").resolve("watch.ndjson").toString
    append(file, FileWatchClient.toLine(7, ev("x")))
    val q = spark.readStream
      .format(classOf[K8sEventSource].getName)
      .option("path", file)
      .load()
      .writeStream.format("memory").queryName("k8ssrc2")
      .start()
    try {
      q.processAllAvailable()
      val row = spark.table("k8ssrc2").collect().head
      val df = spark.table("k8ssrc2")
      assert(df.columns.toSet == Set("uid", "creationTimestamp", "name",
        "namespace", "reason", "message", "eventType", "count",
        "involvedObject", "source"))
      assert(row.getAs[String]("uid") == "x")
      assert(row.getAs[org.apache.spark.sql.Row]("involvedObject")
        .getAs[String]("kind") == "Pod")
      assert(row.getAs[Timestamp]("creationTimestamp") ==
        Timestamp.valueOf("2024-01-01 10:00:00"))
    } finally q.stop()
  }

  test("a torn last line waits for its newline; once finished it lands exactly once") {
    val file = Files.createTempDirectory("k8storn").resolve("watch.ndjson").toString
    append(file, FileWatchClient.toLine(1, ev("a")))
    val q = spark.readStream
      .format(classOf[K8sEventSource].getName)
      .option("path", file)
      .load()
      .writeStream.format("memory").queryName("k8storn")
      .start()
    def uids: Seq[String] =
      spark.table("k8storn").select("uid").collect().map(_.getString(0)).sorted.toSeq
    try {
      q.processAllAvailable()
      assert(uids == Seq("a"))
      // a writer's append caught halfway: no newline, not yet valid JSON
      val line = FileWatchClient.toLine(2, ev("b"))
      val (head, rest) = line.splitAt(line.length / 2)
      Files.write(Paths.get(file), head.getBytes("UTF-8"), StandardOpenOption.APPEND)
      q.processAllAvailable()
      assert(uids == Seq("a"))
      append(file, rest)
      q.processAllAvailable()
      assert(uids == Seq("a", "b"))
    } finally q.stop()
  }

  // ------------------------- live HTTP watch client (S1/S2 live mode) --

  /** v1.Event JSON as the API server serves it. */
  private def eventJson(rv: Long, uid: String, reason: String = "Scheduled"): String =
    s"""{"metadata":{"uid":"$uid","resourceVersion":"$rv","name":"$uid",
       |  "namespace":"default","creationTimestamp":"2024-01-01T09:59:00Z"},
       | "involvedObject":{"apiVersion":"v1","kind":"Pod","name":"p",
       |  "namespace":"default","resourceVersion":"1","uid":"o-$uid"},
       | "reason":"$reason","message":"m-$uid","type":"Normal","count":1,
       | "lastTimestamp":"2024-01-01T10:00:00Z",
       | "source":{"component":"kubelet","host":"n1"}}""".stripMargin
      .replaceAll("\n\\s*", "")

  private def awaitTrue(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (!cond && System.nanoTime() < deadline) Thread.sleep(25)
    cond
  }

  test("HttpWatchClient: LIST seeds, WATCH streams, resync catches up, " +
    "fetch slices by rv, bearer token rides every request") {
    val srv = new StubApiServer("/api/v1/events")
    srv.put(1, eventJson(1, "a")); srv.put(2, eventJson(2, "b"))
    val client = graft.sources.k8s.HttpWatchClient.events(srv.url,
      token = Some("tok-1"), resyncBackoffMs = 50)
    try {
      assert(awaitTrue(10000)(client.latestRv() == 2L),
        s"LIST+WATCH should reach rv=2, got ${client.latestRv()}")
      // appended event arrives via a later watch/resync cycle
      srv.put(5, eventJson(5, "c"))
      assert(awaitTrue(10000)(client.latestRv() == 5L))
      val all = client.fetch(0, 5)
      assert(all.map(_.uid) == Seq("a", "b", "c"))
      assert(all.head.involvedObject.kind == "Pod")
      assert(all.head.creationTimestamp ==
        Timestamp.from(java.time.Instant.parse("2024-01-01T10:00:00Z")))
      // range semantics: (fromRv, toRv]
      assert(client.fetch(2, 5).map(_.uid) == Seq("c"))
      // commit-trim drops only what is durably past
      client.trimCommitted(2)
      assert(client.fetch(0, 5).map(_.uid) == Seq("c"))
      assert(srv.authSeen.peek() == "Bearer tok-1")
    } finally { client.close(); srv.stop() }
  }

  test("decodeEvent: unusable records (no uid / non-numeric rv) are skipped," +
    " absent count maps to None") {
    import graft.sources.k8s.HttpWatchClient.decodeEvent
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    assert(decodeEvent(m.readTree(eventJson(3, "ok"))).exists(_._1 == 3L))
    assert(decodeEvent(m.readTree(
      """{"metadata":{"resourceVersion":"4"}}""")).isEmpty)
    assert(decodeEvent(m.readTree(
      """{"metadata":{"uid":"u","resourceVersion":"abc123xyz"}}""")).isEmpty)
    val noCount = eventJson(6, "nc").replace(""","count":1""", "")
    assert(decodeEvent(m.readTree(noCount)).exists(_._2.count.isEmpty))
  }

  test("end-to-end: readStream over the live endpoint lands events in the sink") {
    val srv = new StubApiServer("/api/v1/events")
    srv.put(1, eventJson(1, "e1")); srv.put(2, eventJson(2, "e2"))
    val q = spark.readStream
      .format(classOf[K8sEventSource].getName)
      .option("endpoint", srv.url)
      .load()
      .writeStream.format("memory").queryName("k8slive")
      .start()
    try {
      assert(awaitTrue(30000) {
        q.processAllAvailable()
        spark.table("k8slive").count() == 2L
      }, "both listed events should land")
      srv.put(7, eventJson(7, "e3")) // arrives via watch/resync, next micro-batch picks it up
      assert(awaitTrue(30000) {
        q.processAllAvailable()
        spark.table("k8slive").count() == 3L
      }, "appended event should land after resync")
      val uids = spark.table("k8slive").select("uid")
        .collect().map(_.getString(0)).sorted
      assert(uids.toSeq == Seq("e1", "e2", "e3"))
    } finally { q.stop(); srv.stop() }
  }

  test("admission control: maxEventsPerTrigger caps each micro-batch; " +
    "every event still lands exactly once") {
    val srv = new StubApiServer("/api/v1/events")
    for (i <- 1 to 6) srv.put(i.toLong, eventJson(i.toLong, s"a$i"))
    val q = spark.readStream
      .format(classOf[K8sEventSource].getName)
      .option("endpoint", srv.url)
      .option("maxEventsPerTrigger", "2")
      .load()
      .writeStream.format("memory").queryName("k8scapped")
      .start()
    try {
      assert(awaitTrue(30000) {
        q.processAllAvailable()
        spark.table("k8scapped").count() == 6L
      }, "all 6 events should land across capped batches")
      // no batch admitted more than the cap
      val batchRows = q.recentProgress.toSeq.map(_.numInputRows)
      assert(batchRows.forall(_ <= 2),
        s"a batch exceeded maxEventsPerTrigger=2: $batchRows")
      // ...and the backlog genuinely needed >1 admitting batch
      assert(batchRows.count(_ > 0) >= 3,
        s"expected >=3 non-empty batches, got $batchRows")
      val uids = spark.table("k8scapped").select("uid")
        .collect().map(_.getString(0)).sorted.toSeq
      assert(uids == (1 to 6).map(i => s"a$i").sorted)
    } finally { q.stop(); srv.stop() }
  }

  test("rvAfter: admission cursor walks at most maxCount buffered rvs, " +
    "falls through to latestRv when fewer remain") {
    val srv = new StubApiServer("/api/v1/events")
    srv.put(10, eventJson(10, "x1")); srv.put(20, eventJson(20, "x2"))
    srv.put(30, eventJson(30, "x3"))
    val client = graft.sources.k8s.HttpWatchClient.events(srv.url,
      resyncBackoffMs = 50)
    try {
      assert(awaitTrue(10000)(client.latestRv() == 30L))
      assert(client.rvAfter(0L, 1) == 10L)
      assert(client.rvAfter(0L, 2) == 20L)
      assert(client.rvAfter(10L, 1) == 20L)
      assert(client.rvAfter(0L, 99) == 30L)  // fewer than cap → latest
      assert(client.rvAfter(30L, 5) == 30L)  // nothing above → latest
    } finally { client.close(); srv.stop() }
  }

  test("a malformed watch line is skipped; later lines on the SAME " +
    "connection still decode (no forced resync)") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val srv = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    srv.createContext("/api/v1/events", { ex =>
      val query = Option(ex.getRequestURI.getQuery).getOrElse("")
      seen.add(query)
      val body =
        if (query.contains("watch=true"))
          // corrupt line BETWEEN two good ones, single connection
          (s"""{"type":"ADDED","object":${eventJson(11, "g1")}}""" + "\n" +
            """{"type":"ADDED","obj""" + "\n" +
            s"""{"type":"ADDED","object":${eventJson(12, "g2")}}""" + "\n")
            .getBytes("UTF-8")
        else
          """{"kind":"EventList","metadata":{"resourceVersion":"0"},"items":[]}"""
            .getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
      ex.close()
    })
    srv.start()
    val client = graft.sources.k8s.HttpWatchClient.events(
      s"http://127.0.0.1:${srv.getAddress.getPort}", resyncBackoffMs = 60000)
    try {
      assert(awaitTrue(10000)(client.latestRv() == 12L),
        s"both good lines should land, got rv ${client.latestRv()}")
      assert(client.fetch(0, 12).map(_.uid) == Seq("g1", "g2"))
      // one LIST + one WATCH: the corrupt line did not tear the
      // connection down into a resync cycle
      import scala.jdk.CollectionConverters._
      assert(seen.asScala.count(_.contains("watch=true")) == 1,
        s"unexpected resync: $seen")
    } finally { client.close(); srv.stop(0) }
  }

  test("clean watch close re-WATCHes from the last seen rv without " +
    "re-LISTing; the periodic relist safety net still fires when armed") {
    val lists = new java.util.concurrent.atomic.AtomicInteger(0)
    val watches = new java.util.concurrent.atomic.AtomicInteger(0)
    val watchFroms = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val srv = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    srv.createContext("/api/v1/events", { ex =>
      val query = Option(ex.getRequestURI.getQuery).getOrElse("")
      val body =
        if (query.contains("watch=true")) {
          watches.incrementAndGet()
          watchFroms.add(query.split("&").collectFirst {
            case kv if kv.startsWith("resourceVersion=") =>
              kv.substring("resourceVersion=".length).toLong
          }.getOrElse(-1L))
          // one event on the first connection, then clean closes
          if (watches.get() == 1)
            (s"""{"type":"ADDED","object":${eventJson(9, "w1")}}""" + "\n")
              .getBytes("UTF-8")
          else Array.empty[Byte]
        } else {
          lists.incrementAndGet()
          """{"kind":"EventList","metadata":{"resourceVersion":"3"},"items":[]}"""
            .getBytes("UTF-8")
        }
      ex.sendResponseHeaders(200, if (body.isEmpty) -1 else body.length)
      if (body.nonEmpty) ex.getResponseBody.write(body)
      ex.close()
    })
    srv.start()
    val base = s"http://127.0.0.1:${srv.getAddress.getPort}"
    val client = graft.sources.k8s.HttpWatchClient.events(base,
      resyncBackoffMs = 40)
    try {
      assert(awaitTrue(10000)(watches.get() >= 4),
        s"expected several clean re-WATCH cycles, got ${watches.get()}")
      assert(lists.get() == 1,
        s"clean close must NOT re-LIST, saw ${lists.get()} LISTs")
      // the re-watch cursor advanced to the decoded event's rv
      import scala.jdk.CollectionConverters._
      val froms = watchFroms.asScala.toSeq
      assert(froms.head == 3L, s"first watch from list rv: $froms")
      assert(froms.drop(1).forall(_ == 9L),
        s"re-watches must resume from the last seen rv: $froms")
    } finally { client.close(); srv.stop(0) }
    // Same server shape, relist armed: LIST count must keep growing.
    val srv2 = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val lists2 = new java.util.concurrent.atomic.AtomicInteger(0)
    srv2.createContext("/api/v1/events", { ex =>
      val query = Option(ex.getRequestURI.getQuery).getOrElse("")
      if (!query.contains("watch=true")) lists2.incrementAndGet()
      val body =
        if (query.contains("watch=true")) Array.empty[Byte]
        else """{"kind":"EventList","metadata":{"resourceVersion":"3"},"items":[]}"""
          .getBytes("UTF-8")
      ex.sendResponseHeaders(200, if (body.isEmpty) -1 else body.length)
      if (body.nonEmpty) ex.getResponseBody.write(body)
      ex.close()
    })
    srv2.start()
    val client2 = graft.sources.k8s.HttpWatchClient.events(
      s"http://127.0.0.1:${srv2.getAddress.getPort}",
      resyncBackoffMs = 40, relistIntervalMs = 120)
    try
      assert(awaitTrue(10000)(lists2.get() >= 3),
        s"armed relist interval should LIST repeatedly, got ${lists2.get()}")
    finally { client2.close(); srv2.stop(0) }
  }

  test("runLive: the config file ALONE stands up the live pipeline — " +
    "kubeconfig resolves endpoint+token+namespace, resync_interval " +
    "reaches the client's relist knob") {
    // namespaced path: proves the kubeconfig context namespace reached
    // the client's URL construction
    val srv = new StubApiServer("/api/v1/namespaces/payments/events")
    srv.put(1, eventJson(1, "live1")); srv.put(2, eventJson(2, "live2"))
    val base = srv.url
    val kcPath = java.nio.file.Files.createTempFile("kubeconfig", ".yaml")
    java.nio.file.Files.write(kcPath,
      s"""apiVersion: v1
         |clusters:
         |- cluster:
         |    server: $base
         |  name: stub
         |contexts:
         |- context:
         |    cluster: stub
         |    namespace: payments
         |    user: bot
         |  name: stub-ctx
         |current-context: stub-ctx
         |users:
         |- name: bot
         |  user:
         |    token: live-tok
         |""".stripMargin.getBytes("UTF-8"))
    val cfgPath = java.nio.file.Files.createTempFile("graft-live", ".json")
    java.nio.file.Files.write(cfgPath,
      s"""{"config": {"uid": "liveuid", "sink": "memory", "batch_size": 10,
         |  "batch_interval": 30},
         | "kubeconfig": "$kcPath", "resync_interval": 1}"""
        .stripMargin.getBytes("UTF-8"))
    // graft.Main has no test trigger override: the same config with a
    // 1 s batch_interval stands in for triggerMs
    val mainCfgPath = java.nio.file.Files.createTempFile("graft-live-main", ".json")
    java.nio.file.Files.write(mainCfgPath,
      new String(java.nio.file.Files.readAllBytes(cfgPath), "UTF-8")
        .replace("\"batch_interval\": 30", "\"batch_interval\": 1")
        .getBytes("UTF-8"))
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("ckptlive").toString
    // The same law for two inputs: the config-only path, and graft.Main
    // --endpoint naming the same server (its flags replace the kubeconfig)
    val inputs = Seq[(String, () => org.apache.spark.sql.streaming.StreamingQuery)](
      "runLive" -> (() => graft.streaming.StreamPipeline.runLive(
        cfgPath.toString, spark,
        Seq.empty[graft.k8s.KubeObject].toDF(),
        Seq.empty[graft.k8s.KubeNode].toDF(), ckpt, triggerMs = Some(100))),
      "Main.run --endpoint" -> (() => graft.Main.run(spark, Map(
        "config" -> mainCfgPath.toString, "endpoint" -> base,
        "token" -> "live-tok", "namespace" -> "payments"))))
    try for ((input, start) <- inputs) {
      srv.lists.set(0)
      srv.authSeen.clear()
      graft.sinks.MemoryBatchSink.clear("liveuid")
      val q = start()
      try {
        assert(awaitTrue(30000) {
          q.processAllAvailable()
          graft.sinks.MemoryBatchSink.batches("liveuid").flatMap(_._2).flatten.size >= 2
        }, s"$input: both listed events should land via the config-built live source")
        val lines = graft.sinks.MemoryBatchSink.batches("liveuid").flatMap(_._2).flatten
        assert(lines.exists(_.contains("\"id\":\"live1\"")), lines.mkString("\n"))
        // kubeconfig token rode the requests
        assert(srv.authSeen.peek() == "Bearer live-tok",
          s"$input: auth seen: ${srv.authSeen}")
        // resync_interval=1s → relistIntervalMs=1000 reached the client:
        // the LIST count keeps growing (without the knob there is exactly
        // one LIST, because clean watch closes re-WATCH)
        assert(awaitTrue(15000)(srv.lists.get() >= 3),
          s"$input: periodic relist should re-LIST, got ${srv.lists.get()}")
      } finally q.stop()
    } finally srv.stop()
  }

  test("service source honours resyncBackoffMs: one WATCH in the 3 s " +
    "after the first clean close") {
    // nothing above the listed rv 3: every WATCH closes cleanly at once
    val srv = new StubApiServer("/api/v1/services")
    srv.put(3, serviceJson(3, "s1", "web"))
    val q = spark.readStream
      .format("graft.sources.k8s.K8sServiceSource")
      .option("endpoint", srv.url)
      .option("resyncBackoffMs", "60000")
      .load()
      .writeStream.format("memory").queryName("svcbackoff")
      .start()
    try {
      assert(awaitTrue(30000)(srv.watches.get() >= 1), "the first WATCH never opened")
      Thread.sleep(3000)
      // the 1 s default backoff would have re-WATCHed twice by now
      assert(srv.watches.get() == 1,
        s"re-WATCH before resyncBackoffMs=60000 elapsed: ${srv.watches.get()} WATCHes")
    } finally { q.stop(); srv.stop() }
  }

  // ------------------------------- live SERVICE watch (the S2 half) --

  private def serviceJson(rv: Long, uid: String, name: String): String =
    s"""{"metadata":{"uid":"$uid","resourceVersion":"$rv","name":"$name",
       |  "namespace":"default","labels":{"app":"$name"},
       |  "annotations":{"team":"core"}},
       | "spec":{"selector":{"app":"$name"}}}""".stripMargin
      .replaceAll("\n\\s*", "")

  test("live DEPLOYMENTS watch end-to-end (E5): apps/v1 group path, " +
    "selector decoded from spec.selector.matchLabels, matchExpressions-" +
    "only deployments skipped, DELETED watch type carried") {
    def depJson(rv: Long, uid: String, name: String, selector: String): String =
      s"""{"metadata":{"uid":"$uid","resourceVersion":"$rv","name":"$name",
         |  "namespace":"default","labels":{"app":"$name"}},
         | "spec":{"selector":$selector}}""".stripMargin
        .replaceAll("\n\\s*", "")
    val matchLabels = """{"matchLabels":{"app":"web","tier":"fe"}}"""
    val matchExprs =
      """{"matchExpressions":[{"key":"app","operator":"In","values":["x"]}]}"""
    val srv = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val watchServed = new java.util.concurrent.atomic.AtomicBoolean(false)
    srv.createContext("/apis/apps/v1/deployments", { ex =>
      val query = Option(ex.getRequestURI.getQuery).getOrElse("")
      val body =
        if (query.contains("watch=true")) {
          // one watch delivery: a new deployment + a DELETED line
          if (watchServed.compareAndSet(false, true))
            (s"""{"type":"ADDED","object":${depJson(5, "d3", "api", matchLabels)}}""" +
              "\n" +
              s"""{"type":"DELETED","object":${depJson(6, "d1", "web", matchLabels)}}""" +
              "\n").getBytes("UTF-8")
          else Array.empty[Byte]
        } else
          (s"""{"kind":"DeploymentList","metadata":{"resourceVersion":"2"},""" +
            s""""items":[${depJson(1, "d1", "web", matchLabels)},""" +
            s"""${depJson(2, "d2", "exprs-only", matchExprs)}]}""")
            .getBytes("UTF-8")
      ex.sendResponseHeaders(200, if (body.isEmpty) -1 else body.length)
      if (body.nonEmpty) ex.getResponseBody.write(body)
      ex.close()
    })
    srv.start()
    val q = spark.readStream
      .format("graft.sources.k8s.K8sServiceSource")
      .option("endpoint", s"http://127.0.0.1:${srv.getAddress.getPort}")
      .option("resource", "deployments")
      .load()
      .writeStream.format("memory").queryName("k8sdep")
      .start()
    try {
      assert(awaitTrue(30000) {
        q.processAllAvailable()
        spark.table("k8sdep").count() == 3L
      }, s"d1 + d3 + d1-DELETED expected (d2 skipped), got " +
        s"${spark.table("k8sdep").collect().mkString(",")}")
      val rows = spark.table("k8sdep")
        .select("uid", "name", "watch_type", "selector")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getAs[Map[String, String]](3)))
        .sortBy(r => (r._1, r._3))
      // the LabelSelector.matchLabels map landed as the E3 selector
      assert(rows.forall(_._4 == Map("app" -> "web", "tier" -> "fe")),
        rows.mkString(","))
      assert(rows.map(r => (r._1, r._3)).toSeq ==
        Seq(("d1", "ADDED"), ("d1", "DELETED"), ("d3", "ADDED")),
        rows.mkString(","))
      // matchExpressions-only deployment never decoded
      assert(!rows.exists(_._1 == "d2"))
    } finally { q.stop(); srv.stop(0) }
  }

  test("live service source end-to-end: LIST+WATCH services through the " +
    "D2 versioned dedup (the reference's service-informer path)") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val srv = new StubApiServer("/api/v1/services", watchType = "MODIFIED")
    // same uid, three resourceVersions — only strictly newer must pass D2
    srv.put(3, serviceJson(3, "s1", "web"))
    srv.put(7, serviceJson(7, "s1", "web"))
    val src = spark.readStream
      .format("graft.sources.k8s.K8sServiceSource")
      .option("endpoint", srv.url)
      .load()
      .as(org.apache.spark.sql.Encoders.product[graft.k8s.WatchedService])
    val deduped = graft.streaming.StreamPipeline
      .dedupServicesWatchedTagged(src).select("service.*")
    val q = deduped.writeStream.format("memory").queryName("k8ssvc")
      .outputMode("append").start()
    try {
      assert(awaitTrue(30000) {
        q.processAllAvailable()
        spark.table("k8ssvc").count() >= 2L
      }, "both versions should land before the stale check")
      srv.put(9, serviceJson(9, "s2", "db")) // new service arrives via watch/resync
      assert(awaitTrue(30000) {
        q.processAllAvailable()
        spark.table("k8ssvc").count() == 3L
      })
      val rows = spark.table("k8ssvc")
        .select("uid", "resource_version", "name")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
        .sortBy(r => (r._1, r._2))
      // D2 passed rv 3 then 7 for s1 (strictly newer), and s2's 9.
      assert(rows.toSeq == Seq(("s1", "3", "web"), ("s1", "7", "web"),
        ("s2", "9", "db")), rows.mkString(","))
      val sel = spark.table("k8ssvc").select("selector")
        .collect().head.getAs[Map[String, String]](0)
      assert(sel == Map("app" -> "web"))
    } finally { q.stop(); srv.stop() }
  }

  test("service source admission control: maxEventsPerTrigger caps each " +
    "micro-batch; every update still lands exactly once") {
    val srv = new StubApiServer("/api/v1/services", watchType = "MODIFIED")
    for (i <- 1 to 6) srv.put(i.toLong, serviceJson(i.toLong, s"s$i", s"svc$i"))
    val q = spark.readStream
      .format("graft.sources.k8s.K8sServiceSource")
      .option("endpoint", srv.url)
      .option("maxEventsPerTrigger", "2")
      .load()
      .writeStream.format("memory").queryName("svccapped")
      .start()
    try {
      assert(awaitTrue(30000) {
        q.processAllAvailable()
        spark.table("svccapped").count() == 6L
      }, "all 6 service updates should land across capped batches")
      val batchRows = q.recentProgress.toSeq.map(_.numInputRows)
      assert(batchRows.forall(_ <= 2),
        s"a batch exceeded maxEventsPerTrigger=2: ${batchRows.mkString(",")}")
      assert(batchRows.count(_ > 0) >= 3,
        s"expected >=3 non-empty batches, got ${batchRows.mkString(",")}")
      val uids = spark.table("svccapped").select("uid")
        .collect().map(_.getString(0)).sorted.toSeq
      assert(uids == (1 to 6).map(i => s"s$i").sorted)
    } finally { q.stop(); srv.stop() }
  }
}
