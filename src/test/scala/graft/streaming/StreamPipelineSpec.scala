package graft.streaming

import graft.SparkSpec
import graft.k8s._
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Incremental streaming behavior that final-state equivalence can't see
  * (SURVEY.md §5.2 item 4): per-micro-batch dedup, versioned state (D2),
  * watermark late-data drop. */
class StreamPipelineSpec extends SparkSpec {
  import spark.implicits._
  implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
  implicit val sp: org.apache.spark.sql.SparkSession = spark

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("D1 streaming: duplicate uid across micro-batches emits once") {
    val in = MemoryStream[(String, Timestamp)]
    val df = in.toDF().toDF("uid", "creationTimestamp")
    val q = StreamPipeline.dedupStream(df, "1 hour")
      .writeStream.format("memory").queryName("d1out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(("a", ts("2024-01-01 10:00:00")), ("b", ts("2024-01-01 10:01:00")))
      q.processAllAvailable()
      in.addData(("a", ts("2024-01-01 10:02:00")), ("c", ts("2024-01-01 10:03:00")))
      q.processAllAvailable()
      val got = spark.table("d1out").select("uid").as[String].collect().sorted
      assert(got.toSeq == Seq("a", "b", "c"))
    } finally q.stop()
  }

  test("D2 streaming: only strictly newer resourceVersions pass (numeric)") {
    // The service side's one gate, fed bare services (empty watch type) as
    // the replay path feeds it: only strictly newer versions pass, an
    // out-of-order batch emits its ascending prefix, tags come from state.
    val in = MemoryStream[WatchedService]
    val out = StreamPipeline.dedupServicesWatchedTagged(in.toDS())
      .select(col("service.resource_version"), col("tag"))
    val q = out.writeStream.format("memory").queryName("d2out")
      .outputMode(OutputMode.Append).start()
    def svc(v: String) = WatchedService("s1", v, "svc", "default", Map(), Map(), Map(), "")
    try {
      in.addData(svc("2"))
      q.processAllAvailable()
      in.addData(svc("1"))           // stale → dropped
      q.processAllAvailable()
      in.addData(svc("10"), svc("4")) // out of order in one batch: ascending
      q.processAllAvailable()         // prefix → 4 then 10 ("10" < "2" lexically!)
      in.addData(svc("10"))          // equal → dropped
      q.processAllAvailable()
      val got = spark.table("d2out").as[(String, String)].collect()
      assert(got.toSeq == Seq("2" -> "addedService", "4" -> "updatedService",
        "10" -> "updatedService"))
    } finally q.stop()
  }

  test("watermark: late data beyond the delay is dropped from window aggs") {
    val in = MemoryStream[(String, Timestamp)]
    val df = in.toDF().toDF("k", "ts")
    val agg = df.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("n"))
    val q = agg.writeStream.format("memory").queryName("wmout")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData(("a", ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      // advance watermark far past the 10:00 window
      in.addData(("b", ts("2024-01-01 12:00:00")))
      q.processAllAvailable()
      // late arrival for the 10:00 window — watermark is 11:50, dropped
      in.addData(("late", ts("2024-01-01 10:06:00")))
      q.processAllAvailable()
      val rows = spark.table("wmout")
        .groupBy("ws").agg(max("n").as("n"))
        .as[(Timestamp, Long)].collect().toMap
      assert(rows(ts("2024-01-01 10:00:00")) == 1)  // late row NOT counted
    } finally q.stop()
  }

  test("streaming session windows: merged sessions emit once the watermark passes") {
    val in = MemoryStream[(Long, Timestamp)]
    val agg = in.toDF().toDF("user_id", "ts")
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("session_window.start").as("ws"), col("n"))
    val q = agg.writeStream.format("memory").queryName("sessout")
      .outputMode(OutputMode.Append).start()
    try {
      // session A: two events 10 min apart (merge); then a far-future
      // event pushes the watermark past A's end → A emits
      in.addData((1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 10:10:00")))
      q.processAllAvailable()
      in.addData((1L, ts("2024-01-01 14:00:00")))
      q.processAllAvailable()
      val rows = spark.table("sessout")
        .as[(Long, Timestamp, Long)].collect()
      assert(rows.toSeq == Seq((1L, ts("2024-01-01 10:00:00"), 2L)))
    } finally q.stop()
  }

  test("full pipeline: filter → dedup → enrich → project → NDJSON sink") {
    val tmp = java.nio.file.Files.createTempDirectory("pipe").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString
    val in = MemoryStream[KubeEvent]
    val objects = Seq(KubeObject("o1", "Pod", "default", "w",
      Map("app" -> "w"), Map(),
      """{"uid":"o1","name":"w","namespace":"default","start_time":"2024-01-01T09:00:00","ip":"1.2.3.4","host_ip":"5.6.7.8"}""")).toDF()
    val nodes = Seq(KubeNode("n1", Seq("5.6.7.8"))).toDF()
    val conf = GraftConfig(uid = "pipe", batchSize = 2, fileSinkDir = tmp)
    val q = StreamPipeline.run(in.toDF(), objects, nodes, conf, ckpt, triggerMs = Some(100))
    def ev(uid: String, ns: String) = KubeEvent(uid, ts("2024-01-01 10:00:00"),
      uid, ns, "Scheduled", s"m-$uid", "Normal", Some(1),
      ObjectRef("v1", "Pod", "w", ns, "1", "o1"), EventSource("kubelet", "n1"))
    try {
      in.addData(ev("a", "default"), ev("b", "default"), ev("c", "kube-system"))
      q.processAllAvailable()
    } finally q.stop()
    val written = spark.read.json(s"$tmp/pipe_*")
    assert(written.count() == 2)  // c filtered out
    val cols = written.columns.toSet
    assert(Set("id", "timestamp", "labels", "address", "pod", "version").subsetOf(cols))
    val a = written.filter(col("id") === "a")
      .select("labels.app", "address", "version").collect().head
    assert(a.getString(0) == "w")
    assert(a.getSeq[String](1) == Seq("5.6.7.8"))
    assert(a.getString(2) == L9Event.Version)
    // K1/K2 contract: the sink files carry the reference's .log
    // extension, not the text sink's .txt default.
    val names = new java.io.File(tmp).listFiles().flatMap(d =>
      Option(d.listFiles()).getOrElse(Array.empty)).map(_.getName)
    assert(names.exists(n => n.startsWith("part-") && n.endsWith(".log")),
      s"expected part-*.log files, got ${names.mkString(",")}")
  }

  test("event query builds its dimensions once: over three micro-batches " +
    "the objects source runs once, the records equal the batch form, and " +
    "stop() leaves no cached dimension") {
    val ckpt = java.nio.file.Files.createTempDirectory("ckptd").toString
    val in = MemoryStream[KubeEvent]
    val objRows = Seq(
      KubeObject("o1", "Pod", "default", "w", Map("app" -> "w"), Map("team" -> "core"),
        """{"uid":"o1","name":"w","namespace":"default","start_time":"2024-01-01T09:00:00","ip":"1.2.3.4","host_ip":"5.6.7.8"}"""),
      KubeObject("o2", "Deployment", "default", "d", Map("app" -> "d"), Map(), null))
    val reads = spark.sparkContext.longAccumulator("objectRowsRead")
    val objects = spark.sparkContext.parallelize(objRows, 1)
      .map { o => reads.add(1); o }.toDF()
    val nodes = Seq(KubeNode("n1", Seq("5.6.7.8"))).toDF()
    val conf = GraftConfig(uid = "dims", sink = "memory", batchSize = 10)
    graft.sinks.MemoryBatchSink.clear("dims")
    def ev(uid: String, obj: String, host: String) = KubeEvent(uid,
      ts("2024-01-01 10:00:00"), uid, "default", "Scheduled", s"m-$uid", "Normal",
      Some(1), ObjectRef("v1", "Pod", "w", "default", "1", obj), EventSource("kubelet", host))
    val batches = Seq(
      Seq(ev("a", "o1", "n1"), ev("b", "o2", "n1")),
      Seq(ev("c", "o1", ""), ev("d", "missing", "n1")),
      Seq(ev("e", "o2", "n2"), ev("f", "o1", "n1")))
    def flush(): Unit = org.apache.spark.graft.ListenerBusFlush.drain(spark.sparkContext, 30000L)
    flush()
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val q = StreamPipeline.run(in.toDF(), objects, nodes, conf, ckpt, triggerMs = Some(100))
    try {
      assert(spark.sparkContext.getPersistentRDDs.size == persistedBefore.size + 2)
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) == 3)
    assert(reads.value == objRows.size, s"objects source rows read: ${reads.value}")
    flush()
    assert(spark.sparkContext.getPersistentRDDs.keySet == persistedBefore,
      "a dimension is still cached after stop()")
    val landed = graft.sinks.MemoryBatchSink.batches("dims").flatMap(_._2).flatten.sorted
    val l9 = EventPipeline.events(batches.flatten.toDF(), objRows.toDF(), nodes,
      conf).toDF()
    val expected = l9.select(to_json(struct(l9.columns.map(col): _*)))
      .as[String].collect().sorted.toSeq
    assert(landed == expected)
    assert(landed.count(_.contains("\"info\"")) == 3) // a, c and f carry o1's pod map
  }

  test("replay law: an uncommitted micro-batch re-run under the same " +
    "batch id overwrites its own files, so every record lands once") {
    val tmp = java.nio.file.Files.createTempDirectory("replay").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ckptr").toString
    val in = MemoryStream[KubeEvent]
    val objects = Seq.empty[KubeObject].toDF()
    val nodes = Seq.empty[KubeNode].toDF()
    val conf = GraftConfig(uid = "rp", batchSize = 2, fileSinkDir = tmp)
    def ev(uid: String) = KubeEvent(uid, ts("2024-01-01 10:00:00"),
      uid, "default", "Scheduled", s"m-$uid", "Normal", Some(1),
      ObjectRef("v1", "Pod", "w", "default", "1", "o1"), EventSource("kubelet", "n1"))
    def start() = StreamPipeline.run(in.toDF(), objects, nodes, conf, ckpt,
      triggerMs = Some(100))
    val q1 = start()
    try {
      in.addData(ev("a"), ev("b"))
      q1.processAllAvailable()
      in.addData(ev("c"), ev("d"), ev("e"))
      q1.processAllAvailable()
    } finally q1.stop()
    // Forget the last commit: the restarted query re-runs that batch
    // under the same id, as after a crash between sink write and commit.
    val commits = new java.io.File(s"$ckpt/commits")
    val last = commits.listFiles().map(_.getName).filter(_.forall(_.isDigit))
      .map(_.toLong).max
    assert(new java.io.File(commits, last.toString).delete())
    new java.io.File(commits, s".$last.crc").delete()
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(new java.io.File(commits, last.toString).exists(), "batch not replayed")
    val ids = spark.read.json(s"$tmp/rp_*").select("id").as[String].collect().sorted
    assert(ids.toSeq == Seq("a", "b", "c", "d", "e"), s"each record once: ${ids.toSeq}")
    // the replayed batch's directory holds one batch's files: ceil(3/2)
    val parts = new java.io.File(tmp, s"rp_$last").listFiles().map(_.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".log"))
    assert(parts.length == 2, parts.mkString(","))
  }

  test("event query runs no no-data batches: expired keys leave state " +
    "with the next data batch, every id lands once, the session keeps its setting") {
    val tmp = java.nio.file.Files.createTempDirectory("nodata").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ckptn").toString
    val in = MemoryStream[KubeEvent]
    val conf = GraftConfig(uid = "nd", batchSize = 2, fileSinkDir = tmp, gzip = true,
      dedupTtlSec = 60)
    def ev(uid: String, at: String) = KubeEvent(uid, ts(s"2024-01-01 $at"),
      uid, "default", "Scheduled", s"m-$uid", "Normal", Some(1),
      ObjectRef("v1", "Pod", "w", "default", "1", "o1"), EventSource("kubelet", "n1"))
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val before = spark.conf.getOption(key)
    val q = StreamPipeline.run(in.toDF(), Seq.empty[KubeObject].toDF(),
      Seq.empty[KubeNode].toDF(), conf, ckpt, triggerMs = Some(100))
    assert(spark.conf.getOption(key) == before)
    try {
      in.addData(ev("a", "10:00:00"), ev("b", "10:00:00"), ev("c", "10:00:00"))
      q.processAllAvailable()
      in.addData(ev("d", "10:10:00")) // moves the watermark past a, b, c
      q.processAllAvailable()
      in.addData(ev("e", "10:10:01"), ev("a", "10:00:00")) // a: same-timestamp re-delivery
      q.processAllAvailable()
    } finally q.stop()
    val ran = q.recentProgress.filter(_.durationMs.containsKey("addBatch")).toSeq
    assert(ran.map(_.numInputRows) == Seq(3L, 1L, 2L), ran.map(_.numInputRows))
    // a, b and c expire at 10:01; the third batch's watermark is 10:09.
    assert(ran.map(_.stateOperators.map(_.numRowsTotal).sum) == Seq(3L, 4L, 2L))
    val ids = spark.read.json(s"$tmp/nd_*").select("id").as[String].collect().sorted
    assert(ids.toSeq == Seq("a", "b", "c", "d", "e"))

    // A windowed append query started later in the same session still
    // runs the no-data batch that closes its window.
    val win = MemoryStream[(Long, Timestamp)]
    val wq = win.toDF().toDF("k", "t").withWatermark("t", "1 minute")
      .groupBy(window(col("t"), "5 minutes")).count()
      .writeStream.format("memory").queryName("ndwin").outputMode(OutputMode.Append).start()
    try {
      win.addData((1L, ts("2024-01-01 10:00:00")))
      wq.processAllAvailable()
      win.addData((1L, ts("2024-01-01 10:30:00")))
      wq.processAllAvailable()
      assert(spark.table("ndwin").count() == 1, "closing window not emitted")
    } finally wq.stop()
  }

  test("service-side pipeline (runServices): versioned gate tags " +
    "added/updated lifecycle, P4 projection lands L9 service events") {
    val ckpt = java.nio.file.Files.createTempDirectory("ckpts").toString
    val in = MemoryStream[KubeService]
    val pods = Seq(KubePod("p1", "web-0", "default", Map("app" -> "web"),
      ts("2024-01-01 09:00:00"), "1.2.3.4", "5.6.7.8")).toDF()
    val conf = GraftConfig(uid = "svcuid", sink = "memory", batchSize = 10)
    graft.sinks.MemoryBatchSink.clear("svcuid")
    def svc(rv: String) = KubeService("s1", rv, "web", "default",
      Map("app" -> "web"), Map(), Map("app" -> "web"))
    val q = StreamPipeline.runServices(in.toDS(), pods, conf, ckpt,
      triggerMs = Some(100))
    try {
      in.addData(svc("2"))
      q.processAllAvailable() // first sight of s1 → addedService
      in.addData(svc("1"), svc("7")) // stale dropped; newer → updated
      q.processAllAvailable()
    } finally q.stop()
    val lines = graft.sinks.MemoryBatchSink.batches("svcuid")
      .flatMap(_._2).flatten
    assert(lines.size == 2, s"added + updated expected, got $lines")
    assert(lines.exists(l => l.contains("\"id\":\"s1-2\"") &&
      l.contains("\"reason\":\"addedService\"")), lines.mkString("\n"))
    assert(lines.exists(l => l.contains("\"id\":\"s1-7\"") &&
      l.contains("\"reason\":\"updatedService\"")), lines.mkString("\n"))
    // the selector-matched pod map rides in the P4 projection
    assert(lines.forall(_.contains("\"web-0\"")), "pod map missing")
  }

  test("runServices: the add and two updates of one uid in ONE micro-batch " +
    "each land with their own version's pod map") {
    val ckpt = java.nio.file.Files.createTempDirectory("ckptm").toString
    val in = MemoryStream[KubeService]
    val pods = Seq(
      KubePod("p1", "web-0", "default", Map("app" -> "web"),
        ts("2024-01-01 09:00:00"), "1.2.3.4", "5.6.7.8"),
      KubePod("p2", "web-fe", "default", Map("app" -> "web", "tier" -> "fe"),
        ts("2024-01-01 09:00:00"), "1.2.3.5", "5.6.7.8")).toDF()
    val conf = GraftConfig(uid = "svcmerge", sink = "memory", batchSize = 10)
    graft.sinks.MemoryBatchSink.clear("svcmerge")
    def svc(rv: String, sel: Map[String, String]) =
      KubeService("s1", rv, "web", "default", Map(), Map(), sel)
    val q = StreamPipeline.runServices(in.toDS(), pods, conf, ckpt,
      triggerMs = Some(100))
    try {
      in.addData(svc("3", Map("app" -> "web")),
        svc("4", Map("app" -> "web", "tier" -> "fe")),
        svc("5", Map("app" -> "web")))
      q.processAllAvailable()
    } finally q.stop()
    val lines = graft.sinks.MemoryBatchSink.batches("svcmerge")
      .flatMap(_._2).flatten
    val recs = lines.toDF("value")
      .select(from_json(col("value"),
        lit("id STRING, reason STRING, pod MAP<STRING, STRING>")).as("r"))
      .select(col("r.id"), col("r.reason"), map_keys(col("r.pod")))
      .as[(String, String, Seq[String])].collect()
      .map(r => r._1 -> (r._2, r._3.sorted)).toMap
    assert(recs == Map(
      "s1-3" -> ("addedService", Seq("web-0", "web-fe")),
      "s1-4" -> ("updatedService", Seq("web-fe")),
      "s1-5" -> ("updatedService", Seq("web-0", "web-fe"))), lines.mkString("\n"))
  }

  test("live service pipeline (runServicesWatched): a DELETED watch line " +
    "yields exactly one deletedService L9 record; re-add after delete " +
    "tags as addedService again") {
    val ckpt = java.nio.file.Files.createTempDirectory("ckptw").toString
    val in = MemoryStream[WatchedService]
    val pods = Seq(KubePod("p1", "web-0", "default", Map("app" -> "web"),
      ts("2024-01-01 09:00:00"), "1.2.3.4", "5.6.7.8")).toDF()
    val conf = GraftConfig(uid = "wsvcuid", sink = "memory", batchSize = 10)
    graft.sinks.MemoryBatchSink.clear("wsvcuid")
    def svc(rv: String, watchType: String) = WatchedService("s1", rv, "web",
      "default", Map("app" -> "web"), Map(), Map("app" -> "web"), watchType)
    val q = StreamPipeline.runServicesWatched(in.toDS(), pods, conf, ckpt,
      triggerMs = Some(100))
    try {
      in.addData(svc("2", "ADDED"))
      q.processAllAvailable()
      in.addData(svc("5", "MODIFIED"), svc("5", "MODIFIED")) // dup rv dropped
      q.processAllAvailable()
      in.addData(svc("9", "DELETED"), svc("9", "DELETED")) // gate: emit ONCE
      q.processAllAvailable()
      // OnDelete dropped the state: the recreated service is an add again
      in.addData(svc("12", "ADDED"))
      q.processAllAvailable()
    } finally q.stop()
    val lines = graft.sinks.MemoryBatchSink.batches("wsvcuid")
      .flatMap(_._2).flatten
    def reasons(r: String) = lines.count(_.contains(s""""reason":"$r""""))
    assert(lines.size == 4, s"add/update/delete/re-add expected, got $lines")
    assert(reasons("deletedService") == 1, lines.mkString("\n"))
    assert(reasons("addedService") == 2, lines.mkString("\n"))
    assert(reasons("updatedService") == 1, lines.mkString("\n"))
    assert(lines.exists(l => l.contains("\"id\":\"s1-9\"") &&
      l.contains("\"reason\":\"deletedService\"")), lines.mkString("\n"))
  }

  test("runFromConfig: JSON config file drives the full pipeline end-to-end") {
    val ckpt = java.nio.file.Files.createTempDirectory("ckptc").toString
    val cfg = java.nio.file.Files.createTempFile("graft", ".json")
    java.nio.file.Files.write(cfg,
      """{"config": {"uid": "cfguid", "sink": "memory", "batch_size": 2,
        |  "batch_interval": 30}, "namespaces": ["default"]}"""
        .stripMargin.getBytes("UTF-8"))
    val in = MemoryStream[KubeEvent]
    val objects = Seq(KubeObject("o1", "Pod", "default", "w",
      Map("app" -> "w"), Map(), "{}")).toDF()
    val nodes = Seq(KubeNode("n1", Seq("5.6.7.8"))).toDF()
    graft.sinks.MemoryBatchSink.clear("cfguid")
    val q = StreamPipeline.runFromConfig(cfg.toString, in.toDF(), objects,
      nodes, ckpt, triggerMs = Some(100))
    def ev(uid: String, ns: String) = KubeEvent(uid, ts("2024-01-01 10:00:00"),
      uid, ns, "Scheduled", s"m-$uid", "Normal", Some(1),
      ObjectRef("v1", "Pod", "w", ns, "1", "o1"), EventSource("kubelet", "n1"))
    try {
      // the config's namespace whitelist must reach the filter
      in.addData(ev("a", "default"), ev("b", "other"))
      q.processAllAvailable()
    } finally q.stop()
    val lines = graft.sinks.MemoryBatchSink.batches("cfguid").flatMap(_._2).flatten
    assert(lines.size == 1, s"whitelist should pass only ns=default, got $lines")
    assert(lines.head.contains("\"id\":\"a\""))
    // an invalid file surfaces the collected validation errors
    java.nio.file.Files.write(cfg, """{"config": {"sink": "nope"}}""".getBytes("UTF-8"))
    val e = intercept[GraftConfigException] {
      StreamPipeline.runFromConfig(cfg.toString, in.toDF(), objects, nodes, ckpt)
    }
    assert(e.errors.size == 2) // missing uid + unknown sink
  }

  test("sink=memory dispatches batches to the driver-held memory sink (K3)") {
    val ckpt = java.nio.file.Files.createTempDirectory("ckptm").toString
    val in = MemoryStream[KubeEvent]
    val objects = Seq(KubeObject("o1", "Pod", "default", "w",
      Map("app" -> "w"), Map(), "{}")).toDF()
    val nodes = Seq(KubeNode("n1", Seq("5.6.7.8"))).toDF()
    val conf = GraftConfig(uid = "memuid", sink = "memory", batchSize = 2)
    graft.sinks.MemoryBatchSink.clear("memuid")
    val q = StreamPipeline.run(in.toDF(), objects, nodes, conf, ckpt, triggerMs = Some(100))
    def ev(uid: String) = KubeEvent(uid, ts("2024-01-01 10:00:00"),
      uid, "default", "Scheduled", s"m-$uid", "Normal", Some(1),
      ObjectRef("v1", "Pod", "w", "default", "1", "o1"), EventSource("kubelet", "n1"))
    try {
      in.addData(ev("a"), ev("b"), ev("c"))
      q.processAllAvailable()
    } finally q.stop()
    val got = graft.sinks.MemoryBatchSink.batches("memuid")
    val lines = got.flatMap(_._2).flatten
    assert(lines.size == 3, s"expected 3 NDJSON lines, got ${lines.size}")
    // W1 count cap applies to the memory sink's chunks too.
    assert(got.flatMap(_._2).forall(_.size <= 2))
    assert(lines.forall(_.contains("\"version\":\"" + L9Event.Version + "\"")))
  }

  test("checkpoint restart: dedup state survives stop/start (X1 recovery, no re-emit)") {
    // File source + file sink: both are checkpoint-recoverable (the
    // memory sink is not), so this exercises the real X1 story — state
    // AND source progress recovered, duplicate seen after restart
    // suppressed by the recovered dedup store.
    val srcDir = java.nio.file.Files.createTempDirectory("rsrc").toString
    val outDir = java.nio.file.Files.createTempDirectory("rout").toString
    val ckpt = java.nio.file.Files.createTempDirectory("rckpt").toString
    def writeBatch(tag: String, rows: Seq[(String, String)]): Unit = {
      val lines = rows.map { case (u, t) => s"""{"uid":"$u","creationTimestamp":"$t"}""" }
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$srcDir/$tag.json"),
        lines.mkString("\n").getBytes("UTF-8"))
    }
    def startQuery() = {
      val src = spark.readStream
        .schema("uid STRING, creationTimestamp TIMESTAMP").json(srcDir)
      StreamPipeline.dedupStream(src, "1 hour")
        .writeStream.format("json").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append).start()
    }
    writeBatch("b1", Seq("a" -> "2024-01-01T10:00:00", "b" -> "2024-01-01T10:01:00"))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    // Restart from the same checkpoint; the new file replays uid "a".
    writeBatch("b2", Seq("a" -> "2024-01-01T10:02:00", "c" -> "2024-01-01T10:03:00"))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val uids = spark.read
      .schema("uid STRING, creationTimestamp TIMESTAMP").json(outDir)
      .select("uid").as[String].collect().sorted.toSeq
    assert(uids == Seq("a", "b", "c"),
      s"expected the restarted query to suppress the replayed uid: $uids")
  }
}
