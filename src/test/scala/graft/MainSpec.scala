package graft

import graft.k8s.{EventSource, KubeEvent, ObjectRef}
import graft.sources.k8s.FileWatchClient
import java.nio.file.Files

/** The executable entry end-to-end: config file + watch file in, NDJSON
  * records out of the configured sink — the `k8stream --config` run a
  * migrating user performs first. */
class MainSpec extends SparkSpec {

  test("Main.run: config + watch replay lands filtered events in the memory sink") {
    val cfg = Files.createTempFile("graft-main", ".json")
    Files.write(cfg,
      """{"config": {"uid": "mainuid", "sink": "memory", "batch_size": 5,
        |  "batch_interval": 30}, "namespaces": ["default"]}"""
        .stripMargin.getBytes("UTF-8"))
    val watch = Files.createTempDirectory("mainwatch").resolve("w.ndjson")
    def ev(uid: String, ns: String) = KubeEvent(uid,
      java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), uid, ns,
      "Scheduled", s"m-$uid", "Normal", Some(1),
      ObjectRef("v1", "Pod", "p", ns, "1", s"o-$uid"),
      EventSource("kubelet", "n1"))
    Files.write(watch, Seq(
      FileWatchClient.toLine(1, ev("a", "default")),
      FileWatchClient.toLine(2, ev("b", "kube-system")), // filtered out
      FileWatchClient.toLine(3, ev("c", "default"))).mkString("\n").getBytes("UTF-8"))

    graft.sinks.MemoryBatchSink.clear("mainuid")
    val q = Main.run(spark, Map(
      "config" -> cfg.toString,
      "watch" -> watch.toString,
      "checkpoint" -> Files.createTempDirectory("mainck").toString))
    try q.processAllAvailable() finally q.stop()

    val lines = graft.sinks.MemoryBatchSink.batches("mainuid").flatMap(_._2).flatten
    assert(lines.size == 2, s"namespace whitelist should keep a+c, got $lines")
    assert(lines.forall(_.contains("\"version\":\"" + graft.k8s.L9Event.Version + "\"")))
    assert(lines.exists(_.contains("\"id\":\"a\"")) &&
      lines.exists(_.contains("\"id\":\"c\"")))
  }

  test("Main.run: a file-sink config lands count-capped, uncompressed " +
    "part files under <dir>/<uid>_<batchId>") {
    val out = Files.createTempDirectory("mainsink")
    val cfg = Files.createTempFile("graft-main-file", ".json")
    Files.write(cfg,
      s"""{"config": {"uid": "fileuid", "sink": "file", "batch_size": 2,
        |  "batch_interval": 30}, "file_sink_dir": "$out"}"""
        .stripMargin.getBytes("UTF-8"))
    val watch = Files.createTempDirectory("mainwatchf").resolve("w.ndjson")
    def ev(uid: String) = KubeEvent(uid,
      java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), uid, "default",
      "Scheduled", s"m-$uid", "Normal", Some(1),
      ObjectRef("v1", "Pod", "p", "default", "1", s"o-$uid"),
      EventSource("kubelet", "n1"))
    Files.write(watch, Seq("a", "b", "c", "d", "e").zipWithIndex
      .map { case (u, i) => FileWatchClient.toLine(i + 1, ev(u)) }
      .mkString("\n").getBytes("UTF-8"))

    val q = Main.run(spark, Map(
      "config" -> cfg.toString,
      "watch" -> watch.toString,
      "checkpoint" -> Files.createTempDirectory("mainckf").toString))
    try q.processAllAvailable() finally q.stop()

    val files = out.toFile.listFiles().toSeq.flatMap { d =>
      assert(d.getName.matches("fileuid_\\d+"), s"unexpected sink entry ${d.getName}")
      d.listFiles().toSeq.filter(_.getName.startsWith("part-"))
    }
    assert(files.forall(_.getName.endsWith(".log")),
      s"the file sink does not gzip: ${files.map(_.getName)}")
    assert(files.size == 3, s"ceil(5/2) part files expected, got ${files.map(_.getName)}")
    val counts = files.map(f => Files.readAllLines(f.toPath).size)
    assert(counts.forall(_ <= 2) && counts.sum == 5, s"lines per file: $counts")
  }

  test("Main.run: a rerun of the same file-sink config without --checkpoint " +
    "resumes its batch ids and keeps the first run's records") {
    val out = Files.createTempDirectory("mainrerun")
    val cfg = Files.createTempFile("graft-main-rerun", ".json")
    Files.write(cfg,
      s"""{"config": {"uid": "rerunuid", "sink": "file", "batch_size": 10,
        |  "batch_interval": 30}, "file_sink_dir": "$out"}"""
        .stripMargin.getBytes("UTF-8"))
    def ev(uid: String) = KubeEvent(uid,
      java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), uid, "default",
      "Scheduled", s"m-$uid", "Normal", Some(1),
      ObjectRef("v1", "Pod", "p", "default", "1", s"o-$uid"),
      EventSource("kubelet", "n1"))
    // each run watches its own file; resourceVersions continue across them
    def runOnce(uids: Seq[String], firstRv: Int): Unit = {
      val watch = Files.createTempDirectory("mainwatchr").resolve("w.ndjson")
      Files.write(watch, uids.zipWithIndex
        .map { case (u, i) => FileWatchClient.toLine(firstRv + i, ev(u)) }
        .mkString("\n").getBytes("UTF-8"))
      val q = Main.run(spark, Map("config" -> cfg.toString, "watch" -> watch.toString))
      try q.processAllAvailable() finally q.stop()
    }
    runOnce(Seq("a", "b"), 1)
    runOnce(Seq("c", "d"), 3)

    val ids = out.toFile.listFiles().toSeq
      .filter(_.getName.matches("rerunuid_\\d+"))
      .flatMap(_.listFiles().toSeq.filter(_.getName.startsWith("part-")))
      .flatMap(f => Files.readAllLines(f.toPath).toArray.toSeq.map(_.toString))
      .map(l => "\"id\":\"(\\w+)\"".r.findFirstMatchIn(l).get.group(1))
    assert(ids.sorted == Seq("a", "b", "c", "d"),
      s"every record of both runs lands once, got $ids")
    assert(out.resolve("_checkpoints").resolve("rerunuid").toFile.isDirectory,
      "the default checkpoint lives under <file_sink_dir>/_checkpoints/<uid>")
  }

  test("Main.run: missing --config is an argument error; config-only mode " +
    "resolves the live path (missing file / no kubeconfig fail loudly)") {
    intercept[IllegalArgumentException] { Main.run(spark, Map.empty) }
    // config-only is now the live entry: a bad path is a file error
    intercept[java.nio.file.NoSuchFileException] {
      Main.run(spark, Map("config" -> "/tmp/nope.json"))
    }
    // a valid config with no kubeconfig outside a cluster: in-cluster
    // resolution fails loudly (KUBERNETES_SERVICE_HOST unset here)
    val cfg = Files.createTempFile("graft-live-main", ".json")
    Files.write(cfg,
      """{"config": {"uid": "u", "sink": "memory"}}""".getBytes("UTF-8"))
    intercept[IllegalStateException] {
      Main.run(spark, Map("config" -> cfg.toString))
    }
  }
}
