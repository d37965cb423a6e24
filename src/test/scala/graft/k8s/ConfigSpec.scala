package graft.k8s

import org.scalatest.funsuite.AnyFunSuite

/** The `--config file.json` entry path (reference main.go:33-51,
  * io/config.go:53-68): file shape, defaults, and the validator's
  * required-field gates — including the collected-errors divergence
  * (the reference surfaces one violation per run; we surface all). */
class ConfigSpec extends AnyFunSuite {

  test("full reference-shaped file parses with every key mapped") {
    val c = GraftConfig.parse(
      """{
        |  "config": {
        |    "debug": true, "uid": "prod-1", "sink": "s3",
        |    "batch_size": 500, "batch_interval": 10,
        |    "heartbeat_hook": "http://l/h", "heartbeat_interval": 5,
        |    "heartbeat_timeout_ms": 250
        |  },
        |  "kubeconfig": "/etc/kc", "resync_interval": 60,
        |  "namespaces": ["prod", "infra"], "events": ["Scheduled"],
        |  "prefix": "ev", "aws_region": "r1", "aws_bucket": "b1",
        |  "aws_profile": "p1"
        |}""".stripMargin)
    assert(c.uid == "prod-1" && c.sink == "s3" && c.debug)
    assert(c.batchSize == 500 && c.batchIntervalSec == 10)
    assert(c.heartbeatHook == "http://l/h" && c.heartbeatIntervalSec == 5
      && c.heartbeatTimeoutMs == 250)
    assert(c.kubeconfig == "/etc/kc" && c.resyncIntervalSec == 60)
    assert(c.namespaces == Seq("prod", "infra") && c.events == Seq("Scheduled"))
    assert(c.s3Prefix == "ev" && c.s3Region == "r1" && c.s3Bucket == "b1"
      && c.s3Profile == "p1")
    assert(c.gzip, "the s3 sink gzips by default (io/flush_s3.go:57-60)")
    assert(c.fileSinkDir == "s3a://b1/ev")
  }

  test("minimal file-sink config takes every documented default") {
    val c = GraftConfig.parse(
      """{"config": {"uid": "u", "sink": "file"}, "file_sink_dir": "/tmp/x"}""")
    assert(c.batchSize == 10000 && c.batchIntervalSec == 30)
    assert(c.resyncIntervalSec == 120, "DEFAULT_RESYNC_INTERVAL (config.go:8)")
    assert(c.heartbeatIntervalSec == 30 && c.heartbeatTimeoutMs == 300,
      "heartbeat defaults (io/heartbeat.go:12-15)")
    assert(!c.gzip, "the file sink does not gzip")
    assert(c.namespaces.isEmpty && c.events.isEmpty && c.heartbeatHook.isEmpty)
  }

  test("zero-valued intervals mean unset and take defaults (setDefaults)") {
    val c = GraftConfig.parse(
      """{"config": {"uid": "u", "sink": "memory", "heartbeat_interval": 0,
        |  "heartbeat_timeout_ms": 0}, "resync_interval": 0}""".stripMargin)
    assert(c.resyncIntervalSec == 120 && c.heartbeatIntervalSec == 30
      && c.heartbeatTimeoutMs == 300)
  }

  test("missing uid AND sink are both reported in one pass") {
    val e = intercept[GraftConfigException] {
      GraftConfig.parse("""{"config": {}}""")
    }
    assert(e.errors.exists(_.contains("uid")))
    assert(e.errors.exists(_.contains("sink")))
  }

  test("unknown sink is a clean validation error, not a crash") {
    // the reference nil-panics here (io/flush.go:13-26); we collect
    val e = intercept[GraftConfigException] {
      GraftConfig.parse("""{"config": {"uid": "u", "sink": "kafka"}}""")
    }
    assert(e.errors.exists(_.contains("kafka")))
  }

  test("file sink requires file_sink_dir; s3 requires the four aws keys") {
    val ef = intercept[GraftConfigException] {
      GraftConfig.parse("""{"config": {"uid": "u", "sink": "file"}}""")
    }
    assert(ef.errors.exists(_.contains("file_sink_dir")))
    val es = intercept[GraftConfigException] {
      GraftConfig.parse("""{"config": {"uid": "u", "sink": "s3"}}""")
    }
    for (k <- Seq("prefix", "aws_region", "aws_bucket", "aws_profile"))
      assert(es.errors.exists(_.contains(k)), s"missing-$k must be reported")
  }

  test("malformed JSON and non-object roots fail with a parse error") {
    intercept[GraftConfigException] { GraftConfig.parse("{nope") }
    intercept[GraftConfigException] { GraftConfig.parse("[1,2]") }
  }

  test("load() round-trips through a real file") {
    val p = java.nio.file.Files.createTempFile("graft-conf", ".json")
    java.nio.file.Files.write(p,
      """{"config": {"uid": "from-file", "sink": "memory"}}"""
        .getBytes("UTF-8"))
    try assert(GraftConfig.load(p.toString).uid == "from-file")
    finally java.nio.file.Files.delete(p)
  }

  test("programmatic configs run the same validation gate") {
    assert(GraftConfig.validate(GraftConfig(uid = "u")).isEmpty)
    val errs = GraftConfig.validate(
      GraftConfig(uid = "", sink = "file", fileSinkDir = "", batchSize = -1))
    assert(errs.size == 3, s"uid + dir + batch_size, got: $errs")
  }

  // ------------------------- kubeconfig resolution (the live entry) --

  test("kubeconfig: the kubectl-written YAML shape resolves server, token " +
    "and namespace for the current context") {
    import graft.sources.k8s.Kubeconfig
    val kc = Kubeconfig.parse(
      """apiVersion: v1
        |clusters:
        |- cluster:
        |    certificate-authority-data: Zm9v
        |    server: https://other.example:6443
        |  name: other
        |- cluster:
        |    server: https://api.example:6443
        |  name: prod
        |contexts:
        |- context:
        |    cluster: prod
        |    namespace: payments
        |    user: bot
        |  name: prod-ctx
        |- context:
        |    cluster: other
        |    user: nobody
        |  name: other-ctx
        |current-context: prod-ctx
        |kind: Config
        |users:
        |- name: nobody
        |  user: {}
        |- name: bot
        |  user:
        |    token: "sekret-token"
        |""".stripMargin)
    assert(kc.server == "https://api.example:6443")
    assert(kc.token.contains("sekret-token"))
    assert(kc.namespace.contains("payments"))
  }

  test("kubeconfig: JSON form and tokenFile indirection both resolve; " +
    "unsupported YAML fails loudly") {
    import graft.sources.k8s.Kubeconfig
    val tf = java.nio.file.Files.createTempFile("kc-token", ".txt")
    java.nio.file.Files.write(tf, "file-token\n".getBytes("UTF-8"))
    val kc = Kubeconfig.parse(
      s"""{"clusters": [{"name": "c", "cluster": {"server": "https://j:6443"}}],
         | "contexts": [{"name": "x", "context": {"cluster": "c", "user": "u"}}],
         | "current-context": "x",
         | "users": [{"name": "u", "user": {"tokenFile": "$tf"}}]}""".stripMargin)
    assert(kc.server == "https://j:6443")
    assert(kc.token.contains("file-token"))
    assert(kc.namespace.isEmpty)
    // anchors / flow collections are rejected, not silently mis-parsed
    intercept[IllegalArgumentException] {
      Kubeconfig.parse("clusters: &a\n- cluster:\n    server: *a\n")
    }
    // no cluster.server for the selected context is an error
    intercept[IllegalArgumentException] {
      Kubeconfig.parse("current-context: x\ncontexts:\n- context:\n    cluster: c\n  name: x\n")
    }
  }

  test("kubeconfig: in-cluster convention reads env + mounted token file") {
    import graft.sources.k8s.Kubeconfig
    val tf = java.nio.file.Files.createTempFile("sa-token", ".txt")
    java.nio.file.Files.write(tf, "sa-tok".getBytes("UTF-8"))
    val kc = Kubeconfig.inCluster(
      env = Map("KUBERNETES_SERVICE_HOST" -> "10.0.0.1",
        "KUBERNETES_SERVICE_PORT" -> "6443"),
      tokenPath = tf.toString)
    assert(kc.server == "https://10.0.0.1:6443")
    assert(kc.token.contains("sa-tok"))
    intercept[IllegalStateException] { Kubeconfig.inCluster(env = Map.empty) }
  }
}
