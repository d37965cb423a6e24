package graft.k8s

import graft.SparkSpec
import java.sql.Timestamp

/** Golden tests for the k8stream semantic layer, fixture-driven in the
  * style of the reference's handler_test.go (synthesized fixtures with
  * the same shape as its testdata/events.log — not copied). */
class EventPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def ev(uid: String, ns: String, reason: String, kind: String,
      objUid: String, host: String = "node-1", at: String = "2024-01-01 10:00:00") =
    KubeEvent(uid, ts(at), s"name-$uid", ns, reason, s"msg $uid", "Normal",
      Some(1), ObjectRef("v1", kind, s"obj-$uid", ns, "100", objUid),
      EventSource("kubelet", host))

  private val events = Seq(
    ev("e1", "default", "Scheduled", "Pod", "pod-1"),
    ev("e2", "default", "Pulled", "Pod", "pod-1"),
    ev("e3", "kube-system", "Scheduled", "Pod", "pod-sys"),   // F2 drop
    ev("e4", "prod", "Killing", "Deployment", "dep-1", host = ""),
    ev("e1", "default", "Scheduled", "Pod", "pod-1", at = "2024-01-01 11:00:00"), // D1 dup
    ev("e5", "prod", "Started", "Pod", "pod-unknown"))        // E1 miss

  private val objects = Seq(
    KubeObject("pod-1", "Pod", "default", "web-1",
      Map("app" -> "web"), Map("team" -> "core"),
      """{"uid":"pod-1","name":"web-1","namespace":"default","start_time":"2024-01-01T09:00:00","ip":"10.0.0.5","host_ip":"192.168.0.2"}"""),
    KubeObject("dep-1", "Deployment", "prod", "api", Map("app" -> "api"), Map(), null))

  private val nodes = Seq(KubeNode("node-1", Seq("192.168.0.2", "10.0.0.1")))

  private def run(conf: GraftConfig = GraftConfig(uid = "t"),
      evs: Seq[KubeEvent] = events, objs: Seq[KubeObject] = objects) =
    EventPipeline.events(evs.toDF(), objs.toDF(), nodes.toDF(), conf)
      .collect().map(e => e.id -> e).toMap

  test("F2 static namespace blacklist drops kube-system; D1 dedups by uid") {
    val out = run()
    assert(out.keySet == Set("e1", "e2", "e4", "e5"))
  }

  test("F3/F4 whitelists restrict namespaces and reasons") {
    val nsOnly = run(GraftConfig(uid = "t", namespaces = Seq("prod")))
    assert(nsOnly.keySet == Set("e4", "e5"))
    val reasons = run(GraftConfig(uid = "t", events = Seq("Scheduled")))
    assert(reasons.keySet == Set("e1"))
  }

  test("P1 projection fields match the reference layout (event.go:49-66)") {
    val e1 = run()("e1")
    assert(e1.timestamp == ts("2024-01-01 10:00:00").getTime / 1000)
    assert(e1.component == "kubelet")
    assert(e1.host == "node-1")
    assert(e1.reason == "Scheduled")
    assert(e1.reference_uid == "pod-1" && e1.object_uid == "pod-1")
    assert(e1.reference_kind == "Pod" && e1.reference_version == "v1")
    assert(e1.version == L9Event.Version)
  }

  test("E1 enrichment attaches labels/annotations; P2/P3 build the pod map") {
    val e1 = run()("e1")
    assert(e1.labels == Map("app" -> "web"))
    assert(e1.annotations == Map("team" -> "core"))
    assert(e1.pod.contains("info"))
    assert(e1.pod("info").contains("\"ip\":\"10.0.0.5\""))
    // Deployment object: labels enriched, but no pod map (event.go:80-87)
    val e4 = run()("e4")
    assert(e4.labels == Map("app" -> "api"))
    assert(e4.pod.isEmpty)
    // A Pod whose doc does not decode, and a non-Pod that carries a pod
    // doc: labels enriched, pod map empty.
    val odd = run(
      evs = events ++ Seq(ev("e6", "default", "Failed", "Pod", "pod-bad"),
        ev("e7", "prod", "Scaled", "ReplicaSet", "rs-1")),
      objs = objects ++ Seq(
        KubeObject("pod-bad", "Pod", "default", "bad", Map("app" -> "bad"), Map(),
          "{not json"),
        KubeObject("rs-1", "ReplicaSet", "prod", "rs", Map("app" -> "rs"), Map(),
          objects.head.pod_json)))
    assert(odd("e6").labels == Map("app" -> "bad") && odd("e6").pod.isEmpty, odd("e6").pod)
    assert(odd("e7").labels == Map("app" -> "rs") && odd("e7").pod.isEmpty, odd("e7").pod)
  }

  test("E2 node-address join; empty host and misses yield empty array") {
    val out = run()
    assert(out("e1").address == Seq("192.168.0.2", "10.0.0.1"))
    assert(out("e4").address.isEmpty)  // empty host (k8sclient.go:98-100)
    assert(out("e5").labels.isEmpty && out("e5").annotations.isEmpty)
  }

  test("D1 batch dedup is idempotent and keeps the earliest record") {
    val once = EventPipeline.dedupEvents(events.toDF())
    val twice = EventPipeline.dedupEvents(once)
    assert(once.count() == twice.count())
    val e1 = run()("e1")
    assert(e1.timestamp == ts("2024-01-01 10:00:00").getTime / 1000)
  }

  // ------------------------------------------------------- service side

  private val services = Seq(
    KubeService("svc-1", "10", "web-svc", "default", Map("tier" -> "fe"),
      Map(), Map("app" -> "web")),
    KubeService("svc-2", "7", "db-svc", "default", Map(), Map(),
      Map("app" -> "db", "env" -> "prod")),
    KubeService("svc-3", "1", "none-svc", "default", Map(), Map(), Map()),
    KubeService("svc-sys", "2", "kubernetes", "default", Map(), Map(), Map("x" -> "y")))

  private val pods = Seq(
    KubePod("p1", "web-a", "default", Map("app" -> "web", "extra" -> "1"),
      ts("2024-01-01 08:00:00"), "10.0.0.5", "192.168.0.2"),
    KubePod("p2", "web-b", "default", Map("app" -> "web"),
      ts("2024-01-01 08:05:00"), "10.0.0.6", "192.168.0.2"),
    KubePod("p3", "db-a", "default", Map("app" -> "db", "env" -> "prod", "z" -> "1"),
      ts("2024-01-01 08:10:00"), "10.0.0.7", "192.168.0.3"),
    KubePod("p4", "db-stage", "default", Map("app" -> "db", "env" -> "stage"),
      ts("2024-01-01 08:11:00"), "10.0.0.8", "192.168.0.3"))

  test("E3 selector join: pod labels must contain every selector entry") {
    val m = EventPipeline.servicePods(services.toDF(), pods.toDF())
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(m == Set("svc-1" -> "p1", "svc-1" -> "p2", "svc-2" -> "p3"))
  }

  test("E4 reverse indexes are the two projections of the join product") {
    val sp = EventPipeline.servicePods(services.toDF(), pods.toDF())
    val fwd = EventPipeline.serviceToPods(sp).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(fwd("svc-1") == Seq("p1", "p2"))
    val rev = EventPipeline.podToService(sp).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rev("p3") == "svc-2")
  }

  test("P4 service event: composite id, lifecycle reason, podName→json map") {
    val out = EventPipeline.serviceEvents(services.toDF(), pods.toDF(), "addedService")
      .collect().map(e => e.component -> e).toMap
    // the kubernetes service itself is dropped (handler.go:84-93)
    assert(!out.contains("kubernetes"))
    val web = out("web-svc")
    assert(web.id == "svc-1-10")
    assert(web.reason == "addedService")
    assert(web.reference_kind == "Service" && web.reference_version == "10")
    assert(web.pod.keySet == Set("web-a", "web-b"))
    assert(web.pod("web-a").contains("\"ip\":\"10.0.0.5\""))
    assert(out("none-svc").pod.isEmpty)  // empty selector matches nothing
  }

  test("E3/P4 key on the service row: two versions of one uid in one input " +
    "each get their own selector's pod map") {
    // One micro-batch can carry several versions of a service. s1 narrows
    // its selector from one label to two; s2 repeats a one-label selector.
    val svcs = Seq(
      KubeService("s1", "1", "web-svc", "default", Map(), Map(), Map("app" -> "web")),
      KubeService("s1", "2", "web-svc", "default", Map(), Map(),
        Map("app" -> "web", "tier" -> "fe")),
      KubeService("s2", "7", "db-svc", "default", Map(), Map(), Map("app" -> "db")),
      KubeService("s2", "8", "db-svc", "default", Map(), Map(), Map("app" -> "db")))
    val ps = Seq(
      KubePod("p1", "web-a", "default", Map("app" -> "web"), // one of s1@2's labels
        ts("2024-01-01 08:00:00"), "10.0.0.5", "192.168.0.2"),
      KubePod("p2", "web-fe", "default", Map("app" -> "web", "tier" -> "fe"),
        ts("2024-01-01 08:01:00"), "10.0.0.6", "192.168.0.2"),
      KubePod("p3", "db-a", "default", Map("app" -> "db"),
        ts("2024-01-01 08:02:00"), "10.0.0.7", "192.168.0.3"))
    val m = EventPipeline.servicePods(svcs.toDF(), ps.toDF())
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(m == Set(("s1", "p1", "1"), ("s1", "p2", "1"), ("s1", "p2", "2"),
      ("s2", "p3", "7"), ("s2", "p3", "8")))
    val out = EventPipeline.serviceEvents(svcs.toDF(), ps.toDF(), "updatedService")
      .collect().map(e => e.id -> e.pod.keySet).toMap
    assert(out == Map("s1-1" -> Set("web-a", "web-fe"), "s1-2" -> Set("web-fe"),
      "s2-7" -> Set("db-a"), "s2-8" -> Set("db-a")))
  }

  test("E3 is namespace-scoped: same-labeled pods elsewhere never match") {
    // Reference k8sclient.go:76-81 lists Pods(namespace) with the selector;
    // a same-labeled pod in another namespace (the normal multi-namespace
    // case) must not match, and duplicate pod NAMES across namespaces must
    // not collide in the P4 pod map.
    val svcs = Seq(
      KubeService("svc-d", "1", "web-svc", "default", Map(), Map(), Map("app" -> "web")),
      KubeService("svc-p", "1", "web-svc", "prod", Map(), Map(), Map("app" -> "web")))
    val ps = Seq(
      KubePod("pd", "web-a", "default", Map("app" -> "web"),
        ts("2024-01-01 08:00:00"), "10.0.0.5", "192.168.0.2"),
      KubePod("pp", "web-a", "prod", Map("app" -> "web"),
        ts("2024-01-01 08:01:00"), "10.0.1.5", "192.168.1.2"))
    val m = EventPipeline.servicePods(svcs.toDF(), ps.toDF())
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(m == Set("svc-d" -> "pd", "svc-p" -> "pp"))
    // P4 must not throw on the duplicate "web-a" name (one per service now)
    val out = EventPipeline.serviceEvents(svcs.toDF(), ps.toDF(), "addedService")
      .collect().map(e => e.namespace -> e).toMap
    assert(out("default").pod("web-a").contains("\"ip\":\"10.0.0.5\""))
    assert(out("prod").pod("web-a").contains("\"ip\":\"10.0.1.5\""))
  }

  test("E5 service→deployments: the selector join is object-kind-agnostic") {
    // The reference declared-but-disabled deployments lookup
    // (event_service.go:39-69 dead code, k8sclient.go:62-74); the engine
    // ships it enabled: servicePods only needs (uid, namespace, labels),
    // so a deployment-shaped relation drops straight in.
    val svcs = Seq(
      KubeService("svc-1", "1", "web-svc", "default", Map(), Map(), Map("app" -> "web")))
    val deployments = Seq(
      KubePod("dep-1", "web-deploy", "default", Map("app" -> "web", "tier" -> "fe"),
        ts("2024-01-01 08:00:00"), "", ""),
      KubePod("dep-2", "db-deploy", "default", Map("app" -> "db"),
        ts("2024-01-01 08:00:00"), "", ""),
      KubePod("dep-3", "web-other-ns", "prod", Map("app" -> "web"),
        ts("2024-01-01 08:00:00"), "", ""))
    val m = EventPipeline.servicePods(svcs.toDF(), deployments.toDF())
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(m == Set("svc-1" -> "dep-1"))
  }

  test("D2 batch form keeps the numerically-newest resourceVersion") {
    val versioned = Seq(
      KubeService("s", "9", "svc", "default", Map(), Map(), Map()),
      KubeService("s", "10", "svc", "default", Map(), Map(), Map()))
    val kept = EventPipeline.dedupServicesLatest(versioned.toDF())
      .collect().map(_.getString(1))
    // lexical compare ("9" > "10") would keep "9" — the engine keeps 10
    assert(kept.toSeq == Seq("10"))
  }
}
