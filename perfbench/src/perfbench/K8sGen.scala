package perfbench

import graft.k8s._
import java.sql.Timestamp
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded generators for the two ingest workloads. Each one also keeps
  * its own model of what the pipeline must land, written from the
  * reference semantics, not from the program's code. */
object K8sGen {
  /** 2024-06-01T00:00:00Z: event time starts here. */
  val T0Ms = 1717200000000L
  val SkipNamespaces = Set("kube-system", "kubernetes", "kubernetes-dashboard")

  def uuid(r: SplittableRandom): String = new java.util.UUID(r.nextLong(), r.nextLong()).toString
  def iso(ms: Long): String = java.time.Instant.ofEpochMilli(ms).toString
  def ip(a: Int, i: Int): String = s"10.$a.${(i >> 8) & 255}.${i & 255}"
}

import K8sGen._

/** One involved object of the event stream; `mini` is the expected
  * mini pod-info map for pods (null otherwise). */
final case class Obj(row: KubeObject, node: Int, inTable: Boolean,
    mini: Map[String, String])

/** event_ingest input: dimension tables plus fixed-size event batches.
  * About 10% of each batch re-delivers a uid seen in this or the previous
  * batch with its original timestamp, about 5% of events are in
  * kube-system, involved objects follow a Zipf law, about 70% of them are
  * Pods carrying pod JSON, and event time advances by `stepMs` a batch. */
final class EventGen(seed: Long, val batchEvents: Int, val stepMs: Long) {
  private val r = new SplittableRandom(seed)
  private val sampler = new SplittableRandom(seed ^ 0x5DEECE66DL)

  val namespaces: IndexedSeq[String] = (0 until 24).map(i => s"team-$i")
  val nodes: IndexedSeq[KubeNode] = (0 until 300).map(i =>
    KubeNode(s"node-$i", Seq(ip(0, i + 1), s"node-$i.cluster.local")))

  private val kinds = Seq("Pod" -> 0.70, "ReplicaSet" -> 0.12,
    "Deployment" -> 0.10, "Job" -> 0.04, "StatefulSet" -> 0.04)
  private def kind(): String = {
    var u = r.nextDouble()
    kinds.find { case (_, p) => u -= p; u < 0 }.map(_._1).getOrElse("Pod")
  }

  private def mkObj(i: Int, ns: String): Obj = {
    val k = kind()
    val uid = uuid(r)
    val app = s"app-${r.nextInt(400)}"
    val name = s"$app-${Integer.toHexString(r.nextInt(1 << 20))}-$i"
    val labels = Map("app" -> app, "tier" -> Seq("web", "api", "db", "cache")(r.nextInt(4))) ++
      (if (r.nextBoolean()) Map("team" -> ns) else Map.empty)
    val ann =
      if (r.nextBoolean()) Map("deployment.kubernetes.io/revision" -> r.nextInt(50).toString)
      else Map.empty[String, String]
    val node = r.nextInt(nodes.length)
    val inTable = r.nextDouble() >= 0.05
    if (k == "Pod") {
      val start = iso(T0Ms - 3600000L * (1 + r.nextInt(240)))
      val mini = Map("uid" -> uid, "name" -> name, "namespace" -> ns,
        "start_time" -> start, "ip" -> ip(244, i + 1), "host_ip" -> nodes(node).addresses.head)
      val doc = Json.obj(mini.toSeq.sortBy(_._1).map { case (a, b) => a -> Json.str(b) } ++ Seq(
        "phase" -> Json.str("Running"),
        "containers" -> s"""[{"name":"main","image":"registry.local/$app:1.${r.nextInt(9)}","ports":[8080]},{"name":"sidecar","image":"registry.local/proxy:2.1"}]""",
        "labels" -> Json.obj(labels.toSeq.map { case (a, b) => a -> Json.str(b) })))
      Obj(KubeObject(uid, k, ns, name, labels, ann, doc), node, inTable, mini)
    } else Obj(KubeObject(uid, k, ns, name, labels, ann, null), node, inTable, null)
  }

  val objects: IndexedSeq[Obj] = (0 until 3000).map(i => mkObj(i, namespaces(r.nextInt(namespaces.length))))
  val systemObjects: IndexedSeq[Obj] = (0 until 150).map(i => mkObj(3000 + i, "kube-system"))
  /** The `objects` dimension: about 5% of involved objects are missing,
    * so their events enrich with empty labels and no pod map. */
  def objectRows: Seq[KubeObject] = (objects ++ systemObjects).filter(_.inTable).map(_.row)
  private val byUid: Map[String, Obj] = (objects ++ systemObjects).map(o => o.row.uid -> o).toMap
  def obj(uid: String): Option[Obj] = byUid.get(uid)

  private val zMain = new Zipf(objects.length, 1.05)
  private val zSys = new Zipf(systemObjects.length, 1.05)
  private val reasons = Map(
    "Pod" -> Seq("Scheduled", "Pulling", "Pulled", "Created", "Started", "Killing", "BackOff", "Unhealthy"),
    "ReplicaSet" -> Seq("SuccessfulCreate", "SuccessfulDelete"),
    "Deployment" -> Seq("ScalingReplicaSet"),
    "Job" -> Seq("SuccessfulCreate", "Completed"),
    "StatefulSet" -> Seq("SuccessfulCreate", "RecreatingFailedPod"))

  // ---------------------------------------------------------------- model
  /** Every eligible (not kube-system) distinct uid generated so far. */
  val eligible = mutable.HashSet.empty[String]
  /** A seeded sample of eligible events to check field by field. */
  val sample = mutable.HashMap.empty[String, KubeEvent]
  private var prevFresh: IndexedSeq[KubeEvent] = IndexedSeq.empty

  private def event(base: Long): KubeEvent = {
    val o = if (r.nextDouble() < 0.05) systemObjects(zSys.sample(r)) else objects(zMain.sample(r))
    val k = o.row.kind
    val host =
      if (k == "Pod") { if (r.nextDouble() < 0.97) nodes(o.node).name else s"node-gone-${r.nextInt(20)}" }
      else if (r.nextBoolean()) nodes(r.nextInt(nodes.length)).name else ""
    val rs = reasons(k)
    val reason = rs(r.nextInt(rs.length))
    val ts = new Timestamp(base + r.nextLong(stepMs))
    KubeEvent(uuid(r), ts, s"${o.row.name}.${java.lang.Long.toHexString(r.nextLong() >>> 20)}",
      o.row.namespace, reason, s"$reason $k ${o.row.namespace}/${o.row.name}",
      if (reason == "BackOff" || reason == "Unhealthy") "Warning" else "Normal",
      Some(1), ObjectRef(if (k == "Pod") "v1" else "apps/v1", k, o.row.name,
        o.row.namespace, (100000 + r.nextInt(900000)).toString, o.row.uid),
      EventSource(if (k == "Pod") "kubelet" else s"${k.toLowerCase}-controller", host))
  }

  /** Batch `b` (generate batches in order 0, 1, 2, ...). Returns the
    * events and how many new eligible uids they carry. */
  def batch(b: Int): (Seq[KubeEvent], Int) = {
    val base = T0Ms + b * stepMs
    val nRe = batchEvents / 10
    val fresh = IndexedSeq.fill(batchEvents - nRe)(event(base))
    val pool = if (prevFresh.nonEmpty) prevFresh ++ fresh else fresh
    val re = IndexedSeq.fill(nRe) {
      val e = pool(r.nextInt(pool.length))
      e.copy(count = e.count.map(_ + 1))
    }
    prevFresh = fresh
    val all = (fresh ++ re).toArray
    Stats.shuffle(all, r)
    var added = 0
    fresh.foreach { e =>
      if (!SkipNamespaces(e.namespace) && eligible.add(e.uid)) {
        added += 1
        if (sampler.nextInt(400) == 0) sample(e.uid) = e
      }
    }
    (all.toSeq, added)
  }
}

/** service_churn input: a pod table, a service catalogue and fixed-size
  * batches of service updates. Uids follow a Zipf law; about 10% of
  * updates re-send an older resource version of their service. */
final class ServiceGen(seed: Long, val batchUpdates: Int) {
  private val r = new SplittableRandom(seed)
  private val sampler = new SplittableRandom(seed ^ 0x5DEECE66DL)
  val namespaces: IndexedSeq[String] = (0 until 24).map(i => s"team-$i")
  private val tiers = Seq("web", "api", "db", "cache")

  val pods: IndexedSeq[KubePod] = (0 until 20000).map { i =>
    val ns = namespaces(r.nextInt(namespaces.length))
    val app = s"app-${r.nextInt(40)}"
    val labels = Map("app" -> app, "tier" -> tiers(r.nextInt(4)),
      "track" -> (if (r.nextInt(10) == 0) "canary" else "stable"))
    KubePod(uuid(r), s"$app-${Integer.toHexString(r.nextInt(1 << 20))}-$i", ns, labels,
      new Timestamp(T0Ms - 1000L * (60 + r.nextInt(86400))), ip(244, i + 1), ip(0, 1 + r.nextInt(300)))
  }

  val services: IndexedSeq[KubeService] = (0 until 2000).map { i =>
    val ns =
      if (i == 0) "default"
      else if (r.nextInt(33) == 0) "kube-system"
      else namespaces(r.nextInt(namespaces.length))
    val app = s"app-${r.nextInt(40)}"
    val sel =
      if (r.nextInt(10) < 6) Map("app" -> app)
      else Map("app" -> app, "tier" -> tiers(r.nextInt(4)))
    KubeService(uuid(r), "0", if (i == 0) "kubernetes" else s"svc-$i-$app", ns,
      Map("app" -> app, "managed-by" -> "helm"), Map("owner" -> s"team-${i % 7}"), sel)
  }
  private val zipf = new Zipf(services.length, 1.1)
  private var rv = 1000L
  private val history = Array.fill(services.length)(List.empty[Long])

  // ---------------------------------------------------------------- model
  /** Highest version passed per uid in earlier batches. */
  private val maxSeen = mutable.HashMap.empty[String, Long]
  /** Expected landed id (uid-version) -> lifecycle tag. */
  val expected = mutable.HashMap.empty[String, String]
  /** A seeded sample of expected landed ids -> service row. */
  val sample = mutable.HashMap.empty[String, KubeService]

  def landed(s: KubeService): Boolean =
    !K8sGen.SkipNamespaces(s.namespace) && s.name != "kubernetes"

  /** Batch `b` (in order). Returns the updates and how many of them the
    * version gate passes. */
  def batch(b: Int): (Seq[KubeService], Int) = {
    val rows = IndexedSeq.fill(batchUpdates) {
      val i = zipf.sample(r)
      val h = history(i)
      val v =
        if (h.nonEmpty && r.nextInt(10) == 0) h(r.nextInt(h.length))
        else { rv += 1 + r.nextInt(3); history(i) = (rv :: h).take(8); rv }
      services(i).copy(resource_version = v.toString)
    }
    // The gate, per uid in version order: a row passes when it is newer
    // than every row passed before it, in this batch or an earlier one.
    var passed = 0
    rows.groupBy(_.uid).foreach { case (uid, rs) =>
      val first = !maxSeen.contains(uid)
      var max = maxSeen.getOrElse(uid, Long.MinValue)
      var emitted = false
      rs.sortBy(_.resource_version.toLong).foreach { s =>
        val v = s.resource_version.toLong
        if (v > max) {
          max = v
          passed += 1
          if (landed(s)) {
            val id = s"$uid-$v"
            expected(id) = if (first && !emitted) "addedService" else "updatedService"
            if (sampler.nextInt(40) == 0) sample(id) = s
          }
          emitted = true
        }
      }
      maxSeen(uid) = max
    }
    (rows, passed)
  }

  /** Pods a service selects: same namespace, labels contain the selector. */
  def selected(s: KubeService): Seq[KubePod] =
    if (s.selector.isEmpty) Nil
    else pods.filter(p => p.namespace == s.namespace &&
      s.selector.forall { case (k, v) => p.labels.get(k).contains(v) })
}
