package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.io.{BufferedReader, File, FileInputStream, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPInputStream
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What the sink left on disk: record count per id, the reason per id,
  * records per file, and the full lines of the ids asked for. */
final case class Landed(
    counts: Map[String, Int],
    reasons: Map[String, String],
    perFile: Map[String, Int],
    lines: Map[String, String])

object Checks {
  private val mapper = new ObjectMapper()

  private def files(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap { f =>
      if (f.isDirectory) files(f)
      else if (f.getName.startsWith("part-")) Seq(f) else Nil
    }

  /** The value of a top-level string field, read without a JSON parse;
    * the sink writes `id` first and `reason` as a plain string. */
  private def field(line: String, key: String): String = {
    val tag = "\"" + key + "\":\""
    val i = line.indexOf(tag)
    if (i < 0) null
    else {
      val s = i + tag.length
      line.substring(s, line.indexOf('"', s))
    }
  }

  /** Reads every NDJSON (optionally gzip) part file under `dir`. */
  def read(dir: String, keep: String => Boolean): Landed = {
    val counts = mutable.HashMap.empty[String, Int]
    val reasons = mutable.HashMap.empty[String, String]
    val perFile = mutable.LinkedHashMap.empty[String, Int]
    val lines = mutable.HashMap.empty[String, String]
    files(new File(dir)).foreach { f =>
      val raw = new FileInputStream(f)
      val in = if (f.getName.endsWith(".gz")) new GZIPInputStream(raw, 1 << 16) else raw
      val rd = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8), 1 << 16)
      var n = 0
      try {
        var line = rd.readLine()
        while (line != null) {
          if (line.nonEmpty) {
            n += 1
            val id = field(line, "id")
            counts(id) = counts.getOrElse(id, 0) + 1
            reasons(id) = field(line, "reason")
            if (keep(id)) lines(id) = line
          }
          line = rd.readLine()
        }
      } finally rd.close()
      perFile(f.getPath) = n
    }
    Landed(counts.toMap, reasons.toMap, perFile.toMap, lines.toMap)
  }

  private def strMap(n: JsonNode): Map[String, String] =
    if (n == null || n.isNull) Map.empty
    else n.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap

  private def strSeq(n: JsonNode): Seq[String] =
    if (n == null || n.isNull) Nil else n.elements().asScala.map(_.asText()).toSeq

  private def idSetErrors(expected: collection.Set[String], l: Landed): Seq[String] = {
    val e = Seq.newBuilder[String]
    val dup = l.counts.count(_._2 > 1)
    if (dup > 0) e += s"$dup ids landed more than once"
    val missing = expected.count(id => !l.counts.contains(id))
    if (missing > 0) e += s"$missing expected ids did not land"
    val extra = l.counts.keys.count(id => !expected.contains(id))
    if (extra > 0) e += s"$extra landed ids were not expected"
    e.result()
  }

  private def capErrors(l: Landed, cap: Int): Seq[String] = {
    val over = l.perFile.count(_._2 > cap)
    if (over > 0) Seq(s"$over files hold more than $cap records") else Nil
  }

  /** event_ingest: landed ids equal the generator's eligible distinct
    * uids, no file exceeds the cap, and for every sampled event the
    * labels, address and pod mini map match the dimension tables. */
  def events(gen: EventGen, l: Landed, cap: Int): Seq[String] = {
    val e = Seq.newBuilder[String]
    e ++= idSetErrors(gen.eligible, l)
    e ++= capErrors(l, cap)
    var bad = 0
    gen.sample.foreach { case (id, ev) =>
      l.lines.get(id) match {
        case None => bad += 1
        case Some(line) =>
          val j = mapper.readTree(line)
          val o = gen.obj(ev.involvedObject.uid).filter(_.inTable)
          val wantLabels = o.map(_.row.labels).getOrElse(Map.empty)
          val wantAddr = gen.nodes.find(_.name == ev.source.host).map(_.addresses).getOrElse(Nil)
          val wantPod = o.flatMap(x => Option(x.mini)).getOrElse(Map.empty)
          val pod = strMap(j.get("pod"))
          val gotPod = pod.get("info").map(s => strMap(mapper.readTree(s))).getOrElse(Map.empty)
          val ok = strMap(j.get("labels")) == wantLabels &&
            strSeq(j.get("address")) == wantAddr &&
            gotPod == wantPod && pod.keySet.subsetOf(Set("info")) &&
            j.get("reason").asText() == ev.reason &&
            j.get("timestamp").asLong() == ev.creationTimestamp.getTime / 1000
          if (!ok) bad += 1
      }
    }
    if (bad > 0) e += s"$bad of ${gen.sample.size} sampled records differ from the dimension tables"
    e.result()
  }

  /** service_churn: landed ids and lifecycle tags equal the generator's
    * version-gate model, and every sampled record's pod map names exactly
    * the pods its selector picks. */
  def services(gen: ServiceGen, l: Landed, cap: Int): Seq[String] = {
    val e = Seq.newBuilder[String]
    e ++= idSetErrors(gen.expected.keySet, l)
    e ++= capErrors(l, cap)
    val wrongTag = gen.expected.count { case (id, tag) => l.reasons.get(id).exists(_ != tag) }
    if (wrongTag > 0) e += s"$wrongTag landed records carry the wrong lifecycle tag"
    var bad = 0
    gen.sample.foreach { case (id, s) =>
      l.lines.get(id) match {
        case None => bad += 1
        case Some(line) =>
          val pod = strMap(mapper.readTree(line).get("pod"))
          val want = gen.selected(s)
          val ok = pod.keySet == want.map(_.name).toSet && want.forall { p =>
            strMap(mapper.readTree(pod(p.name))).get("ip").contains(p.ip)
          }
          if (!ok) bad += 1
      }
    }
    if (bad > 0) e += s"$bad of ${gen.sample.size} sampled records have the wrong pod map"
    e.result()
  }

  /** Corrupts a copy of the landed output twice — one dropped record and
    * one flipped field in a sampled record — and returns the corruptions
    * the checker failed to reject (empty when it rejected both). */
  def selfTest(l: Landed, sampled: Iterable[String], check: Landed => Seq[String],
      flip: String => String): Seq[String] = {
    val victim = sampled.headOption.getOrElse(l.counts.keys.head)
    val dropped = l.copy(counts = l.counts - victim)
    val line = l.lines.getOrElse(victim, "")
    val flipped = l.copy(lines = l.lines.updated(victim, flip(line)))
    Seq("dropped record" -> dropped, "flipped field" -> flipped)
      .collect { case (what, bad) if check(bad).isEmpty => what }
  }
}
