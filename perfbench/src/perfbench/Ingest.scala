package perfbench

import graft.k8s._
import graft.sinks.NdjsonSink
import graft.streaming.StreamPipeline
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The closed loop shared by the two ingest workloads: one client adds a
  * fixed-size micro-batch, waits in `processAllAvailable` until the sink
  * files are written and state is committed, then adds the next. */
object Ingest {
  val Cap = 10000

  final case class Loop(warm: IndexedSeq[Double], timed: IndexedSeq[Double],
      timedWork: Long, firstTimedMs: Long, spark: Option[(Probe.Snap, Probe.Snap)],
      stealPct: Double)

  /** Warm-up runs until per-batch time stops falling: the median of the
    * last three batches is no more than 3% below the median of the three
    * before (batch 0, the cold start, is left out; at least six others
    * run), within a cap of `maxWarm` batches. Then at
    * least four batches run, and more until `seconds` of batch time.
    * `step(b)` runs batch b and returns (seconds, units of work landed). */
  def loop(seconds: Double, maxWarm: Int, probe: Option[Probe])(
      step: Int => (Double, Int)): Loop = {
    val warm = mutable.ArrayBuffer.empty[Double]
    var b = 0
    def settled: Boolean = {
      val w = warm.drop(1)
      w.length >= 6 &&
        Stats.median(w.takeRight(3).toSeq) >= 0.97 * Stats.median(w.dropRight(3).takeRight(3).toSeq)
    }
    while (!(settled || warm.length >= maxWarm)) {
      warm += step(b)._1; b += 1
    }
    val before = probe.map(_.snap())
    val cpu0 = Main.cpuTicks()
    val firstTimedMs = System.currentTimeMillis()
    val timed = mutable.ArrayBuffer.empty[Double]
    var work = 0L
    while (timed.length < 4 || timed.sum < seconds) {
      val (t, n) = step(b); b += 1
      timed += t; work += n
    }
    val after = probe.map(_.snap())
    Loop(warm.toIndexedSeq, timed.toIndexedSeq, work, firstTimedMs, before.zip(after),
      Main.stealPct(cpu0, Main.cpuTicks()))
  }

  /** End-to-end metrics of a loop. */
  def endToEnd(a: Args, l: Loop, m: Metrics): Seq[String] = {
    m.put("setup_s", (l.firstTimedMs - a.t0Ms) / 1000.0, "s")
    m.put("throughput_per_s", l.timedWork / l.timed.sum, "1/s")
    m.put("lat_p50_s", Stats.median(l.timed), "s")
    val (tail, pct, n) = Stats.tail(l.timed)
    m.put("lat_tail_s", tail, "s")
    m.put("rss_peak_mb", Main.rssPeakMb(), "MB")
    Seq(f"lat_tail_s is p$pct%.0f of $n timed batches; ${l.stealPct}%.1f%% of CPU time stolen by the host while timed",
      s"warm-up batch seconds: ${l.warm.map(x => f"$x%.3f").mkString(" ")}",
      s"timed batch seconds: ${l.timed.map(x => f"$x%.3f").mkString(" ")}")
  }

  /** `streaming.*` from the StreamingQueryProgress of the timed data
    * batches (no-data batches that only move the watermark are skipped). */
  def streamingMetrics(p: Probe, l: Loop, m: Metrics, dupRatio: Double): Seq[String] = {
    p.drain()
    val data = p.progress.asScala.toIndexedSeq.filter(_.numInputRows > 0)
    val timed = data.drop(l.warm.length)
    def med(f: StreamingQueryProgress => Double) =
      Stats.median(timed.map(f))
    def d(pr: StreamingQueryProgress, k: String): Double =
      Option(pr.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    m.put("streaming.trigger_ms", med(d(_, "triggerExecution")), "ms")
    m.put("streaming.add_batch_ms", med(d(_, "addBatch")), "ms")
    m.put("streaming.planning_ms", med(d(_, "queryPlanning")), "ms")
    m.put("streaming.commit_ms", med(pr => d(pr, "walCommit") + d(pr, "commitOffsets")), "ms")
    val rows = timed.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble)
    m.put("streaming.state_rows", Stats.median(rows), "count")
    m.put("streaming.state_rows_spread", if (rows.isEmpty) 0.0 else (rows.max - rows.min) / Stats.median(rows), "ratio")
    m.put("streaming.state_mb", med(_.stateOperators.map(_.memoryUsedBytes).sum / 1048576.0), "MB")
    m.put("streaming.state_commit_ms", med(_.stateOperators.map(_.commitTimeMs).sum.toDouble), "ms")
    m.put("streaming.dup_drop_ratio", dupRatio, "ratio")
    l.spark.foreach { case (a, b) => p.sparkMetrics(m, a, b) }
    Seq(s"state rows per timed batch: ${rows.map(_.toLong).mkString(" ")}")
  }

  /** Median milliseconds of `f` over `n` runs after one unmeasured run. */
  def timeMs(n: Int)(f: => Unit): Double = {
    f
    Stats.median((1 to n).map { _ => val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e6 })
  }

  /** `sinks.*`: NdjsonSink.write on one materialized batch, with its jobs
    * counted by the probe's SparkListener. */
  def sinkMetrics(p: Probe, tr: Tracer, batch: DataFrame, dir: String, gzip: Boolean,
      m: Metrics): Unit = {
    val mat = batch.cache()
    val n = mat.count()
    var id = 0L
    var files = 0
    def write(): Unit = {
      files = tr.span("sinks.write")(NdjsonSink.write(mat, dir, "probe", id, Cap, gzip))
      id += 1
    }
    val j0 = p.jobCount()
    write()
    val jobs = p.jobCount() - j0
    m.put("sinks.write_ms", timeMs(5)(write()), "ms")
    m.put("sinks.jobs_per_write", jobs.toDouble, "count")
    m.put("sinks.files_per_batch", files.toDouble, "count")
    val bytes = Option(new java.io.File(s"$dir/probe_${id - 1}").listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("part-")).map(_.length).sum
    m.put("sinks.bytes_per_record", bytes.toDouble / math.max(1L, n), "B")
    mat.unpersist()
  }
}

object EventIngest {
  val BatchEvents = 20000
  val StepMs = 120000L
  val TtlSec = 180

  def run(spark: SparkSession, a: Args, tr: Tracer, probe: Option[Probe]): Outcome = {
    import spark.implicits._
    implicit val sqlc: SQLContext = spark.sqlContext
    val gen = new EventGen(a.seed, BatchEvents, StepMs)
    val objects = spark.createDataFrame(gen.objectRows)
    val nodes = spark.createDataFrame(gen.nodes)
    val conf = GraftConfig(uid = "bench", sink = "file", batchSize = Ingest.Cap,
      fileSinkDir = s"${a.work}/sink", gzip = true, dedupTtlSec = TtlSec)
    val input = MemoryStream[KubeEvent]
    val q: StreamingQuery = tr.span("streaming.start")(
      StreamPipeline.run(input.toDF(), objects, nodes, conf, s"${a.work}/ckpt", Some(0L)))
    val loop = try Ingest.loop(a.seconds, 8, probe) { b =>
      val (evs, added) = gen.batch(b)
      val t0 = System.nanoTime()
      tr.span("streaming.batch") {
        tr.span("streaming.add_data")(input.addData(evs))
        tr.span("streaming.process_all_available")(q.processAllAvailable())
      }
      ((System.nanoTime() - t0) / 1e9, added)
    } finally q.stop()
    val m = new Metrics
    val notes = mutable.ArrayBuffer.empty[String]
    notes ++= Ingest.endToEnd(a, loop, m)
    val landed = Checks.read(conf.fileSinkDir, gen.sample.contains)
    val errors = Checks.events(gen, landed, Ingest.Cap)
    val missed = Checks.selfTest(landed, gen.sample.keys, Checks.events(gen, _, Ingest.Cap),
      _.replaceFirst("\"timestamp\":", "\"timestamp\":1"))
    notes += s"landed ${landed.counts.size} records in ${landed.perFile.size} files; " +
      s"expected ${gen.eligible.size} eligible distinct uids; ${gen.sample.size} sampled records checked"

    probe.foreach { p =>
      // Rows out of the dedup operator over rows into it, from its
      // state-operator progress (new keys vs dropped duplicates and late rows).
      p.drain()
      val ops = p.progress.asScala.toSeq.filter(_.numInputRows > 0)
        .drop(loop.warm.length).flatMap(_.stateOperators)
      val out = ops.map(_.numRowsUpdated).sum.toDouble
      val dropped = ops.map(o => Option(o.customMetrics.get("numDroppedDuplicateRows"))
        .map(_.longValue).getOrElse(0L) + o.numRowsDroppedByWatermark).sum
      notes ++= Ingest.streamingMetrics(p, loop, m, out / math.max(1.0, out + dropped))
      // k8s: enrich + projectL9 on one fresh batch, written to the noop sink.
      val (evs, _) = gen.batch(loop.warm.length + loop.timed.length)
      val raw = spark.createDataFrame(evs).cache()
      raw.count()
      val eligible = EventPipeline.eligible(raw, conf)
      def l9 = EventPipeline.projectL9(EventPipeline.enrich(eligible, objects, nodes)).toDF()
      m.put("k8s.enrich_project_ms", Ingest.timeMs(5)(tr.span("k8s.enrich_project")(
        l9.write.format("noop").mode("overwrite").save())), "ms")
      Ingest.sinkMetrics(p, tr, l9, s"${a.work}/probe-sink", gzip = true, m)
      raw.unpersist()
    }

    Outcome(loop.timed.length, 0, errors ++ missed.map(w => s"self-test: checker accepted a $w"),
      m, notes.toSeq)
  }
}

object ServiceChurn {
  val BatchUpdates = 5000

  def run(spark: SparkSession, a: Args, tr: Tracer, probe: Option[Probe]): Outcome = {
    import spark.implicits._
    implicit val sqlc: SQLContext = spark.sqlContext
    val gen = new ServiceGen(a.seed, BatchUpdates)
    val pods = spark.createDataFrame(gen.pods)
    val conf = GraftConfig(uid = "bench", sink = "file", batchSize = Ingest.Cap,
      fileSinkDir = s"${a.work}/sink", gzip = false)
    val input = MemoryStream[KubeService]
    val q: StreamingQuery = tr.span("streaming.start")(
      StreamPipeline.runServices(input.toDS(), pods, conf, s"${a.work}/ckpt", Some(0L)))
    val passed = mutable.ArrayBuffer.empty[Int]
    val loop = try Ingest.loop(a.seconds, 6, probe) { b =>
      val (rows, n) = gen.batch(b)
      passed += n
      val t0 = System.nanoTime()
      tr.span("streaming.batch") {
        tr.span("streaming.add_data")(input.addData(rows))
        tr.span("streaming.process_all_available")(q.processAllAvailable())
      }
      ((System.nanoTime() - t0) / 1e9, rows.length)
    } finally q.stop()
    val m = new Metrics
    val notes = mutable.ArrayBuffer.empty[String]
    notes ++= Ingest.endToEnd(a, loop, m)
    val landed = Checks.read(conf.fileSinkDir, gen.sample.contains)
    val errors = Checks.services(gen, landed, Ingest.Cap)
    val missed = Checks.selfTest(landed, gen.sample.keys, Checks.services(gen, _, Ingest.Cap),
      line => line.replaceFirst("\"pod\":\\{\\}?", "\"pod\":{\"ghost-pod\":\"{}\"" +
        (if (line.contains("\"pod\":{}")) "}" else ",")))
    notes += s"landed ${landed.counts.size} records in ${landed.perFile.size} files; " +
      s"expected ${gen.expected.size} from the version-gate model; ${gen.sample.size} sampled records checked"

    probe.foreach { p =>
      // The gate's progress does not count the rows it emits, so rows out
      // come from the gate model, which the output check verifies.
      val timedPassed = passed.drop(loop.warm.length)
      notes ++= Ingest.streamingMetrics(p, loop, m,
        timedPassed.sum.toDouble / (timedPassed.length * BatchUpdates))
      // k8s: serviceEvents on one batch of updates (latest row per uid).
      val (rows, _) = gen.batch(loop.warm.length + loop.timed.length)
      val latest = rows.groupBy(_.uid).values.map(_.maxBy(_.resource_version.toLong)).toSeq
      val svc = spark.createDataFrame(latest).cache()
      svc.count()
      def events = EventPipeline.serviceEvents(svc, pods, "updatedService").toDF()
      m.put("k8s.service_events_ms", Ingest.timeMs(3)(tr.span("k8s.service_events")(
        events.write.format("noop").mode("overwrite").save())), "ms")
      m.put("k8s.selector_pairs", tr.span("k8s.service_pods")(
        EventPipeline.servicePods(svc, pods).count()).toDouble, "count")
      Ingest.sinkMetrics(p, tr, events, s"${a.work}/probe-sink", gzip = false, m)
      svc.unpersist()
    }

    Outcome(loop.timed.length, 0, errors ++ missed.map(w => s"self-test: checker accepted a $w"),
      m, notes.toSeq)
  }
}
