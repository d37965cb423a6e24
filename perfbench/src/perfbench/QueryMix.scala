package perfbench

import graft.SparkEntry
import java.security.MessageDigest
import org.apache.spark.sql.{Row, SparkSession}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** query_mix: a fixed list of oracle-backed queries over the seeded sf0.1
  * tables, run by one client in a closed loop. One untimed pass in list
  * order warms up, builds the on-disk memos and the IVF index, and keeps
  * each result for the oracle check; timed passes then run every query
  * once each, in a new seeded order each pass: at least two passes, and
  * more until `seconds` have passed. Only whole passes are timed, so every
  * query weighs the same in every run. */
object QueryMix {
  /** Queries that match their DuckDB oracle on the generated tables. */
  val Names: Seq[String] = Seq(
    "k8s_eligible", "k8s_enrich_project", "k8s_dedup_first", "k8s_dedup_versioned",
    "k8s_batch_chunks", "join_anti", "topk_custom_plan", "sim_knn_ivf_indexed",
    "dedup_minhash_sig", "stream_dedup", "stream_tumble")

  def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-1")
    rows.foreach(r => md.update((r.toString + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Between queries: drop what a query pinned for itself, so the next
    * one does not run under its memory (cached blocks, memory-sink views). */
  private def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("st_"))
      .foreach(t => spark.catalog.dropTempView(t.name))
  }

  def run(spark: SparkSession, a: Args, tr: Tracer, probe: Option[Probe]): Outcome = {
    val all = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    val d = a.data
    val memoBefore = Main.graftTmp().filter(_.startsWith("graft-rt-"))

    // Warm-up pass: the result of each query is kept for the oracle check
    // (run.py compares it with DuckDB) and its digest for the timed passes.
    val want = mutable.LinkedHashMap.empty[String, String]
    val warmSec = mutable.ArrayBuffer.empty[String]
    val sparkUpMs = System.currentTimeMillis()
    Names.foreach { n =>
      val tw = System.nanoTime()
      val df = all(n)(spark, d)
      val rows = df.collect()
      want(n) = digest(rows)
      spark.createDataFrame(rows.toSeq.asJava, df.schema)
        .coalesce(1).write.parquet(s"${a.work}/results/$n")
      release(spark)
      warmSec += f"$n ${(System.nanoTime() - tw) / 1e9}%.2f"
    }
    val w = new java.io.PrintWriter(s"${a.work}/oracle_sql.json", "UTF-8")
    try w.print(Json.obj(Names.map(n => n -> Json.str(oracle(n)))))
    finally w.close()
    val memoBuilds = (Main.graftTmp().filter(_.startsWith("graft-rt-")) -- memoBefore).size
    val rnd = new java.util.SplittableRandom(a.seed)

    val lat = mutable.ArrayBuffer.empty[Double]
    val perQuery = mutable.LinkedHashMap(Names.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    var planMs, execMs = 0.0
    var attempted, failed = 0L
    val wrong = mutable.LinkedHashSet.empty[String]
    val before = probe.map(_.snap())
    val cpu0 = Main.cpuTicks()
    val firstTimedMs = System.currentTimeMillis()
    var passes = 0
    val passSec = mutable.ArrayBuffer.empty[Double]
    while (passes < 2 || lat.sum < a.seconds) {
      val before = lat.sum
      val order = Names.toArray
      Stats.shuffle(order, rnd)
      order.foreach { n =>
        attempted += 1
        val t0 = System.nanoTime()
        val result = try {
          val df = tr.span("queries.build")(all(n)(spark, d))
          tr.span("queries.plan")(df.queryExecution.executedPlan)
          val t1 = System.nanoTime()
          val rows = tr.span("queries.exec")(df.collect())
          val t2 = System.nanoTime()
          planMs += (t1 - t0) / 1e6
          execMs += (t2 - t1) / 1e6
          Some(rows)
        } catch { case e: Exception => wrong += s"$n (${e.getClass.getSimpleName})"; None }
        val s = (System.nanoTime() - t0) / 1e9
        lat += s
        perQuery(n) += s
        if (!result.exists(rows => digest(rows) == want(n))) {
          failed += 1
          if (result.isDefined) wrong += n
        }
        release(spark)
      }
      passes += 1
      passSec += lat.sum - before
    }
    val after = probe.map(_.snap())
    val steal = Main.stealPct(cpu0, Main.cpuTicks())

    val m = new Metrics
    m.put("setup_s", (firstTimedMs - a.t0Ms) / 1000.0, "s")
    m.put("throughput_per_s", lat.length / lat.sum, "1/s")
    m.put("lat_p50_s", Stats.median(lat.toSeq), "s")
    val (tail, pct, cnt) = Stats.tail(lat.toSeq)
    m.put("lat_tail_s", tail, "s")
    m.put("rss_peak_mb", Main.rssPeakMb(), "MB")
    probe.foreach { p =>
      m.put("queries.plan_ms", planMs / lat.length, "ms")
      m.put("queries.exec_ms", execMs / lat.length, "ms")
      m.put("queries.memo_builds", memoBuilds.toDouble, "count")
      perQuery.foreach { case (n, xs) => m.put(s"queries.q.${n}_s", Stats.median(xs.toSeq), "s") }
      p.sparkMetrics(m, before.get, after.get)
    }
    val notes = Seq(f"lat_tail_s is p$pct%.0f of $cnt timed queries ($passes passes of ${Names.length}); " +
        f"$steal%.1f%% of CPU time stolen by the host while timed",
      s"memo artifacts built in set-up: $memoBuilds",
      s"timed pass seconds: ${passSec.map(x => f"$x%.2f").mkString(" ")}",
      s"session up at ${(sparkUpMs - a.t0Ms) / 1000.0} s; warm-up pass: ${warmSec.mkString(", ")}")
    Outcome(attempted, failed,
      wrong.toSeq.map(n => s"timed run failed or differs from the oracle-checked warm-up result: $n"),
      m, notes)
  }
}
