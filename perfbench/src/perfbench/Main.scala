package perfbench

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. run.py builds it with the program, starts it
  * once per run and reads the last line it prints:
  * `PERFBENCH_RESULT {"errors": [...], "attempted": n, "failed": n, "metrics": {...}}`. */
object Main {
  /** Peak resident memory of this JVM, from /proc (VmHWM). */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  /** The machine's CPU time counters (/proc/stat, first line). */
  def cpuTicks(): Array[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
    finally src.close()
  }

  /** Share of CPU time the hypervisor took from this machine between two
    * readings (the `steal` column): host contention, which slows every
    * timed unit alike. */
  def stealPct(a: Array[Long], b: Array[Long]): Double = {
    val d = a.indices.take(8).map(i => b(i) - a(i))
    if (d.sum <= 0 || d.length < 8) 0.0 else 100.0 * d(7) / d.sum
  }

  /** The program's cross-process artifacts: it writes memos, indexes and
    * replay staging under fixed /tmp/graft-* paths. */
  def graftTmp(): Set[String] =
    Option(new java.io.File("/tmp").list()).toSet.flatten.filter(_.startsWith("graft-"))

  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).toSeq.flatten.foreach(rmTree)
    f.delete()
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val tmpBefore = graftTmp()
    val spark = GraftSession.configure(SparkSession.builder())
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tr = new Tracer(a.trace)
    val probe = if (a.trace) Some(new Probe(spark)) else None
    try {
      val out = a.workload match {
        case "event_ingest" => EventIngest.run(spark, a, tr, probe)
        case "service_churn" => ServiceChurn.run(spark, a, tr, probe)
        case "query_mix" => QueryMix.run(spark, a, tr, probe)
        case w => sys.error(s"unknown workload $w")
      }
      tr.write(s"${a.work}/spans.jsonl")
      out.notes.foreach(n => System.out.println(s"# $n"))
      System.out.println("PERFBENCH_RESULT " + Json.obj(Seq(
        "errors" -> out.errors.map(Json.str).mkString("[", ", ", "]"),
        "attempted" -> out.attempted.toString,
        "failed" -> out.failed.toString,
        "metrics" -> out.metrics.json)))
      System.out.flush()
    } finally {
      probe.foreach(_.close())
      spark.stop()
      // Leave nothing of this run under /tmp: the next run must rebuild.
      (graftTmp() -- tmpBefore).foreach(n => rmTree(new java.io.File("/tmp", n)))
    }
  }
}
