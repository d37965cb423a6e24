package perfbench

import scala.collection.mutable

/** Command-line options handed over by run.py. */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    cores: Int,
    work: String,
    data: String,
    t0Ms: Long)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("cores").toInt, need("work"),
      m.getOrElse("data", ""), need("t0-ms").toLong)
  }
}

/** Minimal JSON writer: the harness prints one object and a span file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Fisher-Yates, in place. */
  def shuffle[T](a: Array[T], r: java.util.SplittableRandom): Unit = {
    var i = a.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
  }

  /** The highest order statistic with at least ten samples beyond it.
    * Below 21 samples that statistic is not above the median, and the
    * maximum stands in. Returns (value, percentile, sample count). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.length
    if (n > 20) (s(n - 11), 100.0 * (n - 10) / n, n) else (s(n - 1), 100.0, n)
  }
}

/** Named metrics with units, printed in insertion order. */
final class Metrics {
  private val m = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit = m(name) = (value, unit)
  def json: String = Json.obj(m.toSeq.map { case (k, (v, u)) =>
    k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
  })
}

/** Spans recorded by the harness around each call into a program layer.
  * Kept in memory; written as JSON lines when the run ends. Disabled
  * (a plain call) unless the run is traced. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Tracer.Span]
  private var stack: List[Int] = Nil
  private var next = 1

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = next; next += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        spans += Tracer.Span(id, parent, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def write(path: String): Unit = if (enabled) {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "start_ns" -> s.startNs.toString,
        "end_ns" -> s.endNs.toString)))
    } finally w.close()
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
}

/** Zipf sampler over 0 until n (exponent s) by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x / tot; acc }
  }
  def sample(r: java.util.SplittableRandom): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** What one workload hands back to Main. */
final case class Outcome(
    attempted: Long,
    failed: Long,
    errors: Seq[String],
    metrics: Metrics,
    notes: Seq[String])
