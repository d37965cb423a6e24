package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Engine counters for the `spark` and `streaming` layers, read through a
  * SparkListener, a StreamingQueryListener, the JVM's GC beans and
  * Spark's CodegenMetrics. Installed only for traced runs. */
object Probe {
  final case class Snap(jobs: Long, cpuNs: Long, shuffleBytes: Long,
      spillBytes: Long, gcMs: Long, codegenMs: Double)
}

final class Probe(spark: SparkSession) {
  import Probe.Snap

  private val jobs = new AtomicLong
  private val cpuNs = new AtomicLong
  private val shuffleBytes = new AtomicLong
  private val spillBytes = new AtomicLong
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
  spark.sparkContext.addSparkListener(sparkListener)
  spark.streams.addListener(streamListener)

  /** Waits until every posted listener event has been delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def snap(): Snap = {
    drain()
    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ > 0).sum
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    Snap(jobs.get, cpuNs.get, shuffleBytes.get, spillBytes.get, gc,
      h.getCount * h.getSnapshot.getMean)
  }

  /** The `spark.*` layer metrics over [a, b]; codegen over the whole run. */
  def sparkMetrics(m: Metrics, a: Snap, b: Snap): Unit = {
    m.put("spark.codegen_compile_ms", b.codegenMs, "ms")
    m.put("spark.gc_ms", (b.gcMs - a.gcMs).toDouble, "ms")
    m.put("spark.task_cpu_s", (b.cpuNs - a.cpuNs) / 1e9, "s")
    m.put("spark.shuffle_write_mb", (b.shuffleBytes - a.shuffleBytes) / 1048576.0, "MB")
    m.put("spark.spill_mb", (b.spillBytes - a.spillBytes) / 1048576.0, "MB")
    m.put("spark.jobs", (b.jobs - a.jobs).toDouble, "count")
  }

  def jobCount(): Long = { drain(); jobs.get }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
  }
}
