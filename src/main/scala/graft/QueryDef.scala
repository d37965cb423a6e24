package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared engine query: a Spark-first implementation plus its
  * DuckDB oracle twin (SURVEY.md §2.2 "the t2 contract").
  *
  * Contract notes (driver semantics):
  *  - Output column names must match the oracle's exactly (the driver
  *    sorts columns by name before hashing values).
  *  - Every query ends in an ORDER BY over a unique key in BOTH dialects.
  *  - Doubles are rounded to 4 decimals; timestamps rendered as strings.
  */
final case class Q(name: String, oracle: String)(
    val run: (SparkSession, String) => DataFrame)

object Q {
  def apply(name: String, oracle: String)(
      run: (SparkSession, String) => DataFrame): Q =
    new Q(name, oracle.stripMargin.trim)(run)
}

/** Per-query session scoping. Iterative operators (CC, PageRank,
  * k-means) and the streaming replays size `spark.sql.shuffle.partitions`
  * to their own frame volume, far below the session's batch default.
  * Mutating the SHARED session conf (set / try / finally restore) is
  * correct single-threaded but races if queries ever run concurrently on
  * one session — so the override lives on a session CLONE instead:
  * `newSession()` shares the SparkContext, shared state and injected
  * extensions but owns its SQLConf, making the override invisible to
  * every other query. The clone costs one SessionState build (~ms) per
  * query — noise against the loop's shuffles. */
object Sessions {
  def withShufflePartitions(s: SparkSession, n: Int): SparkSession = {
    val clone = s.newSession()
    // newSession re-applies only BUILDER-time options; conf set at
    // runtime on the parent (e.g. the RocksDB state-store provider a
    // query arms before calling a streaming helper) would silently drop.
    // Carry the parent's effective SQL conf over, then override the
    // shuffle sizing. Static/immutable entries refuse the set — skip.
    s.conf.getAll.foreach { case (k, v) =>
      try clone.conf.set(k, v) catch { case _: Throwable => () }
    }
    clone.conf.set("spark.sql.shuffle.partitions", n.toString)
    clone
  }

  /** Drop the blocks a query pinned for its own execution — caches,
    * localCheckpoints, and the `st_*` memory-sink views that hold their
    * full result on the driver — so a sweep of independent queries in one
    * JVM does not accumulate every query's working set (observed: a 0.6 s
    * groupBy timed at 34 s late in a leaky run). blocking=true: an async
    * unpersist that lags on a loaded host leaves the next query running
    * under the previous one's memory pressure. Each step is best-effort. */
  def release(s: SparkSession): Unit = {
    try s.catalog.clearCache() catch { case _: Throwable => () }
    try s.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    catch { case _: Throwable => () }
    try s.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("st_"))
      .foreach(t => s.catalog.dropTempView(t.name))
    catch { case _: Throwable => () }
  }
}
