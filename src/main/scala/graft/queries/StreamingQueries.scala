package graft.queries

import graft.{Q, Tables}
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

/** Streaming operator surface (SURVEY.md §2.2 streaming table), validated
  * by final-state equivalence: each query REALLY runs Structured
  * Streaming (file-replay source → transform → memory sink,
  * processAllAvailable), and the oracle checks the completed result
  * against the equivalent batch SQL (DuckDB cannot stream — §5.2).
  * Incremental multi-batch behavior (late data, watermark advancement,
  * versioned state) is covered by the ScalaTest specs instead.
  *
  * Window starts are emitted as epoch seconds (integer) — engine- and
  * timezone-independent.
  */
object StreamingQueries {

  /** The events fixture has shipped with ts as both TIMESTAMP(NANOS)
    * (surfacing as LongType nanos under the nanosAsLong conf) and
    * TIMESTAMP(MICROS) (surfacing as TimestampType directly). Probe the
    * footer with a batch read and declare the matching physical type, so
    * the replay decodes ts identically to [[Tables.events]] under either
    * fixture generation. A readStream schema pinned to the wrong physical
    * type silently mis-scales every timestamp by 1000×. */
  private def eventsTsType(s: SparkSession, dirOrFile: String): DataType =
    s.read.parquet(dirOrFile).schema("ts").dataType

  private def rawEventsSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", tsType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** readStream over a staged events replay dir, with ts decoded to a
    * microsecond TimestampType whatever the file's physical type. */
  private def readEventsReplay(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val tsType = eventsTsType(s, dir)
    val rd = s.readStream.schema(rawEventsSchema(tsType))
    val df = maxFilesPerTrigger
      .fold(rd)(n => rd.option("maxFilesPerTrigger", n.toString))
      .parquet(dir)
    if (tsType == LongType)
      df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else
      // TIMESTAMP_NTZ → session-local TIMESTAMP (UTC session: value-
      // preserving); keeps unix_micros/watermark-era functions happy.
      df.withColumn("ts", col("ts").cast(TimestampType))
  }

  private def eventsStream(s: SparkSession, d: String): DataFrame = {
    // The file source needs a directory; testdata is read-only, so stage
    // the events parquet into a local replay dir once per artifact key.
    val src = Paths.get(Tables.path(d, "events"))
    readEventsReplay(s, Derived.once("replay", d, "events") { stage =>
      val dir = Files.createDirectories(Paths.get(stage))
      if (Files.isDirectory(src)) {
        // Spark-written fixtures are directories of part files — stage
        // each data file flat (the replay source lists the dir anyway).
        val it = Files.list(src)
        try it.filter(p => p.getFileName.toString.endsWith(".parquet"))
          .forEach(p => Files.copy(p, dir.resolve("events-" + p.getFileName)))
        finally it.close()
      } else Files.copy(src, dir.resolve("events.parquet"))
    })
  }

  /** Write `df` as the single parquet file `dst`: Spark writes a dir of
    * parts, so one part is written to a hidden sibling dir and moved out. */
  private def writeFile(df: DataFrame, dst: Path): Unit = {
    val tmp = dst.resolveSibling("_" + dst.getFileName)
    df.coalesce(1).write.parquet(tmp.toString)
    val parts = Files.list(tmp)
    try Files.move(parts.filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get(), dst)
    finally parts.close()
    Derived.deleteTree(tmp)
  }

  /** Run `build(source)` as a streaming query into a memory sink, block
    * until the replay completes, return the materialized table. Shared
    * with other modules via [[runEventsStream]]. */
  private[queries] def runEventsStream(s: SparkSession, d: String, mode: String)(
      build: DataFrame => DataFrame): DataFrame = runToTable(s, d, mode)(build)

  private def runToTable(s: SparkSession, d: String, mode: String,
      extraConf: Map[String, String] = Map.empty)(
      build: DataFrame => DataFrame): DataFrame = {
    val name = "st_" + math.abs(scala.util.Random.nextLong()).toString
    // Stateful operators materialize one state-store instance PER
    // shuffle partition per operator (the partition count is frozen
    // into the checkpoint at query start). Size it to the stream's
    // volume, not the batch default: these replays carry 10^4-10^6
    // events, where 8 stores amortize far better than 32 — the same
    // sizing decision a real deployment makes per stream. The override
    // rides a session CLONE (its own SQLConf, shared SparkContext), so
    // the stream plans at 8 while the shared session's conf is never
    // touched — no set/restore race with concurrent queries, and no
    // window where batch-0 planning could capture a restored value.
    val s8 = graft.Sessions.withShufflePartitions(s, 8)
    // Query-specific conf (e.g. the RocksDB state-store provider) also
    // rides the CLONE — the shared parent session's conf is never
    // touched, so there is no set/restore race with concurrent queries.
    extraConf.foreach { case (k, v) => s8.conf.set(k, v) }
    val q = build(eventsStream(s8, d)).writeStream
      .format("memory").queryName(name).outputMode(mode).start()
    try { q.processAllAvailable() } finally { q.stop() }
    s8.table(name)
  }

  private def decSum(c: String): String =
    s"CAST(sum(CAST($c AS DECIMAL(18,4))) AS DOUBLE)"

  /** The outer stream-stream join shape shared by stream_join_louter and
    * its checkpoint-recovery spec: left outer within a 30-minute
    * post-click window over watermarked sides. Inputs are raw event
    * frames (event_id, ts TIMESTAMP, user_id, event_type).
    *
    * Watermark-advance invariant: Catalyst pushes non-event-time
    * predicates below the EventTimeWatermark node regardless of written
    * order, so each side's watermark only advances on rows that SURVIVE
    * that side's filters. A watermark-advancing sentinel therefore needs
    * one row per side passing that side's event_type filter (a click AND
    * a purchase) — a single-type sentinel would stall the other side's
    * watermark, and the join's gating watermark is the minimum of the
    * two. */
  private[queries] def outerClickPurchaseJoin(
      clicksSrc: DataFrame, purchasesSrc: DataFrame): DataFrame = {
    val clicks = clicksSrc
      .withWatermark("ts", "1 hour")
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("c_ts"))
    val purchases = purchasesSrc
      .withWatermark("ts", "1 hour")
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTE"),
      "left_outer")
  }

  /** Replay dir for the outer stream-stream join: the sf's events file
    * as micro-batch 1 plus a far-future sentinel click+purchase pair
    * (user -1, year 2100) as micro-batch 2, which advances both sides'
    * watermarks past every real event so held outer rows emit. Staged
    * once per artifact key; the sentinel file gets a later mtime so
    * maxFilesPerTrigger=1 replays it second. */
  private def sentinelReplayDir(s: SparkSession, d: String): String =
    Derived.once("ssreplay", d, "events") { stage =>
      val dir = Files.createDirectories(Paths.get(stage))
      val events = dir.resolve("00-events.parquet")
      Files.copy(Paths.get(Tables.path(d, "events")), events)
      // Sentinel wire schema must match the copied events file's physical
      // ts type (long nanos vs TIMESTAMP(MICROS)) — the replay dir is
      // read under one declared schema covering both files.
      val farFutureSec = 4102444800L // 2100-01-01 epoch seconds
      import s.implicits._
      val base = Seq(
        (-1L, farFutureSec, -1L, "click", 0.0, "{}"),
        (-2L, farFutureSec, -1L, "purchase", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val srcTs = eventsTsType(s, Tables.path(d, "events"))
      val sentinel =
        if (srcTs == LongType)
          base.withColumn("ts", col("ts") * lit(1000000000L)) // long nanos
        else // match the events file exactly (TIMESTAMP vs TIMESTAMP_NTZ)
          base.withColumn("ts", timestamp_seconds(col("ts")).cast(srcTs))
      val sentinelFile = dir.resolve("zz-sentinel.parquet")
      writeFile(sentinel, sentinelFile)
      Files.setLastModifiedTime(sentinelFile, FileTime.fromMillis(
        Files.getLastModifiedTime(events).toMillis + 60000))
    }

  /** documents as a 4-file replay stream consumed one file per
    * micro-batch — multi-batch on purpose, so stateful operators
    * genuinely carry state across batch boundaries. Staged once per
    * artifact key. */
  private def documentsStream(s: SparkSession, d: String): DataFrame = {
    val dir = Derived.once("docreplay", d, "documents")(
      Tables.documents(s, d).repartition(4).write.parquet(_))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(dir)
  }

  private def runDocsStream(s: SparkSession, d: String)(
      build: DataFrame => DataFrame): DataFrame = {
    val name = "st_" + math.abs(scala.util.Random.nextLong()).toString
    val s8 = graft.Sessions.withShufflePartitions(s, 8) // see runToTable note
    val q = build(documentsStream(s8, d)).writeStream
      .format("memory").queryName(name).outputMode("append").start()
    try { q.processAllAvailable() } finally { q.stop() }
    s8.table(name)
  }

  def all: Seq[Q] = Seq(

    // Tumbling 1-hour window aggregation per event type.
    Q("stream_tumble",
      s"""SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS ws,
         |  event_type,
         |  CAST(count(*) AS BIGINT) AS cnt,
         |  ${decSum("value")} AS val_sum
         |FROM events
         |GROUP BY 1, 2
         |ORDER BY ws, event_type""") { (s, d) =>
      runToTable(s, d, "complete") { src =>
        src.groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("cnt"),
            expr(decSum("value")).as("val_sum"))
      }.select(unix_timestamp(col("window.start")).as("ws"),
          col("event_type"), col("cnt"), col("val_sum"))
        .orderBy(col("ws"), col("event_type"))
    },

    // Sliding window: 2-hour length, 1-hour slide — every event lands in
    // two windows.
    Q("stream_slide",
      """SELECT ws, CAST(count(*) AS BIGINT) AS cnt FROM (
        |  SELECT CAST((floor(epoch(ts) / 3600) - r.i) * 3600 AS BIGINT) AS ws
        |  FROM events, range(0, 2) r(i))
        |GROUP BY ws
        |ORDER BY ws""") { (s, d) =>
      runToTable(s, d, "complete") { src =>
        src.groupBy(window(col("ts"), "2 hours", "1 hour"))
          .agg(count(lit(1)).as("cnt"))
      }.select(unix_timestamp(col("window.start")).as("ws"), col("cnt"))
        .orderBy(col("ws"))
    },

    // Streaming windowed TOP-K: the per-(window, type) counts accumulate
    // in the streaming aggregation; the rank-and-cut runs on the
    // completed table — the standard lambda split (stream maintains the
    // additive state, the serving layer ranks), because row_number over
    // a running aggregate is not an incremental operator. At 100 TB the
    // streaming half shuffles once on (window, type); the ranking half
    // reads the tiny aggregate.
    Q("stream_topk",
      """SELECT ws, event_type, cnt FROM (
        |  SELECT ws, event_type, cnt,
        |    row_number() OVER (PARTITION BY ws
        |      ORDER BY cnt DESC, event_type) AS rk
        |  FROM (SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS ws,
        |          event_type, CAST(count(*) AS BIGINT) AS cnt
        |        FROM events GROUP BY 1, 2))
        |WHERE rk <= 2
        |ORDER BY ws, cnt DESC, event_type""") { (s, d) =>
      val t = runToTable(s, d, "complete") { src =>
        src.groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("cnt"))
      }
      val flat = t.select(unix_timestamp(col("window.start")).as("ws"),
        col("event_type"), col("cnt"))
      val w = Window.partitionBy(col("ws"))
        .orderBy(col("cnt").desc, col("event_type"))
      flat.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 2)
        .select(col("ws"), col("event_type"), col("cnt"))
        .orderBy(col("ws"), col("cnt").desc, col("event_type"))
    },

    // Streaming dedup (D1 analog): distinct (user_id, event_type) keys
    // emitted on first arrival.
    Q("stream_dedup",
      """SELECT DISTINCT user_id, event_type
        |FROM events
        |ORDER BY user_id, event_type""") { (s, d) =>
      runToTable(s, d, "append") { src =>
        src.select(col("user_id"), col("event_type"))
          .dropDuplicates(Seq("user_id", "event_type"))
      }.orderBy(col("user_id"), col("event_type"))
    },

    // Stream-static enrichment join (E1/E2 analog): the event stream
    // left-joined to the customer dimension, aggregated per segment.
    Q("stream_enrich",
      s"""SELECT c_mktsegment AS segment,
         |  CAST(count(*) AS BIGINT) AS cnt,
         |  ${decSum("value")} AS val_sum
         |FROM events JOIN customer ON user_id = c_custkey
         |GROUP BY 1
         |ORDER BY segment""") { (s, d) =>
      val dim = Tables.customer(s, d)
      runToTable(s, d, "complete") { src =>
        src.join(broadcast(dim), col("user_id") === col("c_custkey"))
          .groupBy(col("c_mktsegment").as("segment"))
          .agg(count(lit(1)).as("cnt"),
            expr(decSum("value")).as("val_sum"))
      }.orderBy(col("segment"))
    },

    // Stream-stream join: purchases within 30 minutes after a click by
    // the same user. Both sides watermarked; inner joins emit eagerly.
    Q("stream_stream_join",
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        |ORDER BY click_id, purchase_id""") { (s0, d) =>
      val name = "st_" + math.abs(scala.util.Random.nextLong()).toString
      // Same state-store sizing as runToTable (stream-stream joins keep
      // FOUR stores per partition — sizing matters twice as much here),
      // scoped to a session clone.
      val s = graft.Sessions.withShufflePartitions(s0, 8)
      val clicks = eventsStream(s, d)
        .filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val purchases = eventsStream(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTE"))
      val q = joined.select(col("click_id"), col("purchase_id"), col("user_id"))
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try { q.processAllAvailable() } finally { q.stop() }
      s.table(name).orderBy(col("click_id"), col("purchase_id"))
    },

    // Stream-stream LEFT OUTER join: every click, with its matching
    // purchase or NULL if none arrived in the window. Outer rows only
    // emit once the watermark passes the click's join window — with a
    // finite replay the last hour of clicks would stay locked in state
    // forever, so the replay appends a SECOND micro-batch holding one
    // far-future sentinel click+purchase pair (user -1): it advances
    // BOTH sides' watermarks past every real event, the no-data batch
    // that follows evicts the state, and every held outer row emits.
    // The sentinels' own (inner-matched) row is dropped from the
    // MATERIALIZED result, after the stream — a pre-join filter could be
    // pushed below the watermark node and starve it.
    Q("stream_join_louter",
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
        |FROM events c LEFT JOIN events p
        |  ON c.user_id = p.user_id
        | AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        |WHERE c.event_type = 'click'
        |ORDER BY click_id, purchase_id NULLS FIRST""") { (s0, d) =>
      val name = "st_" + math.abs(scala.util.Random.nextLong()).toString
      val s = graft.Sessions.withShufflePartitions(s0, 8) // see runToTable note
      val src = sentinelReplayDir(s, d)
      def side(): DataFrame = readEventsReplay(s, src, Some(1))
      val joined = outerClickPurchaseJoin(side(), side())
      val q = joined.select(col("click_id"), col("purchase_id"), col("user_id"))
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try { q.processAllAvailable() } finally { q.stop() }
      s.table(name)
        .filter(col("user_id") >= 0) // sentinel pair, post-materialization
        .orderBy(col("click_id"), col("purchase_id").asc_nulls_first)
    },

    // Session windows (5-hour inactivity gap) per user — batch form of
    // session_window; the oracle is the gaps-and-islands rewrite.
    Q("sess_window_batch",
      """WITH m AS (SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch(ts) - epoch(lag(ts) OVER w) > 18000 THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM m)
        |SELECT user_id,
        |  CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM g
        |GROUP BY user_id, sid
        |ORDER BY user_id, session_start""") { (s, d) =>
      Tables.events(s, d)
        .groupBy(session_window(col("ts"), "5 hours"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_timestamp(col("session_window.start")).as("session_start"),
          col("n_events"))
        .orderBy(col("user_id"), col("session_start"))
    },

    // The same session windows ACTUALLY STREAMING: session_window over
    // the replayed event stream (complete mode — sessions merge as late
    // events arrive, final state equals the batch gaps-and-islands
    // oracle above).
    Q("stream_session",
      """WITH m AS (SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch(ts) - epoch(lag(ts) OVER w) > 18000 THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM m)
        |SELECT user_id,
        |  CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM g
        |GROUP BY user_id, sid
        |ORDER BY user_id, session_start""") { (s, d) =>
      runToTable(s, d, "complete") { src =>
        src.groupBy(session_window(col("ts"), "5 hours"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
      }.select(col("user_id"),
          unix_timestamp(col("session_window.start")).as("session_start"),
          col("n_events"))
        .orderBy(col("user_id"), col("session_start"))
    },

    // Arbitrary stateful processing on the v2 state API
    // (transformWithState + RocksDB state store): per-user monotone
    // high-water filter — emit events whose value strictly exceeds all
    // prior values. Final state over the replay equals the batch
    // running-max window query (the oracle); the operator's checkpointed
    // state is read back and checked by StateStoreReaderSpec.
    Q("stream_monotone_tws",
      """SELECT event_id, user_id, round(value, 4) AS value FROM (
        |  SELECT event_id, user_id, value,
        |    max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_max
        |  FROM events)
        |WHERE prior_max IS NULL OR value > prior_max
        |ORDER BY event_id""") { (s, d) =>
      import graft.streaming.{EventRec, RunningMaxProcessor}
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      runToTable(s, d, "append", Map(
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")) { src =>
        val sc = src.sparkSession // the conf-scoped clone
        import sc.implicits._
        src.select(col("event_id"), col("ts"), col("user_id"), col("value"))
          .as[EventRec]
          .groupByKey(_.user_id)
          .transformWithState(new RunningMaxProcessor,
            TimeMode.None(), OutputMode.Append())
          .toDF()
      }.select(col("event_id"), col("user_id"),
        round(col("value"), 4).as("value"))
        .orderBy(col("event_id"))
    },

    // CDC APPLY: the event stream consumed as a changelog (each row an
    // upsert for its user, 'error' rows acting as tombstones), applied
    // through per-key state that keeps the latest change by EVENT time
    // — late/out-of-order entries are dropped rather than clobbering
    // newer state, the property that distinguishes changelog apply from
    // last-arrival-wins. The stateful hop emits a strictly-increasing
    // snapshot sequence per key; the serving cut (final snapshot +
    // tombstone filter) runs on the completed table. Oracle: per-key
    // event-time argmax with tombstoned keys removed. State is one
    // (micros, event_id) pair per key on the RocksDB provider — the
    // 100 TB-cardinality posture.
    Q("stream_cdc_apply",
      """SELECT user_id, event_id AS last_event_id,
        |  round(value, 4) AS value FROM (
        |  SELECT user_id, event_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rk
        |  FROM events)
        |WHERE rk = 1 AND event_type <> 'error'
        |ORDER BY user_id""") { (s, d) =>
      import graft.streaming.{CdcApplyProcessor, CdcRec}
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val t = runToTable(s, d, "append", Map(
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")) { src =>
        val sc = src.sparkSession
        import sc.implicits._
        src.select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .as[CdcRec]
          .groupByKey(_.user_id)
          .transformWithState(new CdcApplyProcessor,
            TimeMode.None(), OutputMode.Append())
          .toDF()
      }
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      t.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1 && col("event_type") =!= "error")
        .select(col("user_id"), col("event_id").as("last_event_id"),
          round(col("value"), 4).as("value"))
        .orderBy(col("user_id"))
    },

    // Continuous near-dup detection: MinHash/LSH candidate pairs found
    // WHILE the corpus streams in — the shape a 100 TB ingest pipeline
    // actually runs (dedup during ingestion, not as a nightly batch).
    // The whole signature computation is per-row higher-order functions
    // (shingle array → digest array → 8 band minima), so the stream
    // stays aggregation-free until the single stateful hop: band buckets
    // keyed (seed, mh), each holding the doc ids seen so far and
    // emitting (old, new) pairs as documents arrive. The replay is
    // forced through 4 micro-batches (maxFilesPerTrigger=1), so pairs
    // genuinely form across batch boundaries via the state store; the
    // completed pair set equals the batch LSH self-join regardless of
    // arrival order (pairs are normalized d1 < d2 at emission).
    Q("stream_lsh_candidates",
      s"""WITH sh AS (${TextQueries.shinglesSql}),
         |sv AS (SELECT doc_id, ${TextQueries.shingleIntDuck} AS v FROM sh),
         |h AS (SELECT doc_id, r.seed AS seed,
         |        min(${TextQueries.mhMixSql("v", "r.seed")}) AS mh
         |      FROM sv, range(0, 8) r(seed)
         |      GROUP BY doc_id, r.seed)
         |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |FROM h a JOIN h b
         |  ON a.seed = b.seed AND a.mh = b.mh AND a.doc_id < b.doc_id
         |ORDER BY d1, d2""") { (s, d) =>
      val out = runDocsStream(s, d)(src => lshCandidateStream(s, src))
      // Multi-band agreements emit once per shared bucket; the batch
      // oracle's DISTINCT is applied to the completed set the same way.
      out.distinct().orderBy(col("d1"), col("d2"))
    },

    // Streaming conversion funnel: the stateful twin of funnel_steps.
    // Events replay through 4 TIME-ORDERED micro-batches (quartile
    // files, maxFilesPerTrigger=1); per-user state is the monotone
    // 3-slot machine (first view, first later click, first later
    // purchase) — each slot is written once and never revised, so state
    // is O(1) per user forever. Within a batch the group's rows are
    // sorted by (ts, type); across batches time-ordered replay makes
    // the concatenation of sorted batches equal the global sorted fold,
    // so the completed state equals the batch funnel exactly (same-ts
    // races can't chain transitions — strict > comparisons). Oracle =
    // the funnel_steps CTE chain verbatim.
    // Streaming materialized-view refresh: a complete-mode aggregate
    // snapshotted to a parquet serving table after EVERY micro-batch
    // (foreachBatch overwrite) — the continuously-refreshed dashboard
    // table pattern. The oracle reads the FINAL snapshot: after the
    // replay drains, the serving table must equal the batch aggregate
    // exactly (refresh is atomic per epoch — readers see either the
    // previous or the new snapshot, never a partial one).
    Q("stream_mv_refresh",
      s"""SELECT event_type,
         |  CAST(count(*) AS BIGINT) AS cnt,
         |  ${decSum("value")} AS val_sum
         |FROM events
         |GROUP BY event_type
         |ORDER BY event_type""") { (s, d) =>
      val mvDir = Derived.path("mv", d, "events")
      val agg = eventsStream(s, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), expr(decSum("value")).as("val_sum"))
      // ATOMIC refresh: each snapshot lands in its own epoch directory,
      // then a pointer file is swapped via ATOMIC_MOVE — a concurrent
      // reader always resolves either the previous or the new complete
      // snapshot, never a half-written table (a bare
      // mode("overwrite").parquet(dir) deletes-then-rewrites the dir, so
      // it cannot make that promise). Old epochs are removed only after
      // the pointer has moved on.
      val q = agg.writeStream.outputMode("complete")
        .foreachBatch { (snapshot: DataFrame, epoch: Long) =>
          val epochDir = s"$mvDir/epoch-$epoch"
          snapshot.coalesce(1).write.mode("overwrite").parquet(epochDir)
          val ptr = java.nio.file.Paths.get(mvDir, "_LATEST")
          val tmp = java.nio.file.Paths.get(mvDir, s"_LATEST.tmp-$epoch")
          java.nio.file.Files.write(tmp, s"epoch-$epoch".getBytes("UTF-8"))
          java.nio.file.Files.move(tmp, ptr,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          // retire superseded epochs (pointer already moved past them)
          val root = java.nio.file.Paths.get(mvDir)
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.list(root).iterator().asScala
            .filter(p => p.getFileName.toString.startsWith("epoch-") &&
              p.getFileName.toString != s"epoch-$epoch")
            .foreach(Derived.deleteTree)
        }.start()
      try { q.processAllAvailable() } finally { q.stop() }
      val latest = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(mvDir, "_LATEST")), "UTF-8").trim
      s.read.parquet(s"$mvDir/$latest")
        .select(col("event_type"), col("cnt"), col("val_sum"))
        .orderBy(col("event_type"))
    },

    // Streaming SCD2: the stateful twin of dim_scd2_intervals — per-user
    // state carries (current type, since); a type change EMITS the closed
    // interval and re-arms. Consumes the time-ordered quartile replay
    // (events arrive chronologically across micro-batches, as an ordered
    // log would deliver them; within a batch rows sort by (ts,
    // event_id)), so emitted intervals are exactly the batch build's
    // CLOSED intervals — open (current-state) intervals live in state and
    // are never emitted, matching the oracle's valid_to IS NOT NULL cut.
    Q("stream_scd2", Scd2OracleSql) { (s0, d) =>
      val name = "st_" + math.abs(scala.util.Random.nextLong()).toString
      val s = graft.Sessions.withShufflePartitions(s0, 8) // see runToTable note
      val src = readEventsReplay(s, timeOrderedReplayDir(s, d), Some(1))
      val scd = scd2Stream(s, src)
      val q = scd.writeStream
        .format("memory").queryName(name).outputMode("append").start()
      try { q.processAllAvailable() } finally { q.stop() }
      s.table(name)
        .orderBy(col("user_id"), col("valid_from"), col("event_type"))
    },

    // Streaming SCD2 on the v2 state API — same contract and oracle as
    // stream_scd2, but the per-user (current type, since) state rides
    // transformWithState on the RocksDB provider (Scd2Processor) instead
    // of fMGWS: native state TTL/timers available, state-store reader
    // introspectable, and the RocksDB backend is the 100 TB-cardinality
    // posture for a user-keyed dimension.
    Q("stream_scd2_tws", Scd2OracleSql) { (s0, d) =>
      val name = "st_" + math.abs(scala.util.Random.nextLong()).toString
      val s = graft.Sessions.withShufflePartitions(s0, 8)
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val src = readEventsReplay(s, timeOrderedReplayDir(s, d), Some(1))
      val q = scd2StreamTws(s, src).writeStream
        .format("memory").queryName(name).outputMode("append").start()
      try { q.processAllAvailable() } finally { q.stop() }
      s.table(name)
        .orderBy(col("user_id"), col("valid_from"), col("event_type"))
    },

    // Streaming sessionizer with EXPLICIT ids: per-user state carries
    // (last event micros, current session index); a 30-minute silence
    // bumps the index, and every event emits its (session id) membership
    // row — the per-event assignment downstream stream joins need, which
    // session_window's merged aggregates can't give. Session membership
    // of an event never depends on FUTURE events, so the append-mode
    // emission over the time-ordered replay is final-state equivalent to
    // the batch assignment (sess_ids' window form).
    Q("stream_sess_ids",
      """WITH o AS (SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id)) > 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM events)
        |SELECT user_id, event_id,
        |  CAST(sum(brk) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS INT) AS sess_id
        |FROM o
        |ORDER BY user_id, event_id""") { (s0, d) =>
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
      val s = graft.Sessions.withShufflePartitions(s0, 8) // see runToTable note
      import s.implicits._
      val name = "st_" + math.abs(scala.util.Random.nextLong()).toString
      val src = readEventsReplay(s, timeOrderedReplayDir(s, d), Some(1))
      val sess = src
        .select(col("user_id"), unix_micros(col("ts")).as("tsu"), col("event_id"))
        .as[(Long, Long, Long)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (uid: Long, rows: Iterator[(Long, Long, Long)],
           state: GroupState[(Long, Int)]) => // (last micros, session idx)
            val out = scala.collection.mutable.ListBuffer.empty[(Long, Long, Int)]
            var (last, sid) = state.getOption.getOrElse((Long.MinValue, 0))
            rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, tsu, eid) =>
              if (last == Long.MinValue || tsu - last > 1800000000L) sid += 1
              last = tsu
              out += ((uid, eid, sid))
            }
            state.update((last, sid))
            out.iterator
        }
        .toDF("user_id", "event_id", "sess_id")
      val q = sess.writeStream
        .format("memory").queryName(name).outputMode("append").start()
      try { q.processAllAvailable() } finally { q.stop() }
      s.table(name).orderBy(col("user_id"), col("event_id"))
    },

    Q("stream_funnel", BehaviorQueries.FunnelOracleSql) { (s0, d) =>
      val name = "st_" + math.abs(scala.util.Random.nextLong()).toString
      val s = graft.Sessions.withShufflePartitions(s0, 8) // see runToTable note
      val src = readEventsReplay(s, timeOrderedReplayDir(s, d), Some(1))
      val q = funnelStream(s, src).writeStream
        .format("memory").queryName(name).outputMode("update").start()
      try { q.processAllAvailable() } finally { q.stop() }
      // Update mode emits one snapshot per touched user per batch; the
      // slots are monotone (set once, never cleared) so max() recovers
      // the final state of each user.
      s.table(name)
        .groupBy("user_id")
        .agg(max("t1").as("t1"), max("t2").as("t2"), max("t3").as("t3"))
        .agg(count(col("t1")).as("s1"), count(col("t2")).as("s2"),
          count(col("t3")).as("s3"))
        .selectExpr(
          """stack(3, 'step1_view', s1, 'step2_click', s2,
            |'step3_purchase', s3) AS (step, users)""".stripMargin)
        .orderBy("step")
    },

    // The funnel's v2-state twin (FunnelProcessor on transformWithState
    // + RocksDB): same monotone per-user slots and update-mode snapshot
    // emission as stream_funnel, same oracle, same max()-rollup recovery
    // of the final state — only the state API differs.
    Q("stream_funnel_tws", BehaviorQueries.FunnelOracleSql) { (s0, d) =>
      val name = "st_" + math.abs(scala.util.Random.nextLong()).toString
      val s = graft.Sessions.withShufflePartitions(s0, 8)
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val src = readEventsReplay(s, timeOrderedReplayDir(s, d), Some(1))
      val q = funnelStreamTws(s, src).writeStream
        .format("memory").queryName(name).outputMode("update").start()
      try { q.processAllAvailable() } finally { q.stop() }
      s.table(name)
        .groupBy("user_id")
        .agg(max("t1").as("t1"), max("t2").as("t2"), max("t3").as("t3"))
        .agg(count(col("t1")).as("s1"), count(col("t2")).as("s2"),
          count(col("t3")).as("s3"))
        .selectExpr(
          """stack(3, 'step1_view', s1, 'step2_click', s2,
            |'step3_purchase', s3) AS (step, users)""".stripMargin)
        .orderBy("step")
    },

    // Streaming drift monitor: per-day score-bucket distributions
    // accumulate in the STREAMING aggregation (one (window, bucket)
    // keyed state — the additive half); the PSI of each day against
    // the whole-period reference is computed on the completed
    // day×bucket table (the serving half) — the same lambda split as
    // stream_topk, because a ratio-of-totals isn't incremental. At
    // 100 TB the stream shuffles once on (day, bucket); the PSI math
    // runs on a days×buckets relation.
    Q("stream_psi",
      """WITH e AS (SELECT CAST(floor(epoch(date_trunc('day', ts)) / 86400)
        |      AS BIGINT) AS day,
        |    least(greatest(CAST(floor(value / 25) AS INT), -4), 7) AS b
        |  FROM events),
        |c AS (SELECT day, b, count(*) AS c FROM e GROUP BY 1, 2),
        |n AS (SELECT day, sum(c) AS n FROM c GROUP BY 1),
        |r AS (SELECT b, sum(c) AS rc FROM c GROUP BY 1),
        |rn AS (SELECT sum(rc) AS rn, CAST(count(*) AS BIGINT) AS nb FROM r),
        |x AS (SELECT n.day, r.b,
        |    (coalesce(c.c, 0) + 1) / CAST(n.n + rn.nb AS DOUBLE) AS p,
        |    (r.rc + 1) / CAST(rn.rn + rn.nb AS DOUBLE) AS q
        |  FROM n CROSS JOIN r CROSS JOIN rn
        |  LEFT JOIN c ON c.day = n.day AND c.b = r.b)
        |SELECT day,
        |  floor(CAST(sum(CAST((p - q) * ln(p / q) AS DECIMAL(28,12)))
        |    AS DOUBLE) * 10000 + 0.5) / 10000.0 AS psi
        |FROM x GROUP BY 1 ORDER BY day""") { (s, d) =>
      val t = runToTable(s, d, "complete") { src =>
        src.groupBy(window(col("ts"), "1 day"),
            least(greatest(expr("CAST(floor(value / 25) AS INT)"), lit(-4)),
              lit(7)).as("b"))
          .agg(count(lit(1)).as("c"))
      }.select((unix_timestamp(col("window.start")) / 86400)
          .cast("long").as("day"), col("b"), col("c"))
      // days×buckets relation (tiny): eager-checkpoint so the three
      // derivations below self-join cleanly (the memory-sink view's
      // shared plan otherwise trips conflicting-reference resolution).
      val c = t.localCheckpoint(true)
      val n = c.groupBy(col("day")).agg(sum(col("c")).as("n"))
      val r = c.groupBy(col("b")).agg(sum(col("c")).as("rc"))
      val rn = r.agg(sum(col("rc")).as("rn"), count(lit(1)).as("nb"))
      n.crossJoin(broadcast(r))
        .crossJoin(broadcast(rn))
        .join(c, Seq("day", "b"), "left")
        .select(col("day"),
          ((coalesce(col("c"), lit(0L)) + 1) /
            (col("n") + col("nb")).cast("double")).as("p"),
          ((col("rc") + 1) /
            (col("rn") + col("nb")).cast("double")).as("q"))
        .groupBy(col("day"))
        .agg(expr("""CAST(floor(CAST(sum(CAST((p - q) * ln(p / q)
               |  AS DECIMAL(28,12))) AS DOUBLE) * 10000 + 0.5)
               |  / 10000.0 AS DOUBLE)""".stripMargin).as("psi"))
        .orderBy(col("day"))
    },

    // Streaming freshness monitor — the stateful twin of dq_freshness:
    // the stream maintains per-(type, day) ts extrema in the streaming
    // aggregation state (complete mode, constant-size state: types ×
    // active days), and the staleness report (lag to the corpus
    // watermark, active-day coverage) computes on the completed tiny
    // table — the stream_psi lambda split. In production the same
    // query tails the live feed and the lag column IS the stall alert;
    // the replay's final answer must equal the batch audit exactly.
    Q("stream_freshness",
      """WITH t AS (SELECT event_type, max(ts) AS max_ts, min(ts) AS min_ts,
        |    CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS active_days
        |  FROM events GROUP BY 1),
        |w AS (SELECT max(max_ts) AS wm FROM t)
        |SELECT event_type,
        |  CAST(date_diff('second', max_ts, w.wm) AS BIGINT) AS lag_sec,
        |  CAST(date_diff('day', CAST(min_ts AS DATE), CAST(max_ts AS DATE))
        |    + 1 AS BIGINT) AS span_days,
        |  active_days,
        |  round(active_days / CAST(date_diff('day', CAST(min_ts AS DATE),
        |    CAST(max_ts AS DATE)) + 1 AS DOUBLE), 4) AS day_coverage
        |FROM t CROSS JOIN w ORDER BY event_type""") { (s, d) =>
      val perDay = runToTable(s, d, "complete") { src =>
        src.groupBy(col("event_type"), window(col("ts"), "1 day"))
          .agg(max(col("ts")).as("mx"), min(col("ts")).as("mn"))
      }.localCheckpoint(true)
      val t = perDay.groupBy(col("event_type"))
        .agg(max(col("mx")).as("max_ts"), min(col("mn")).as("min_ts"),
          count(lit(1)).cast("long").as("active_days"))
      val w = t.agg(max(col("max_ts")).as("wm"))
      t.crossJoin(broadcast(w))
        .select(col("event_type"),
          (unix_timestamp(col("wm")) - unix_timestamp(col("max_ts")))
            .cast("long").as("lag_sec"),
          (datediff(col("max_ts").cast("date"), col("min_ts").cast("date"))
            + 1).cast("long").as("span_days"),
          col("active_days"),
          round(col("active_days") /
            (datediff(col("max_ts").cast("date"),
              col("min_ts").cast("date")) + 1).cast("double"), 4)
            .as("day_coverage"))
        .orderBy(col("event_type"))
    },

    // STREAMING last-touch attribution — the stateful twin of
    // behavior_attribution_lt (same oracle): per-user state carries the
    // latest click/view (type, event-time micros); each purchase emits
    // its channel on arrival. Attribution of a purchase never depends
    // on FUTURE events, so append-mode emission over the time-ordered
    // replay is final-state equivalent to the batch window form. One
    // stateful hop keyed on user_id; the channel rollup runs on the
    // emitted purchase stream.
    Q("stream_attrib_lt",
      """WITH o AS (SELECT user_id, ts, event_id, event_type, value,
        |    last_value(CASE WHEN event_type IN ('click', 'view')
        |        THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch,
        |    last_value(CASE WHEN event_type IN ('click', 'view')
        |        THEN ts END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_ts
        |  FROM events)
        |SELECT CASE WHEN touch IS NOT NULL
        |         AND ts <= touch_ts + INTERVAL 24 HOUR THEN touch
        |       ELSE 'direct' END AS channel,
        |  CAST(count(*) AS BIGINT) AS purchases,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS attributed_value
        |FROM o WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY channel""") { (s0, d) =>
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
      val s = graft.Sessions.withShufflePartitions(s0, 8) // see runToTable note
      import s.implicits._
      val name = "st_" + math.abs(scala.util.Random.nextLong()).toString
      val src = readEventsReplay(s, timeOrderedReplayDir(s, d), Some(1))
      val attributed = src
        .select(col("user_id"), unix_micros(col("ts")).as("tsu"),
          col("event_id"), col("event_type"), col("value"))
        .as[(Long, Long, Long, String, Double)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (_: Long, rows: Iterator[(Long, Long, Long, String, Double)],
           state: GroupState[(String, Long)]) => // (last touch type, micros)
            val out = scala.collection.mutable.ListBuffer.empty[(String, Double)]
            var (tt, tts) = state.getOption.getOrElse(("", Long.MinValue))
            // Oracle frame is "UNBOUNDED PRECEDING AND 1 PRECEDING" over
            // (ts, event_id): emit the purchase BEFORE absorbing any
            // same-row update, in that exact order.
            rows.toSeq.sortBy(r => (r._2, r._3)).foreach {
              case (_, tsu, _, typ, v) =>
                if (typ == "purchase") {
                  val ch = if (tts != Long.MinValue && tsu - tts <= 86400000000L)
                    tt else "direct"
                  out += ((ch, v))
                }
                if (typ == "click" || typ == "view") { tt = typ; tts = tsu }
            }
            state.update((tt, tts))
            out.iterator
        }
        .toDF("channel", "value")
      val q = attributed.writeStream
        .format("memory").queryName(name).outputMode("append").start()
      try { q.processAllAvailable() } finally { q.stop() }
      s.table(name)
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("purchases"),
          sum(col("value").cast("decimal(18,4)")).cast("double")
            .as("attributed_value"))
        .orderBy(col("channel"))
    },

    // STREAMING volume-anomaly monitor — the lambda split (stream_psi /
    // stream_freshness pattern) applied to the robust MAD census: the
    // streaming aggregation maintains (type, day) counts in
    // complete-mode state; the modified-z anomaly report
    // (ts_anomaly_mad's exact tail, same oracle) computes on the
    // completed days×types table — days ≪ events, so the serving-side
    // percentile work never touches the stream's raw volume. In
    // production the same report tails the live counts and the flag
    // column IS the pager alert; the replay's final answer must equal
    // the batch census exactly.
    Q("stream_anomaly",
      """WITH dc AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2),
        |md AS (SELECT event_type,
        |    quantile_cont(CAST(c AS DOUBLE), 0.5) AS med FROM dc GROUP BY 1),
        |ad AS (SELECT dc.event_type,
        |    quantile_cont(abs(c - med), 0.5) AS mad
        |  FROM dc JOIN md USING (event_type) GROUP BY 1),
        |z AS (SELECT dc.event_type, day, c,
        |    0.6745 * (c - med) / nullif(mad, 0) AS mz
        |  FROM dc JOIN md USING (event_type) JOIN ad USING (event_type))
        |SELECT z.event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  round(max(md.med), 4) AS med, round(max(ad.mad), 4) AS mad,
        |  CAST(sum(CASE WHEN abs(mz) > 3.5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_anomalies,
        |  min(CASE WHEN abs(mz) > 3.5 THEN day END) AS first_anomaly
        |FROM z JOIN md ON md.event_type = z.event_type
        |JOIN ad ON ad.event_type = z.event_type
        |GROUP BY z.event_type ORDER BY z.event_type""") { (s, d) =>
      val perDay = runToTable(s, d, "complete") { src =>
        src.groupBy(col("event_type"), window(col("ts"), "1 day"))
          .agg(count(lit(1)).as("c"))
      }.localCheckpoint(true)
      val dc = perDay.select(col("event_type"),
        col("window.start").cast("date").as("day"), col("c"))
      val md = dc.groupBy(col("event_type"))
        .agg(expr("percentile(CAST(c AS DOUBLE), 0.5)").as("med"))
      val ad = dc.join(broadcast(md), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(expr("percentile(abs(c - med), 0.5)").as("mad"))
      dc.join(broadcast(md), Seq("event_type"))
        .join(broadcast(ad), Seq("event_type"))
        .withColumn("mz",
          lit(0.6745) * (col("c") - col("med")) / nullif(col("mad"), lit(0d)))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          round(max(col("med")), 4).as("med"),
          round(max(col("mad")), 4).as("mad"),
          sum(when(abs(col("mz")) > 3.5, 1).otherwise(0)).cast("long")
            .as("n_anomalies"),
          min(when(abs(col("mz")) > 3.5, col("day"))).as("first_anomaly"))
        .orderBy(col("event_type"))
    },

    // STREAMING A/B experiment monitor — the live twin of eval_ab_ztest
    // (same oracle): the stream maintains the per-(user, arm) converted
    // flag in complete-mode aggregation state (one row per user — the
    // exact state a production experiment dashboard tails), and the
    // two-proportion z algebra runs on the completed user table — the
    // stream_psi lambda split. The decision statistic over the replay
    // must equal the batch test bit-for-bit; in deployment the same
    // query reports a continuously-updating z as traffic arrives.
    Q("stream_ab_monitor",
      """WITH u AS (SELECT user_id,
        |    CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
        |      THEN 'A' ELSE 'B' END AS arm,
        |    max(CASE WHEN event_type = 'purchase' AND value > 150
        |      THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT arm, count(*) AS n, sum(conv) AS c FROM u GROUP BY 1),
        |w AS (SELECT
        |    max(CASE WHEN arm = 'A' THEN n END) AS na,
        |    max(CASE WHEN arm = 'A' THEN c END) AS ca,
        |    max(CASE WHEN arm = 'B' THEN n END) AS nb,
        |    max(CASE WHEN arm = 'B' THEN c END) AS cb
        |  FROM g)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(ca AS BIGINT) AS conv_a,
        |  CAST(nb AS BIGINT) AS n_b, CAST(cb AS BIGINT) AS conv_b,
        |  round(ca / CAST(na AS DOUBLE) - cb / CAST(nb AS DOUBLE), 4)
        |    AS lift,
        |  round((ca / CAST(na AS DOUBLE) - cb / CAST(nb AS DOUBLE))
        |    / nullif(sqrt(((ca + cb) / CAST(na + nb AS DOUBLE))
        |      * (1 - (ca + cb) / CAST(na + nb AS DOUBLE))
        |      * (1.0 / na + 1.0 / nb)), 0), 4) AS z_stat,
        |  CAST(abs((ca / CAST(na AS DOUBLE) - cb / CAST(nb AS DOUBLE))
        |    / nullif(sqrt(((ca + cb) / CAST(na + nb AS DOUBLE))
        |      * (1 - (ca + cb) / CAST(na + nb AS DOUBLE))
        |      * (1.0 / na + 1.0 / nb)), 0)) > 1.96 AS BOOLEAN) AS significant
        |FROM w""") { (s, d) =>
      val u = runToTable(s, d, "complete") { src =>
        src.groupBy(col("user_id"),
            when(substring(md5(col("user_id").cast("string")), 1, 1) < "8",
              "A").otherwise("B").as("arm"))
          .agg(max(when(col("event_type") === "purchase" &&
            col("value") > 150, 1).otherwise(0)).as("conv"))
      }.localCheckpoint(true)
      val w = u.groupBy(col("arm"))
        .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
        .agg(max(when(col("arm") === "A", col("n"))).as("na"),
          max(when(col("arm") === "A", col("c"))).as("ca"),
          max(when(col("arm") === "B", col("n"))).as("nb"),
          max(when(col("arm") === "B", col("c"))).as("cb"))
      val pa = col("ca") / col("na").cast("double")
      val pb = col("cb") / col("nb").cast("double")
      val pp = (col("ca") + col("cb")) / (col("na") + col("nb")).cast("double")
      val z = (pa - pb) / nullif(sqrt(pp * (lit(1) - pp) *
        (lit(1.0) / col("na") + lit(1.0) / col("nb"))), lit(0d))
      w.select(col("na").cast("long").as("n_a"),
        col("ca").cast("long").as("conv_a"),
        col("nb").cast("long").as("n_b"),
        col("cb").cast("long").as("conv_b"),
        round(pa - pb, 4).as("lift"),
        round(z, 4).as("z_stat"),
        (abs(z) > 1.96).as("significant"))
    },

    // STREAMING SPRT — the live twin of eval_sprt (same oracle): the
    // stream maintains per-day (trials, conversions) in event-time
    // windowed aggregation state; the Wald LLR walk and boundary
    // decisions compute on the completed day table with the same
    // exact-decimal literal terms as the batch form. In deployment the
    // trace grows a row per day and the decision column flips exactly
    // once — the always-valid sequential monitor over live traffic.
    Q("stream_sprt",
      """WITH dd AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n,
        |    sum(CASE WHEN event_type = 'purchase' AND "value" > 150
        |      THEN 1 ELSE 0 END) AS c
        |  FROM events GROUP BY 1),
        |l AS (SELECT day, n, c,
        |    CAST(c * CAST(0.6931472 AS DECIMAL(9,7))
        |      - (n - c) * CAST(0.0206193 AS DECIMAL(9,7))
        |      AS DECIMAL(28,12)) AS llr
        |  FROM dd),
        |w AS (SELECT day, n, c, llr,
        |    sum(llr) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM l)
        |SELECT day, CAST(n AS BIGINT) AS n_trials,
        |  CAST(c AS BIGINT) AS conversions,
        |  round(CAST(llr AS DOUBLE), 4) AS llr_day,
        |  round(CAST(cum AS DOUBLE), 4) AS llr_cum,
        |  CASE WHEN cum >= CAST(2.944439 AS DECIMAL(28,12))
        |         THEN 'accept_h1'
        |       WHEN cum <= CAST(-2.944439 AS DECIMAL(28,12))
        |         THEN 'accept_h0'
        |       ELSE 'continue' END AS decision
        |FROM w ORDER BY day""") { (s, d) =>
      val dd = runToTable(s, d, "complete") { src =>
        src.groupBy(window(col("ts"), "1 day"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("event_type") === "purchase" && col("value") > 150,
              1).otherwise(0)).as("c"))
      }.select(col("window.start").cast("date").as("day"),
        col("n"), col("c")).localCheckpoint(true)
      val l = dd.withColumn("llr",
        (col("c") * lit(0.6931472).cast("decimal(9,7)")
          - (col("n") - col("c")) * lit(0.0206193).cast("decimal(9,7)"))
          .cast("decimal(28,12)"))
      val cumw = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val w = l.withColumn("cum", sum(col("llr")).over(cumw))
      val bound = lit(2.944439).cast("decimal(28,12)")
      w.select(col("day"), col("n").cast("long").as("n_trials"),
          col("c").cast("long").as("conversions"),
          round(col("llr").cast("double"), 4).as("llr_day"),
          round(col("cum").cast("double"), 4).as("llr_cum"),
          when(col("cum") >= bound, "accept_h1")
            .when(col("cum") <= -bound, "accept_h0")
            .otherwise("continue").as("decision"))
        .orderBy(col("day"))
    },

    // STREAMING GROWTH-ACCOUNTING MONITOR — the live twin of
    // behavior_lifecycle_grid (same oracle: the two must agree
    // bit-for-bit on the replay's final state). The STREAM maintains
    // the distinct (user, week) activity relation as complete-mode
    // aggregation state — users × active weeks, the same state a
    // production engagement monitor carries (with watermarked
    // eviction of closed weeks at true scale); the
    // new/retained/resurrected/churned classification is pure batch
    // algebra on the completed tiny table, recomputed per trigger —
    // the stream_psi lambda split. Weeks are the wow_change
    // epoch-day buckets, computed INSIDE the streaming groupBy.
    Q("stream_lifecycle",
      """WITH uw AS (SELECT DISTINCT user_id AS u,
        |    CAST(floor((epoch(ts) / 86400 + 3) / 7) AS BIGINT) AS wk
        |  FROM events),
        |fw AS (SELECT u, min(wk) AS fwk FROM uw GROUP BY 1),
        |st AS (SELECT a.u, a.wk,
        |    CASE WHEN a.wk = fw.fwk THEN 'new'
        |         WHEN p.u IS NOT NULL THEN 'retained'
        |         ELSE 'resurrected' END AS state
        |  FROM uw a JOIN fw ON fw.u = a.u
        |  LEFT JOIN uw p ON p.u = a.u AND p.wk = a.wk - 1),
        |act AS (SELECT wk,
        |    CAST(sum(CASE WHEN state = 'new' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_new,
        |    CAST(sum(CASE WHEN state = 'retained' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_retained,
        |    CAST(sum(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_resurrected
        |  FROM st GROUP BY 1),
        |ch AS (SELECT a.wk + 1 AS wk, CAST(count(*) AS BIGINT)
        |    AS n_churned
        |  FROM uw a LEFT JOIN uw n ON n.u = a.u AND n.wk = a.wk + 1
        |  WHERE n.u IS NULL GROUP BY 1)
        |SELECT act.wk, n_new, n_retained, n_resurrected,
        |  coalesce(ch.n_churned, 0) AS n_churned,
        |  round((n_new + n_resurrected)
        |    / CAST(nullif(coalesce(ch.n_churned, 0), 0) AS DOUBLE), 4)
        |    AS quick_ratio
        |FROM act LEFT JOIN ch ON ch.wk = act.wk
        |ORDER BY act.wk""") { (s, d) =>
      val t = runToTable(s, d, "complete") { src =>
        src.groupBy(col("user_id").as("u"),
            floor((unix_timestamp(col("ts")) / 86400 + 3) / 7)
              .cast("long").as("wk"))
          .agg(count(lit(1)).as("c"))
      }
      val uw = t.select(col("u"), col("wk")).localCheckpoint(true)
      val fw = uw.groupBy(col("u")).agg(min(col("wk")).as("fwk"))
      val st = uw.as("a")
        .join(fw, Seq("u"))
        .join(uw.select(col("u"), (col("wk") + 1).as("wk"),
          lit(1).as("p")).as("p"), Seq("u", "wk"), "left_outer")
        .select(col("wk"),
          when(col("wk") === col("fwk"), "new")
            .when(col("p").isNotNull, "retained")
            .otherwise("resurrected").as("state"))
      val act = st.groupBy(col("wk"))
        .agg(sum(when(col("state") === "new", 1).otherwise(0)).as("n_new"),
          sum(when(col("state") === "retained", 1).otherwise(0))
            .as("n_retained"),
          sum(when(col("state") === "resurrected", 1).otherwise(0))
            .as("n_resurrected"))
      val ch = uw.as("a")
        .join(uw.select(col("u"), (col("wk") - 1).as("wk"),
          lit(1).as("nx")).as("n"), Seq("u", "wk"), "left_outer")
        .filter(col("nx").isNull)
        .groupBy((col("wk") + 1).as("wk"))
        .agg(count(lit(1)).as("n_churned"))
      act.join(ch, Seq("wk"), "left_outer")
        .select(col("wk"),
          col("n_new").cast("long").as("n_new"),
          col("n_retained").cast("long").as("n_retained"),
          col("n_resurrected").cast("long").as("n_resurrected"),
          coalesce(col("n_churned"), lit(0L)).cast("long").as("n_churned"),
          round((col("n_new") + col("n_resurrected"))
            / nullif(coalesce(col("n_churned"), lit(0L)), lit(0L))
              .cast("double"), 4).as("quick_ratio"))
        .orderBy(col("wk"))
    },

    // STREAMING FORECAST MONITOR — the live twin of ts_holt: the
    // stream maintains per-(type, day) counts in complete-mode state
    // (the exact state a deployed monitor tails), and the Holt
    // level+trend fold runs over the completed day series TWICE — pass
    // one accumulates the one-step-ahead |error| alongside the state
    // (same O(1)-state fold, no per-day materialization), pass two
    // re-runs the fold counting days whose forecast error exceeds
    // 2×MAE. Both passes are left-to-right IEEE folds with exact
    // dyadic weights, so every emitted figure is bit-stable across
    // engines. In deployment the same query emits a fresh
    // level/trend/surprise row per trigger; series length is bounded
    // by the calendar, keys scale out with the groupBy.
    {
      val seedL = "ys[2] / 2 + (ys[1] + (ys[2] - ys[1])) / 2"
      val seedB = s"(($seedL) - ys[1]) / 4 + ((ys[2] - ys[1]) * 3) / 4"
      val upL = "p[1] / 2 + (a[1] + a[2]) / 2"
      val upB = s"(($upL) - a[1]) / 4 + (a[2] * 3) / 4"
      val sSeedL = "ys[1] / 2D + (ys[0] + (ys[1] - ys[0])) / 2D"
      val sSeedB = s"(($sSeedL) - ys[0]) / 4D + ((ys[1] - ys[0]) * 3D) / 4D"
      val sUpL = "v / 2D + (a.l + a.b) / 2D"
      val sUpB = s"(($sUpL) - a.l) / 4D + (a.b * 3D) / 4D"
      Q("stream_forecast_monitor",
        s"""WITH dc AS (SELECT event_type, CAST(ts AS DATE) AS day,
          |    CAST(count(*) AS DOUBLE) AS yv
          |  FROM events GROUP BY 1, 2),
          |ser AS (SELECT event_type, list(yv ORDER BY day) AS ys,
          |    count(*) AS n_days
          |  FROM dc GROUP BY 1 HAVING count(*) >= 3),
          |f1 AS (SELECT event_type, n_days, ys,
          |    list_reduce(list_prepend(
          |      [$seedL, $seedB, CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)],
          |      list_transform(list_slice(ys, 3, len(ys)),
          |        v -> [v, v, v, v])),
          |      (a, p) -> [$upL, $upB,
          |        a[3] + abs(p[1] - (a[1] + a[2])),
          |        a[4] + 1]) AS s
          |  FROM ser),
          |m AS (SELECT event_type, n_days, ys, s,
          |    s[3] / s[4] AS mae FROM f1),
          |f2 AS (SELECT event_type, n_days, s, mae,
          |    list_reduce(list_prepend(
          |      [$seedL, $seedB, CAST(0 AS DOUBLE)],
          |      list_transform(list_slice(ys, 3, len(ys)),
          |        v -> [v, v, v])),
          |      (a, p) -> [$upL, $upB,
          |        a[3] + CAST(CASE WHEN abs(p[1] - (a[1] + a[2]))
          |          > 2 * mae THEN 1 ELSE 0 END AS DOUBLE)]) AS t
          |  FROM m)
          |SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
          |  round(s[1], 4) AS level, round(s[2], 4) AS trend,
          |  round(mae, 4) AS mae,
          |  CAST(t[3] AS BIGINT) AS n_surprises
          |FROM f2 ORDER BY event_type""") { (s, d) =>
        val perDay = runToTable(s, d, "complete") { src =>
          src.groupBy(col("event_type"), window(col("ts"), "1 day"))
            .agg(count(lit(1)).cast("double").as("yv"))
        }.localCheckpoint(true)
        val ser = perDay
          .select(col("event_type"),
            col("window.start").cast("date").as("day"), col("yv"))
          .groupBy(col("event_type"))
          .agg(expr(
            "transform(array_sort(collect_list(struct(day, yv))), x -> x.yv)")
            .as("ys"), count(lit(1)).as("n_days"))
          .filter(col("n_days") >= 3)
        val f1 = ser.withColumn("s", expr(
          s"""aggregate(slice(ys, 3, greatest(size(ys) - 2, 0)),
            |  named_struct('l', $sSeedL, 'b', $sSeedB,
            |    'serr', 0D, 'nerr', 0D),
            |  (a, v) -> named_struct('l', $sUpL, 'b', $sUpB,
            |    'serr', a.serr + abs(v - (a.l + a.b)),
            |    'nerr', a.nerr + 1D))""".stripMargin))
        val m = f1.withColumn("mae", col("s.serr") / col("s.nerr"))
        val f2 = m.withColumn("t", expr(
          s"""aggregate(slice(ys, 3, greatest(size(ys) - 2, 0)),
            |  named_struct('l', $sSeedL, 'b', $sSeedB, 'surp', 0D),
            |  (a, v) -> named_struct('l', $sUpL, 'b', $sUpB,
            |    'surp', a.surp +
            |      IF(abs(v - (a.l + a.b)) > 2D * mae, 1D, 0D)))"""
            .stripMargin))
        f2.select(col("event_type"), col("n_days").cast("long").as("n_days"),
            round(col("s.l"), 4).as("level"),
            round(col("s.b"), 4).as("trend"),
            round(col("mae"), 4).as("mae"),
            col("t.surp").cast("long").as("n_surprises"))
          .orderBy(col("event_type"))
      }
    },

    // STREAMING HISTOGRAM QUANTILES — how a live monitor reports
    // p50/p95/p99 without holding raw values: streaming state is the
    // per-(type, bucket) COUNT histogram (value bucketed to width-10
    // cells — a few hundred rows per key forever, the only state
    // shape that survives unbounded streams), and the quantile
    // read-out walks the bucket cumsum per type. The reported figure
    // is the quantile's BUCKET FLOOR — an exact integer with a
    // declared ±bucket-width error bar, which is the honest contract
    // of histogram quantiles (and why both engines agree bit-for-bit
    // where interpolated quantiles would not). Rank rule: smallest
    // bucket whose cumulative count reaches ceil(q·n).
    Q("stream_quantile_hist",
      """WITH b AS (SELECT event_type,
        |    CAST(floor(CAST("value" AS DOUBLE) / 10) AS BIGINT) AS bucket,
        |    count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, bucket, c,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY event_type) AS n
        |  FROM b)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
        |  CAST(min(CASE WHEN cum >= CAST(ceil(0.50 * n) AS BIGINT)
        |    THEN bucket * 10 END) AS BIGINT) AS p50_floor,
        |  CAST(min(CASE WHEN cum >= CAST(ceil(0.95 * n) AS BIGINT)
        |    THEN bucket * 10 END) AS BIGINT) AS p95_floor,
        |  CAST(min(CASE WHEN cum >= CAST(ceil(0.99 * n) AS BIGINT)
        |    THEN bucket * 10 END) AS BIGINT) AS p99_floor
        |FROM r GROUP BY event_type
        |ORDER BY event_type""") { (s, d) =>
      val hist = runToTable(s, d, "complete") { src =>
        src.groupBy(col("event_type"),
            floor(col("value").cast("double") / 10).cast("long").as("bucket"))
          .agg(count(lit(1)).as("c"))
      }.localCheckpoint(true)
      val wc = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val wn = Window.partitionBy(col("event_type"))
      val r = hist.withColumn("cum", sum(col("c")).over(wc))
        .withColumn("n", sum(col("c")).over(wn))
      def pf(q: Double) = min(when(
        col("cum") >= ceil(lit(q) * col("n")).cast("long"),
        col("bucket") * 10)).cast("long")
      r.groupBy(col("event_type"))
        .agg(max(col("n")).cast("long").as("n"),
          pf(0.50).as("p50_floor"),
          pf(0.95).as("p95_floor"),
          pf(0.99).as("p99_floor"))
        .orderBy(col("event_type"))
    },

    // STREAMING CUSUM DRIFT MONITOR — the page-one change detector on
    // the live path: the STREAM maintains per-(type, day) decimal
    // sum + count aggregation state (bounded by types x calendar, the
    // same state the quantile monitor carries), and the one-sided
    // CUSUM walk S⁺_t = max(0, S⁺ + (x̄_t − 105)) with alarm bound
    // h = 20 folds over the completed daily-mean series — Spark
    // `aggregate()`, DuckDB `list_reduce`, identical left-to-right
    // IEEE arithmetic (literal reference 100 + slack 5; no libm, no
    // quantization needed). Reported per type: final and max walk
    // height, alarm-day count, drift verdict — the monitor a training
    // pipeline puts on ingest value distributions to catch upstream
    // scale changes the day they happen.
    Q("stream_cusum",
      """WITH y AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST("value" AS DECIMAL(18,4))) AS DOUBLE)
        |      / count(*) AS yv
        |  FROM events GROUP BY 1, 2),
        |ser AS (SELECT event_type, list(yv ORDER BY day) AS ys,
        |    count(*) AS n_days
        |  FROM y GROUP BY 1),
        |st AS (SELECT event_type, n_days,
        |    list_reduce(
        |      list_prepend(
        |        [CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)],
        |        list_transform(ys, v -> [v, v, v])),
        |      (a, p) -> [
        |        greatest(0, a[1] + (p[1] - 105)),
        |        greatest(a[2], greatest(0, a[1] + (p[1] - 105))),
        |        a[3] + CASE WHEN greatest(0, a[1] + (p[1] - 105)) > 20
        |          THEN 1 ELSE 0 END]) AS s
        |  FROM ser)
        |SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
        |  round(s[1], 4) AS s_plus, round(s[2], 4) AS s_max,
        |  CAST(s[3] AS BIGINT) AS n_alarm_days,
        |  CAST(s[2] > 20 AS BOOLEAN) AS drifted
        |FROM st ORDER BY event_type""") { (s, d) =>
      val daily = runToTable(s, d, "complete") { src =>
        src.groupBy(col("event_type"), window(col("ts"), "1 day"))
          .agg(sum(col("value").cast("decimal(18,4)")).as("sv"),
            count(lit(1)).as("n"))
      }.select(col("event_type"),
          col("window.start").cast("date").as("day"),
          (col("sv").cast("double") / col("n")).as("yv"))
        .localCheckpoint(true)
      val ser = daily.groupBy(col("event_type"))
        .agg(expr("transform(array_sort(collect_list(struct(day, yv))), x -> x.yv)")
            .as("ys"),
          count(lit(1)).as("n_days"))
      // S⁺ repeats inside the max/alarm slots because SQL lambdas
      // cannot bind intermediates — identical IEEE sequence in both
      // engines.
      val st = ser.withColumn("s", expr(
        """aggregate(ys,
          |  named_struct('sp', CAST(0 AS DOUBLE),
          |    'sm', CAST(0 AS DOUBLE), 'al', CAST(0 AS DOUBLE)),
          |  (a, v) -> named_struct(
          |    'sp', greatest(0D, a.sp + (v - 105D)),
          |    'sm', greatest(a.sm, greatest(0D, a.sp + (v - 105D))),
          |    'al', a.al + IF(greatest(0D, a.sp + (v - 105D)) > 20D,
          |      1D, 0D)))""".stripMargin))
      st.select(col("event_type"),
          col("n_days").cast("long").as("n_days"),
          round(col("s.sp"), 4).as("s_plus"),
          round(col("s.sm"), 4).as("s_max"),
          col("s.al").cast("long").as("n_alarm_days"),
          (col("s.sm") > 20).as("drifted"))
        .orderBy(col("event_type"))
    },

    // STREAMING SRM GUARDRAIL — the live twin of eval_srm (same
    // oracle): the stream maintains the distinct (stratum, user)
    // exposure relation as complete-mode aggregation state — the
    // first thing an experimentation platform watches in real time,
    // because a broken bucketing SDK poisons every metric downstream.
    // The chi-square readout on the completed tiny table is the exact
    // integer arithmetic of the batch form; the md5 nibble coin makes
    // the expected split exactly 50/50.
    Q("stream_srm",
      """WITH e AS (SELECT DISTINCT event_type AS stratum, user_id
        |  FROM events),
        |a AS (SELECT stratum,
        |    sum(CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
        |      < '8' THEN 1 ELSE 0 END) AS na,
        |    sum(CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
        |      < '8' THEN 0 ELSE 1 END) AS nb
        |  FROM e GROUP BY 1)
        |SELECT stratum, CAST(na AS BIGINT) AS n_a,
        |  CAST(nb AS BIGINT) AS n_b,
        |  round(CAST((na - nb) * (na - nb) AS DOUBLE) / (na + nb), 4)
        |    AS chi2,
        |  CAST(CAST((na - nb) * (na - nb) AS DOUBLE) / (na + nb)
        |    > 3.8415 AS BOOLEAN) AS srm_flag
        |FROM a ORDER BY stratum""") { (s, d) =>
      val pairs = runToTable(s, d, "complete") { src =>
        src.groupBy(col("event_type").as("stratum"), col("user_id"))
          .agg(count(lit(1)).as("n"))
      }.localCheckpoint(true)
      val inA = substring(md5(col("user_id").cast("string")), 1, 1) < "8"
      val a = pairs.groupBy(col("stratum")).agg(
        sum(when(inA, 1).otherwise(0)).as("na"),
        sum(when(inA, 0).otherwise(1)).as("nb"))
      val chi2 = ((col("na") - col("nb")) * (col("na") - col("nb")))
        .cast("double") / (col("na") + col("nb"))
      a.select(col("stratum"), col("na").cast("long").as("n_a"),
          col("nb").cast("long").as("n_b"),
          round(chi2, 4).as("chi2"), (chi2 > 3.8415).as("srm_flag"))
        .orderBy(col("stratum"))
    })

  /** Events staged as 4 time-quartile parquet files with ascending
    * mtimes, so maxFilesPerTrigger=1 replays them in event-time order —
    * the arrival discipline an ordered log (Kafka partition, resync
    * replay) provides in production. Staged once per artifact key; the
    * ntile global sort is harness-side staging cost, not operator cost. */
  private def timeOrderedReplayDir(s: SparkSession, d: String): String =
    Derived.once("tqreplay", d, "events") { stage =>
      val dir = Files.createDirectories(Paths.get(stage))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy("ts", "event_id")
      val parts = Tables.load(s, d, "events") // raw wire schema, ts = long nanos
        .withColumn("__q", ntile(4).over(w))
      val base = System.currentTimeMillis()
      for (i <- 1 to 4) {
        val dst = dir.resolve(f"q$i%02d.parquet")
        writeFile(parts.filter(col("__q") === i).drop("__q"), dst)
        Files.setLastModifiedTime(dst, FileTime.fromMillis(base + i * 60000L))
      }
    }

  /** SCD2 oracle, shared by stream_scd2 (fMGWS) and stream_scd2_tws
    * (v2 state API): closed intervals from the lag-window batch build. */
  private[graft] val Scd2OracleSql: String =
    """WITH o AS (SELECT user_id, event_type, ts, event_id,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS prev_type
      |  FROM events),
      |chg AS (SELECT user_id, event_type, epoch_us(ts) AS valid_from, event_id
      |  FROM o WHERE prev_type IS NULL OR prev_type <> event_type),
      |iv AS (SELECT user_id, event_type, valid_from,
      |    lead(valid_from) OVER (PARTITION BY user_id
      |      ORDER BY valid_from, event_id) AS valid_to
      |  FROM chg)
      |SELECT user_id, event_type, CAST(valid_from AS BIGINT) AS valid_from,
      |  CAST(valid_to AS BIGINT) AS valid_to
      |FROM iv
      |WHERE valid_to IS NOT NULL
      |ORDER BY user_id, valid_from, event_type""".stripMargin

  /** stream_scd2_tws's transform, factored for the recovery spec: the
    * v2-state twin of [[scd2Stream]] (Scd2Processor holds the per-user
    * (current type, since) pair). */
  private[graft] def scd2StreamTws(s: SparkSession, src: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import s.implicits._
    src.select(col("user_id"), unix_micros(col("ts")).as("tsu"),
        col("event_id"), col("event_type"))
      .as[graft.streaming.Scd2Rec]
      .groupByKey(_.user_id)
      .transformWithState(new graft.streaming.Scd2Processor,
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** stream_funnel_tws's transform, factored for the recovery spec: the
    * v2-state twin of [[funnelStream]] (FunnelProcessor holds the
    * monotone slots; emits one snapshot per touched user per batch). */
  private[graft] def funnelStreamTws(s: SparkSession, src: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import s.implicits._
    src.select(col("user_id"), unix_micros(col("ts")).as("tsu"),
        col("event_id"), col("event_type"))
      .as[graft.streaming.Scd2Rec]
      .groupByKey(_.user_id)
      .transformWithState(new graft.streaming.FunnelProcessor,
        TimeMode.None(), OutputMode.Update())
      .toDF()
  }

  /** The stream_scd2 transform, factored for the recovery spec: per-user
    * (current type, since) state under flatMapGroupsWithState; a type
    * change emits the CLOSED interval and re-arms. Expects (user_id,
    * ts TIMESTAMP, event_id, event_type); assumes chronological arrival
    * per user across batches (an ordered log / the quartile replay),
    * sorting by (ts, event_id) within each batch. */
  private[graft] def scd2Stream(s: SparkSession, src: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import s.implicits._
    src
      .select(col("user_id"), unix_micros(col("ts")).as("tsu"),
        col("event_id"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, Long, String)],
         state: GroupState[(String, Long)]) =>
          val out = scala.collection.mutable.ListBuffer
            .empty[(Long, String, Long, Long)]
          var cur = state.getOption
          // (tsu, event_id) — the oracle's tie-break, in-batch
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach {
            case (_, tsu, _, tpe) =>
              cur match {
                case None => cur = Some((tpe, tsu))
                case Some((ct, since)) if ct != tpe =>
                  out += ((uid, ct, since, tsu))
                  cur = Some((tpe, tsu))
                case _ => ()
              }
          }
          cur.foreach(state.update)
          out.iterator
      }
      .toDF("user_id", "event_type", "valid_from", "valid_to")
  }

  /** The stream_funnel transform, factored for spec reuse: per-user
    * monotone (t1, t2, t3) slots under flatMapGroupsWithState. Emits the
    * user's current snapshot whenever a batch touches the group. */
  private[graft] def funnelStream(s: SparkSession, src: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import s.implicits._
    src.select(col("user_id"), unix_micros(col("ts")).as("tsu"),
        col("event_type"))
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, String)],
         state: GroupState[(Option[Long], Option[Long], Option[Long])]) =>
          var (t1, t2, t3) = state.getOption.getOrElse(
            (Option.empty[Long], Option.empty[Long], Option.empty[Long]))
          // Sort within the batch; (ts, type) makes same-ts order
          // deterministic (and same-ts events can't chain transitions
          // anyway — strict > guards).
          rows.toArray.sortBy(r => (r._2, r._3)).foreach { case (_, ts, tp) =>
            if (t1.isEmpty) { if (tp == "view") t1 = Some(ts) }
            else if (t2.isEmpty) {
              if (tp == "click" && ts > t1.get) t2 = Some(ts)
            } else if (t3.isEmpty) {
              if (tp == "purchase" && ts > t2.get) t3 = Some(ts)
            }
          }
          state.update((t1, t2, t3))
          Iterator((uid, t1, t2, t3))
      }
      .toDF("user_id", "t1", "t2", "t3")
  }

  /** The stream_lsh_candidates transform, factored for the recovery
    * spec: stateless per-row signatures into the single stateful
    * band-bucket hop. Also runs on a BATCH frame (state empty, one
    * invocation per bucket) where it degenerates to exactly the LSH
    * self-join — the spec uses that as its expected set. */
  private[graft] def lshCandidateStream(s: SparkSession,
      src: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import s.implicits._
    TextQueries.minhashSigsArrayOf(src)
      .as[(Long, Int, Long)]
      .groupByKey(r => (r._2, r._3))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Int, Long), rows: Iterator[(Long, Int, Long)],
         state: GroupState[Seq[Long]]) =>
          val prev = state.getOption.getOrElse(Seq.empty[Long])
          val newIds = rows.map(_._1).toArray.distinct.sorted
          val out = Seq.newBuilder[(Long, Long)]
          var seen = prev
          for (n <- newIds) {
            seen.foreach(o => if (o != n)
              out += ((math.min(o, n), math.max(o, n))))
            seen = seen :+ n
          }
          state.update(seen)
          out.result().iterator
      }
      .toDF("d1", "d2")
  }
}
