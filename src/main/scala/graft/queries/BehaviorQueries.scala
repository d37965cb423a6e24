package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Behavioral / product-analytics surface plus the Spark 4 mergeable-
  * sketch family (DataSketches HLL / Theta / frequent-items) and the
  * typed cogroup exemplar.
  *
  * The reference ships events to a sink explicitly so offline analytics
  * can "find correlation with services under Impact" (reference
  * README.md:25-26); funnels, cohort retention and distinct-overlap
  * sketches are exactly that offline-analytics layer, expressed here as
  * first-class engine operators over the `events` table.
  *
  * Scale notes:
  *  - funnel_steps computes all three stage timestamps under ONE
  *    user-keyed shuffle (three Window layers over the same
  *    partitioning reuse the exchange); nothing joins events to events.
  *  - cohort_retention is two aggregations over one purchase scan —
  *    the first-seen relation is user-level (tiny vs the fact) and the
  *    join back to activity is user-keyed, AQE-broadcastable.
  *  - The sketch queries are the 100 TB distinct-count posture: per-
  *    partition sketches merge associatively (partial aggregation), and
  *    the sketch BINARY itself is storable — a downstream consumer can
  *    re-merge daily sketches without rescanning the corpus. Estimates
  *    are implementation-defined → rows-only checks + law specs
  *    (SketchAccuracySpec), EXCEPT approx_top_k below maxItemsTracked,
  *    which is provably exact (space-saving with no evictions) and so
  *    carries a full DuckDB oracle.
  */
object BehaviorQueries {

  /** Positive = conversion event; identical text in both dialects. */
  private val lbl =
    "CASE WHEN event_type IN ('purchase','signup') THEN 1 ELSE 0 END"

  private def decSum(prod: String): String =
    s"CAST(CAST(sum($prod) AS DECIMAL(38,4)) AS DOUBLE)"
  private def dec(c: String): String = s"CAST($c AS DECIMAL(18,4))"

  /** The funnel oracle (sequential keyed minima), shared verbatim by
    * funnel_steps and the streaming stream_funnel — one SQL text, so
    * the two operators can never drift apart on semantics. */
  private[queries] val FunnelOracleSql: String =
    """WITH t AS (
      |  SELECT user_id,
      |         min(CASE WHEN event_type = 'view' THEN ts END) AS t1
      |  FROM events GROUP BY 1),
      |u AS (
      |  SELECT e.user_id, min(e.ts) AS t2
      |  FROM events e JOIN t ON e.user_id = t.user_id
      |  WHERE e.event_type = 'click' AND e.ts > t.t1 GROUP BY 1),
      |v AS (
      |  SELECT e.user_id, min(e.ts) AS t3
      |  FROM events e JOIN u ON e.user_id = u.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > u.t2 GROUP BY 1)
      |SELECT * FROM (
      |  SELECT 'step1_view' AS step, CAST(count(t1) AS BIGINT) AS users FROM t
      |  UNION ALL SELECT 'step2_click', CAST(count(*) AS BIGINT) FROM u
      |  UNION ALL SELECT 'step3_purchase', CAST(count(*) AS BIGINT) FROM v)
      |ORDER BY step""".stripMargin

  def all: Seq[Q] = Seq(

    // ADJACENT-SEQUENCE PATTERN MINING (MATCH_RECOGNIZE-lite) — counts
    // STRICTLY CONSECUTIVE event patterns per user journey, the
    // complement of behavior_window_funnel's skip-tolerant ordering:
    // "view immediately followed by click immediately followed by
    // purchase" is a different behavioral signal than "v…c…p
    // eventually". Each user's journey collapses to a compact
    // initial-letter string (one ordered listagg — the ONLY
    // corpus-scale shuffle; journey length is bounded by per-user
    // activity, the same entity-level contract as behavior_paths),
    // and the three literal patterns count by non-overlapping regex
    // extraction — identical RE2/Java semantics on this alphabet.
    // Ordering ties broken by event_id (unique), so the journey
    // string is deterministic on any partitioning.
    Q("behavior_pattern_regex",
      """WITH j AS (SELECT user_id,
        |    string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
        |      AS journey
        |  FROM events GROUP BY 1),
        |p AS (SELECT unnest(['vcp', 'cp', 'pe']) AS pattern),
        |m AS (SELECT p.pattern, j.user_id,
        |    len(regexp_extract_all(j.journey, p.pattern)) AS k
        |  FROM j CROSS JOIN p)
        |SELECT pattern,
        |  CAST(sum(CASE WHEN k > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_users,
        |  CAST(sum(k) AS BIGINT) AS n_matches
        |FROM m GROUP BY 1 ORDER BY pattern""") { (s, d) =>
      val j = Tables.events(s, d)
        .withColumn("ch", substring(col("event_type"), 1, 1))
        .groupBy(col("user_id"))
        .agg(expr("listagg(ch, '') WITHIN GROUP (ORDER BY ts, event_id)")
          .as("journey"))
      // Spark's regexp_extract_all needs a FOLDABLE pattern, so the
      // three literal patterns unroll to three aggregates over the one
      // shared journey relation (the oracle keeps its cross-join form —
      // DuckDB's RE2 binding takes column patterns).
      Seq("vcp", "cp", "pe").map { pat =>
        j.select(lit(pat).as("pattern"),
            size(expr(s"regexp_extract_all(journey, '$pat', 0)")).as("k"))
          .groupBy(col("pattern"))
          .agg(sum(when(col("k") > 0, 1).otherwise(0)).cast("long")
              .as("n_users"),
            sum(col("k")).cast("long").as("n_matches"))
      }.reduce(_ unionByName _)
        .orderBy(col("pattern"))
    },

    // AUGMENTED-DICKEY-FULLER-LITE STATIONARITY TEST (Dickey & Fuller
    // 1979, lag-0 constant-only form) per event type — the unit-root
    // check a forecasting pipeline runs before trusting ts_holt /
    // ts_holt_winters levels: regress Δy_t on y_{t-1}, and a
    // sufficiently negative t(ρ̂) rejects the random walk. The daily
    // series lags through a per-type window (day grid bounds it), the
    // five regression sums quantize to DECIMAL — one hash aggregate —
    // and ρ̂, se, t derive in closed form; flag at the 5% constant-only
    // critical value −2.86. Types scale out; nothing global.
    Q("ts_adf",
      """WITH y AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS DOUBLE) AS yv
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, day, yv,
        |    lag(yv) OVER (PARTITION BY event_type ORDER BY day) AS yl
        |  FROM y),
        |t AS (SELECT event_type, yl AS x, yv - yl AS z FROM l
        |  WHERE yl IS NOT NULL),
        |s AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(CAST(round(x, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(round(z, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sz,
        |    CAST(sum(CAST(round(x * x, 6) AS DECIMAL(28,6))) AS DOUBLE)
        |      AS sxx,
        |    CAST(sum(CAST(round(x * z, 6) AS DECIMAL(28,6))) AS DOUBLE)
        |      AS sxz,
        |    CAST(sum(CAST(round(z * z, 6) AS DECIMAL(28,6))) AS DOUBLE)
        |      AS szz
        |  FROM t GROUP BY 1),
        |f AS (SELECT event_type, n,
        |    (sxz - sx * sz / n) / (sxx - sx * sx / n) AS rho,
        |    (szz - sz * sz / n) - ((sxz - sx * sz / n)
        |      * (sxz - sx * sz / n)) / (sxx - sx * sx / n) AS sse,
        |    sxx - sx * sx / n AS sxx_c
        |  FROM s)
        |SELECT event_type, CAST(n AS BIGINT) AS n_diffs,
        |  round(rho, 4) AS rho,
        |  round(rho / nullif(sqrt((sse / (n - 2)) / sxx_c), 0), 4)
        |    AS t_stat,
        |  CAST(rho / nullif(sqrt((sse / (n - 2)) / sxx_c), 0) < -2.86
        |    AS BOOLEAN) AS stationary
        |FROM f ORDER BY event_type""") { (s, d) =>
      val y = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).cast("double").as("yv"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val t = y.withColumn("yl", lag(col("yv"), 1).over(w))
        .filter(col("yl").isNotNull)
        .select(col("event_type"), col("yl").as("x"),
          (col("yv") - col("yl")).as("z"))
      def qs(c: org.apache.spark.sql.Column, p: Int) =
        sum(round(c, 6).cast(s"decimal($p,6)")).cast("double")
      val st = t.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          qs(col("x"), 18).as("sx"), qs(col("z"), 18).as("sz"),
          qs(col("x") * col("x"), 28).as("sxx"),
          qs(col("x") * col("z"), 28).as("sxz"),
          qs(col("z") * col("z"), 28).as("szz"))
      val sxzc = col("sxz") - col("sx") * col("sz") / col("n")
      val sxxc = col("sxx") - col("sx") * col("sx") / col("n")
      val szzc = col("szz") - col("sz") * col("sz") / col("n")
      val f = st.select(col("event_type"), col("n"),
        (sxzc / sxxc).as("rho"),
        (szzc - (sxzc * sxzc) / sxxc).as("sse"),
        sxxc.as("sxx_c"))
      // nullif: a perfect fit (SSE = 0, possible on planted series)
      // yields NULL t in both engines, not an ANSI divide-by-zero.
      val tstat = col("rho") /
        nullif(sqrt((col("sse") / (col("n") - 2)) / col("sxx_c")), lit(0d))
      f.select(col("event_type"), col("n").cast("long").as("n_diffs"),
          round(col("rho"), 4).as("rho"),
          round(tstat, 4).as("t_stat"),
          (tstat < -2.86).as("stationary"))
        .orderBy(col("event_type"))
    },

    // Conversion funnel view → click → purchase with strict temporal
    // ordering (each stage must happen AFTER the previous stage's first
    // completion). One shuffle: three Window layers over the same
    // user partitioning; the oracle states the same chain as three
    // sequential keyed minima.
    Q("funnel_steps", FunnelOracleSql) { (s, d) =>
      val w = Window.partitionBy("user_id")
      val staged = Tables.events(s, d)
        .withColumn("t1",
          min(when(col("event_type") === "view", col("ts"))).over(w))
        .withColumn("t2",
          min(when(col("event_type") === "click" && col("ts") > col("t1"),
            col("ts"))).over(w))
        .withColumn("t3",
          min(when(col("event_type") === "purchase" && col("ts") > col("t2"),
            col("ts"))).over(w))
        .select("user_id", "t1", "t2", "t3").distinct()
      staged.agg(
          count(col("t1")).as("s1"), count(col("t2")).as("s2"),
          count(col("t3")).as("s3"))
        .selectExpr(
          """stack(3, 'step1_view', s1, 'step2_click', s2,
            |'step3_purchase', s3) AS (step, users)""".stripMargin)
        .orderBy("step")
    },

    // Cohort retention: users bucketed by the week of their FIRST
    // purchase; cell (cohort_week, offset_week) counts distinct cohort
    // members purchasing that many weeks later. Week boundaries and the
    // offset ride integer epoch arithmetic (604800 s weeks, UTC) so both
    // engines compute the identical integers.
    Q("cohort_retention",
      """WITH p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
        |f AS (SELECT user_id, date_trunc('week', min(ts)) AS cw FROM p GROUP BY 1)
        |SELECT CAST(epoch(f.cw) AS BIGINT) AS cohort_week,
        |  CAST(floor((epoch(date_trunc('week', p.ts)) - epoch(f.cw)) / 604800)
        |       AS INT) AS offset_week,
        |  CAST(count(DISTINCT p.user_id) AS BIGINT) AS users
        |FROM p JOIN f ON p.user_id = f.user_id
        |GROUP BY 1, 2
        |ORDER BY cohort_week, offset_week""") { (s, d) =>
      val p = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select("user_id", "ts")
      val f = p.groupBy("user_id")
        .agg(date_trunc("week", min(col("ts"))).as("cw"))
      p.join(f, "user_id")
        .select(
          unix_timestamp(col("cw")).as("cohort_week"),
          floor((unix_timestamp(date_trunc("week", col("ts"))) -
            unix_timestamp(col("cw"))) / 604800L).cast("int").as("offset_week"),
          col("user_id"))
        .groupBy("cohort_week", "offset_week")
        .agg(countDistinct(col("user_id")).as("users"))
        .orderBy("cohort_week", "offset_week")
    },

    // RFM segmentation: recency/frequency/monetary quartiles per
    // purchasing user — the classic marketing segmentation, built on
    // the same fully-tiebroken ntile discipline as the equi-depth
    // histogram (every ORDER BY ends in user_id, so bucket assignment
    // is total-order deterministic in both engines). The user-level
    // relation is corpus-size-independent (one row per user), so the
    // three global ntile sorts run over the small aggregate, not the
    // fact table.
    Q("rfm_segments",
      """WITH m AS (
        |  SELECT user_id, max(ts) AS last_ts,
        |         CAST(count(*) AS BIGINT) AS freq,
        |         CAST(sum(CAST("value" AS DECIMAL(18,4))) AS DOUBLE) AS monetary
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT user_id, freq, round(monetary, 4) AS monetary,
        |  CAST(ntile(4) OVER (ORDER BY last_ts DESC, user_id) AS INT) AS r_bucket,
        |  CAST(ntile(4) OVER (ORDER BY freq DESC, user_id) AS INT) AS f_bucket,
        |  CAST(ntile(4) OVER (ORDER BY monetary DESC, user_id) AS INT) AS m_bucket
        |FROM m
        |ORDER BY user_id""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val m = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(max("ts").as("last_ts"), count(lit(1)).as("freq"),
          expr("CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)")
            .as("monetary"))
      m.select(col("user_id"), col("freq"),
          round(col("monetary"), 4).as("monetary"),
          ntile(4).over(Window.orderBy(col("last_ts").desc, col("user_id")))
            .as("r_bucket"),
          ntile(4).over(Window.orderBy(col("freq").desc, col("user_id")))
            .as("f_bucket"),
          ntile(4).over(Window.orderBy(col("monetary").desc, col("user_id")))
            .as("m_bucket"))
        .orderBy("user_id")
    },

    // DAU/WAU stickiness per day. Trailing-7-day distinct users is NOT
    // a windowed count-distinct (which Spark cannot partial-aggregate):
    // each (user, day) activity row is shifted to the 7 days it serves
    // (explode of a constant 0..6 — a 7× Expand, no self-join), then
    // one keyed distinct-count per day. Days ride integer epoch
    // arithmetic; the join back to DAU keeps only real activity days.
    Q("stickiness_ratio",
      """WITH act AS (
        |  SELECT DISTINCT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
        |         user_id
        |  FROM events),
        |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM act GROUP BY 1),
        |w AS (SELECT a.day + r.k AS day, a.user_id
        |      FROM act a, range(0, 7) r(k)),
        |wau AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
        |        FROM w GROUP BY 1)
        |SELECT d.day, d.dau, w.wau,
        |       round(d.dau * 1.0 / w.wau, 4) AS stickiness
        |FROM dau d JOIN wau w ON d.day = w.day
        |ORDER BY d.day""") { (s, d) =>
      val act = Tables.events(s, d)
        .select(floor(unix_timestamp(col("ts")) / 86400L).cast("bigint")
          .as("day"), col("user_id"))
        .distinct()
      val dau = act.groupBy("day").agg(count(lit(1)).as("dau"))
      val wau = act
        .select(col("day").as("d0"), col("user_id"),
          explode(sequence(lit(0), lit(6))).as("k"))
        .select((col("d0") + col("k")).as("day"), col("user_id"))
        .groupBy("day").agg(countDistinct(col("user_id")).as("wau"))
      dau.join(wau, "day")
        .select(col("day"), col("dau"), col("wau"),
          round(col("dau") * lit(1.0) / col("wau"), 4).as("stickiness"))
        .orderBy("day")
    },

    // Lexical-richness quality signals: type-token ratio + hapax share
    // per document — corpus-quality features next to text_quality's
    // surface ratios. One (doc, token) shuffle, then a doc-keyed
    // partial+final aggregate; the ratios are small-integer divisions
    // (bit-identical IEEE in both engines).
    Q("text_ttr",
      """SELECT doc_id,
        |  CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(count(*) FILTER (WHERE c = 1) AS BIGINT) AS n_hapax,
        |  round(count(*) * 1.0 / sum(c), 4) AS ttr,
        |  round(count(*) FILTER (WHERE c = 1) * 1.0 / count(*), 4) AS hapax_ratio
        |FROM (
        |  SELECT doc_id, tok, count(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  GROUP BY 1, 2)
        |GROUP BY doc_id
        |ORDER BY doc_id""") { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(
          sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          count(when(col("c") === 1, 1)).as("n_hapax"))
        .select(
          col("doc_id"),
          col("n_tokens").cast("bigint").as("n_tokens"),
          col("n_types"), col("n_hapax"),
          round(col("n_types") * lit(1.0) / col("n_tokens"), 4).as("ttr"),
          round(col("n_hapax") * lit(1.0) / col("n_types"), 4).as("hapax_ratio"))
        .orderBy("doc_id")
    },

    // Six-table multiway join (TPC-H Q5 shape): revenue by nation for
    // two regions where the supplying and purchasing nations coincide.
    // The join graph is written fact-outward and left to Catalyst/AQE:
    // nation and the filtered region are broadcast explicitly (dimension
    // posture), customer/orders/supplier sizes are planner decisions —
    // at sf0.01 AQE broadcasts them, at 100 TB they shuffle on their
    // keys. The s_nationkey = c_nationkey closing condition lands as a
    // residual on the supplier join, never a theta explosion.
    Q("join_multiway",
      s"""SELECT n_name,
         |  ${decSum(s"${dec("l_extendedprice")} * (1 - ${dec("l_discount")})")}
         |    AS revenue,
         |  CAST(count(*) AS BIGINT) AS n_items
         |FROM region
         |JOIN nation ON n_regionkey = r_regionkey
         |JOIN customer ON c_nationkey = n_nationkey
         |JOIN orders ON o_custkey = c_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
         |WHERE r_name IN ('ASIA', 'EUROPE')
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |GROUP BY n_name
         |ORDER BY n_name""") { (s, d) =>
      val reg = Tables.region(s, d).filter(col("r_name").isin("ASIA", "EUROPE"))
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d)
            .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .join(Tables.supplier(s, d),
          col("s_suppkey") === col("l_suppkey") &&
            col("s_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          expr(decSum(s"${dec("l_extendedprice")} * (1 - ${dec("l_discount")})"))
            .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    },

    // Null-safe equi-join (<=> / IS NOT DISTINCT FROM): merging two
    // partial aggregates whose group key legitimately contains NULL —
    // the shape where plain = silently drops the NULL group. The NULL
    // side stays group-level (5 rows), never a row-level null×null
    // blow-up.
    Q("join_nullsafe",
      """WITH a AS (
        |  SELECT nullif(o_orderstatus, 'O') AS k, CAST(count(*) AS BIGINT) AS cnt_even
        |  FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1),
        |b AS (
        |  SELECT nullif(o_orderstatus, 'O') AS k, CAST(count(*) AS BIGINT) AS cnt_odd
        |  FROM orders WHERE o_orderkey % 2 = 1 GROUP BY 1)
        |SELECT coalesce(a.k, b.k) AS k, a.cnt_even, b.cnt_odd
        |FROM a FULL JOIN b ON a.k IS NOT DISTINCT FROM b.k
        |ORDER BY k NULLS FIRST""") { (s, d) =>
      val o = Tables.orders(s, d)
        .withColumn("k", expr("nullif(o_orderstatus, 'O')"))
      // Distinct column names per side (ka/kb): the two aggregates share
      // lineage, and Spark's self-join ambiguity check rejects a(k)/b(k).
      val a = o.filter(col("o_orderkey") % 2 === 0)
        .groupBy(col("k").as("ka")).agg(count(lit(1)).as("cnt_even"))
      val b = o.filter(col("o_orderkey") % 2 === 1)
        .groupBy(col("k").as("kb")).agg(count(lit(1)).as("cnt_odd"))
      a.join(b, col("ka") <=> col("kb"), "full_outer")
        .select(coalesce(col("ka"), col("kb")).as("k"),
          col("cnt_even"), col("cnt_odd"))
        .orderBy(col("k").asc_nulls_first)
    },

    // Frequent-items top-k via the DataSketches space-saving aggregate.
    // maxItemsTracked (100) exceeds the column's distinct count, so no
    // candidate is ever evicted and every returned count is EXACT — the
    // documented exactness regime, not a coincidence — which is what
    // makes a full oracle legitimate here. k is requested at FULL
    // capacity (not 3): which 3 the sketch returns at a rank-boundary
    // count tie is implementation-defined even in the exact regime, so
    // the query takes every tracked item and applies its own
    // deterministic (cnt DESC, item) sort + LIMIT — tie selection then
    // happens in the same collation as the oracle's, never inside the
    // sketch.
    Q("agg_approx_topk",
      """SELECT event_type AS item, CAST(count(*) AS BIGINT) AS cnt
        |FROM events GROUP BY 1
        |ORDER BY cnt DESC, item
        |LIMIT 3""") { (s, d) =>
      Tables.events(s, d)
        .agg(expr("approx_top_k(event_type, 100, 100)").as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("item"), col("e.count").as("cnt"))
        .orderBy(col("cnt").desc, col("item"))
        .limit(3)
    },

    // The mergeable frequent-items WORKFLOW: per-group sketch STATES
    // (approx_top_k_accumulate) combined into one (approx_top_k_combine)
    // and only then estimated — the store-daily-states/re-merge path,
    // distinct from agg_approx_topk's one-shot aggregate. Capacity (100)
    // exceeds the column's distinct count on every branch, so the
    // combined counts are exact (space-saving never evicts) and the
    // plain GROUP BY oracle is legitimate here too. As above, the
    // estimate is taken at full capacity and the top-3 cut happens in
    // the query's own (cnt DESC, item) collation — rank-boundary ties
    // never depend on the sketch's internal selection.
    Q("agg_topk_merge",
      """SELECT event_type AS item, CAST(count(*) AS BIGINT) AS cnt
        |FROM events GROUP BY 1
        |ORDER BY cnt DESC, item
        |LIMIT 3""") { (s, d) =>
      Tables.events(s, d)
        .groupBy("user_id") // shard axis: per-user partial sketch states
        .agg(expr("approx_top_k_accumulate(event_type, 100)").as("st"))
        .agg(expr("approx_top_k_estimate(approx_top_k_combine(st, 100), 100)")
          .as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("item"), col("e.count").as("cnt"))
        .orderBy(col("cnt").desc, col("item"))
        .limit(3)
    },

    // Time-to-conversion percentiles by hour of click: the latency
    // distribution between a click and the SAME user's next purchase
    // (the funnel's dwell-time view). Candidate pairing is the
    // one-shuffle forward as-of sweep (join_asof_fwd's shape), never a
    // range join; percentiles are exact interpolated over integer
    // micros, floor-quantized for engine-identical bits.
    Q("conv_latency",
      """WITH c AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'click'),
        |b AS (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase'),
        |w AS (SELECT CAST(hour(c.ts) AS INT) AS hr, l.wait_us
        |  FROM c JOIN LATERAL (
        |    SELECT epoch_us(b.ts) - epoch_us(c.ts) AS wait_us
        |    FROM b WHERE b.user_id = c.user_id AND b.ts >= c.ts
        |    ORDER BY b.ts ASC, b.event_id ASC LIMIT 1
        |  ) l ON true)
        |SELECT hr, CAST(count(*) AS BIGINT) AS n_conv,
        |  CAST(floor(quantile_cont(wait_us, 0.5) / 1000000 * 10 + 0.5) / 10.0
        |    AS DOUBLE) AS p50_sec,
        |  CAST(floor(quantile_cont(wait_us, 0.9) / 1000000 * 10 + 0.5) / 10.0
        |    AS DOUBLE) AS p90_sec
        |FROM w GROUP BY hr
        |ORDER BY hr""") { (s, d) =>
      val ev = Tables.events(s, d)
      val probe = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), lit(1).as("side"),
          col("event_id").as("src_id"))
      val build = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), lit(0).as("side"),
          col("event_id").as("src_id"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("side").asc, col("src_id").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      build.unionByName(probe)
        .withColumn("b", when(col("side") === 0,
          struct(col("ts").as("p_ts"), col("src_id").as("p_id"))))
        .withColumn("nxt", last(col("b"), ignoreNulls = true).over(w))
        .filter(col("side") === 1 && col("nxt").isNotNull)
        .select(hour(col("ts")).cast("int").as("hr"),
          (expr("unix_micros(nxt.p_ts)") - expr("unix_micros(ts)"))
            .as("wait_us"))
        .groupBy(col("hr"))
        .agg(count(lit(1)).as("n_conv"),
          expr("""CAST(floor(percentile(wait_us, 0.5) / 1000000 * 10 + 0.5)
            |/ 10.0 AS DOUBLE)""".stripMargin).as("p50_sec"),
          expr("""CAST(floor(percentile(wait_us, 0.9) / 1000000 * 10 + 0.5)
            |/ 10.0 AS DOUBLE)""".stripMargin).as("p90_sec"))
        .orderBy(col("hr"))
    },

    // Mergeable distinct-count sketches: one HLL per event_type, plus
    // the union of exactly those sketches as the ALL row — the partial/
    // merge contract a 100 TB rollup relies on (daily sketches re-merge
    // without rescanning). Sketched key is user_id % 50: DataSketches
    // HLL keeps an exact coupon set until ~3/4·2^lgK distinct hashes
    // (far above 50), so every estimate here is provably the EXACT
    // distinct count and the count(DISTINCT) oracle is legitimate —
    // the driver's full rows+schema+hash gate runs. Large-cardinality
    // estimate accuracy (raw user_id) stays pinned by
    // SketchAccuracySpec's merge-law + 5%-envelope checks.
    Q("sketch_hll_merge",
      """SELECT event_type AS scope,
        |  CAST(count(DISTINCT user_id % 50) AS BIGINT) AS est
        |FROM events GROUP BY 1
        |UNION ALL
        |SELECT 'ALL' AS scope,
        |  CAST(count(DISTINCT user_id % 50) AS BIGINT) AS est
        |FROM events
        |ORDER BY scope""") { (s, d) =>
      val sk = Tables.events(s, d)
        .groupBy("event_type")
        .agg(expr("hll_sketch_agg(user_id % 50)").as("s"))
      val per = sk.select(col("event_type").as("scope"),
        expr("CAST(hll_sketch_estimate(s) AS BIGINT)").as("est"))
      val all = sk.agg(
          expr("CAST(hll_sketch_estimate(hll_union_agg(s)) AS BIGINT)").as("est"))
        .select(lit("ALL").as("scope"), col("est"))
      per.unionAll(all).orderBy("scope")
    },

    // Mergeable quantiles (KLL): per-group sketches merged into an ALL
    // row — the quantile twin of sketch_hll_merge (store daily sketches,
    // re-merge without rescans; KLL is the mergeable-with-guarantees
    // successor to t-digest). Sketched values are the 25 nation keys
    // grouped by region (5 per group, 25 merged): below KLL's k=200
    // retention capacity the sketch holds every item at weight 1, so
    // each "estimate" is EXACTLY the inclusive order statistic at rank
    // ceil(q·n) — which is what the oracle computes with a sorted-list
    // index. Full rows+schema+hash gate runs; large-cardinality bracket
    // accuracy stays pinned by SketchAccuracySpec over o_totalprice.
    Q("sketch_kll_quantiles",
      """WITH nr AS (SELECT r_name, CAST(n_nationkey AS DOUBLE) AS v
        |            FROM nation JOIN region ON n_regionkey = r_regionkey)
        |SELECT r_name AS scope,
        |  round((list_sort(list(v)))[CAST(ceil(0.5 * count(*)) AS INT)], 2) AS p50,
        |  round((list_sort(list(v)))[CAST(ceil(0.95 * count(*)) AS INT)], 2) AS p95
        |FROM nr GROUP BY r_name
        |UNION ALL
        |SELECT 'ALL' AS scope,
        |  round((list_sort(list(v)))[CAST(ceil(0.5 * count(*)) AS INT)], 2) AS p50,
        |  round((list_sort(list(v)))[CAST(ceil(0.95 * count(*)) AS INT)], 2) AS p95
        |FROM nr
        |ORDER BY scope""") { (s, d) =>
      val nr = Tables.nation(s, d).join(Tables.region(s, d),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name"), col("n_nationkey").cast("double").as("v"))
      val sk = nr.groupBy("r_name")
        .agg(expr("kll_sketch_agg_double(v)").as("s"))
      val per = sk.select(col("r_name").as("scope"),
        expr("round(kll_sketch_get_quantile_double(s, 0.5), 2)").as("p50"),
        expr("round(kll_sketch_get_quantile_double(s, 0.95), 2)").as("p95"))
      val all = sk.agg(expr("kll_merge_agg_double(s)").as("m"))
        .select(lit("ALL").as("scope"),
          expr("round(kll_sketch_get_quantile_double(m, 0.5), 2)").as("p50"),
          expr("round(kll_sketch_get_quantile_double(m, 0.95), 2)").as("p95"))
      per.unionAll(all).orderBy("scope")
    },

    // Theta sketches: the sketch family with SET OPERATIONS — estimate
    // audience overlap (purchasers ∩ clickers), exclusive audience
    // (A∖B) and each side, without materializing either distinct set.
    // Sketched key is user_id % 1000: a theta QuickSelect sketch is
    // EXACT while its retained set is under the nominal 2^12 entries
    // (theta stays 1, every hash kept), and set operations on exact
    // sketches are exact set algebra — so the distinct-set oracle runs
    // the full rows+schema+hash gate. Estimation-mode accuracy and the
    // partial-overlap algebra stay pinned by SketchAccuracySpec.
    Q("sketch_theta_overlap",
      """WITH a AS (SELECT DISTINCT user_id % 1000 AS u FROM events
        |           WHERE event_type = 'purchase'),
        |b AS (SELECT DISTINCT user_id % 1000 AS u FROM events
        |      WHERE event_type = 'click')
        |SELECT 'a_and_b' AS op, CAST((SELECT count(*) FROM a
        |  WHERE u IN (SELECT u FROM b)) AS BIGINT) AS est
        |UNION ALL SELECT 'a_minus_b' AS op, CAST((SELECT count(*) FROM a
        |  WHERE u NOT IN (SELECT u FROM b)) AS BIGINT) AS est
        |UNION ALL SELECT 'a_purchase' AS op,
        |  CAST((SELECT count(*) FROM a) AS BIGINT) AS est
        |UNION ALL SELECT 'a_or_b' AS op,
        |  CAST((SELECT count(*) FROM (SELECT u FROM a
        |    UNION SELECT u FROM b) ab) AS BIGINT) AS est
        |UNION ALL SELECT 'b_click' AS op,
        |  CAST((SELECT count(*) FROM b) AS BIGINT) AS est
        |ORDER BY op""") { (s, d) =>
      val e = Tables.events(s, d)
      val a = e.filter(col("event_type") === "purchase")
        .agg(expr("theta_sketch_agg(user_id % 1000)").as("sa"))
      val b = e.filter(col("event_type") === "click")
        .agg(expr("theta_sketch_agg(user_id % 1000)").as("sb"))
      a.crossJoin(b)
        .selectExpr(
          """stack(5,
            |  'a_purchase', CAST(theta_sketch_estimate(sa) AS BIGINT),
            |  'b_click',    CAST(theta_sketch_estimate(sb) AS BIGINT),
            |  'a_and_b',    CAST(theta_sketch_estimate(theta_intersection(sa, sb)) AS BIGINT),
            |  'a_minus_b',  CAST(theta_sketch_estimate(theta_difference(sa, sb)) AS BIGINT),
            |  'a_or_b',     CAST(theta_sketch_estimate(theta_union(sa, sb)) AS BIGINT)
            |) AS (op, est)""".stripMargin)
        .orderBy("op")
    },

    // Count-min sketch (Cormode & Muthukrishnan, "An improved data
    // stream summary: the count-min sketch and its applications",
    // J. Algorithms 2005): d=4 hash rows × w=64 buckets of ADDITIVE
    // counters — the mergeable heavy-hitter frequency summary (shard
    // sketches sum cell-wise; the reduced state is d·w counters no
    // matter the corpus size). Hash rows are md5-derived, so both
    // engines build the IDENTICAL sketch and the estimate
    // (min over rows of the hashed bucket's total, overestimates only)
    // is deterministic — the oracle recomputes the same arithmetic,
    // full rows+schema+hash gate. The collision overshoot (est−exact)
    // is emitted so the sketch is exercised in estimation mode, not a
    // collision-free regime. Plan shape: one (row,bucket) rollup
    // (≤256 cells, broadcast) + one distinct-key probe — scan-shaped.
    Q("sketch_cms",
      """WITH t AS (SELECT user_id FROM events),
        |cells AS (SELECT r.r AS r,
        |    ('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)), 1, 12))::BIGINT % 64 AS bucket,
        |    count(*) AS total
        |  FROM t, range(0, 4) r(r) GROUP BY 1, 2),
        |keys AS (SELECT user_id, count(*) AS exact FROM t GROUP BY 1),
        |probe AS (SELECT k.user_id, k.exact, c.total
        |  FROM keys k, range(0, 4) r(r)
        |  JOIN cells c ON c.r = r.r AND c.bucket =
        |    ('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' || CAST(k.user_id AS VARCHAR)), 1, 12))::BIGINT % 64)
        |SELECT user_id, CAST(exact AS BIGINT) AS exact,
        |  CAST(min(total) AS BIGINT) AS cms_est,
        |  CAST(min(total) - exact AS BIGINT) AS overshoot
        |FROM probe GROUP BY user_id, exact
        |ORDER BY user_id""") { (s, d) =>
      val bucketOf =
        "CAST(conv(substr(md5(concat(CAST(r AS STRING), ':', CAST(user_id AS STRING))), 1, 12), 16, 10) AS BIGINT) % 64"
      // The d=4 hash-row axis is a generator (explode of a constant
      // sequence), not a join — stays inside whole-stage codegen.
      val t = Tables.events(s, d).select(col("user_id"))
      val cells = t
        .withColumn("r", explode(expr("sequence(0, 3)")))
        .groupBy(col("r"), expr(bucketOf).as("bucket"))
        .agg(count(lit(1)).as("total"))
      val keys = t.groupBy(col("user_id")).agg(count(lit(1)).as("exact"))
      keys
        .withColumn("r", explode(expr("sequence(0, 3)")))
        .withColumn("bucket", expr(bucketOf))
        .join(broadcast(cells), Seq("r", "bucket"))
        .groupBy(col("user_id"), col("exact"))
        .agg(min(col("total")).as("cms_est"))
        .select(col("user_id"), col("exact"), col("cms_est"),
          (col("cms_est") - col("exact")).as("overshoot"))
        .orderBy(col("user_id"))
    },

    // First-order Markov transition matrix over per-user event
    // sequences — the behavioral-model fit step (next-action
    // prediction, session simulation). Transitions come from ONE lag
    // sweep over ONE user-keyed shuffle (total order (ts, event_id)
    // inside each user), then collapse to the |types|² matrix — a
    // constant-size relation no matter the corpus, so the probability
    // join is a broadcast. p = cnt/total is a ratio of exact integers;
    // both engines divide the same ints, round(…,4) agrees.
    Q("behavior_markov",
      """WITH s AS (SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |t AS (SELECT prev_type, event_type AS next_type, count(*) AS cnt
        |  FROM s WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT prev_type, sum(cnt) AS total FROM t GROUP BY 1)
        |SELECT t.prev_type, t.next_type, CAST(cnt AS BIGINT) AS cnt,
        |  round(CAST(cnt AS DOUBLE) / total, 4) AS p
        |FROM t JOIN tot USING (prev_type)
        |ORDER BY prev_type, next_type""") { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val t = Tables.events(s, d)
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("cnt"))
      val tot = t.groupBy(col("prev_type")).agg(sum(col("cnt")).as("total"))
      t.join(broadcast(tot), Seq("prev_type"))
        .select(col("prev_type"), col("next_type"), col("cnt"),
          round(col("cnt").cast("double") / col("total"), 4).as("p"))
        .orderBy(col("prev_type"), col("next_type"))
    },

    // Market-basket association mining (support / lift over brand
    // co-occurrence in orders) — the pairwise half of Apriori. The
    // basket relation (order, brand) is distinct-ed FIRST, so the
    // within-basket self-join is keyed on the order and bounded by
    // basket size (≤7 lineitems), never an all-pairs across orders;
    // the per-brand supports and the basket count are vocab-sized /
    // 1-row broadcasts. support = cab/N and lift = N·cab/(ca·cb) are
    // ratios of exact integers — both engines divide the same ints.
    // Scale: one order-keyed shuffle + brand² aggregate (constant-size
    // output) — 100 TB-safe.
    Q("behavior_basket_lift",
      """WITH bp AS (SELECT DISTINCT l_orderkey AS ok, p_brand AS b
        |    FROM lineitem JOIN part ON p_partkey = l_partkey),
        |n AS (SELECT count(DISTINCT ok) AS n FROM bp),
        |pc AS (SELECT b, count(*) AS cb FROM bp GROUP BY 1),
        |pairs AS (SELECT a.b AS b1, c.b AS b2, count(*) AS cab
        |  FROM bp a JOIN bp c ON a.ok = c.ok AND a.b < c.b GROUP BY 1, 2)
        |SELECT b1, b2, CAST(cab AS BIGINT) AS cab,
        |  round(CAST(cab AS DOUBLE)/n, 4) AS support,
        |  round(n*CAST(cab AS DOUBLE)/(p1.cb*p2.cb), 4) AS lift
        |FROM pairs JOIN pc p1 ON p1.b = b1 JOIN pc p2 ON p2.b = b2, n
        |WHERE cab >= 20 ORDER BY b1, b2""") { (s, d) =>
      val bp = Tables.lineitem(s, d)
        .join(Tables.part(s, d), col("p_partkey") === col("l_partkey"))
        .select(col("l_orderkey").as("ok"), col("p_brand").as("b"))
        .distinct()
      val n = bp.agg(countDistinct(col("ok")).as("n"))
      val pc = bp.groupBy(col("b")).agg(count(lit(1)).as("cb"))
      bp.as("a").join(bp.as("c"),
          col("a.ok") === col("c.ok") && col("a.b") < col("c.b"))
        .groupBy(col("a.b").as("b1"), col("c.b").as("b2"))
        .agg(count(lit(1)).as("cab"))
        .filter(col("cab") >= 20)
        .join(broadcast(pc.select(col("b").as("b1"), col("cb").as("c1"))), Seq("b1"))
        .join(broadcast(pc.select(col("b").as("b2"), col("cb").as("c2"))), Seq("b2"))
        .crossJoin(broadcast(n))
        .select(col("b1"), col("b2"), col("cab"),
          round(col("cab").cast("double") / col("n"), 4).as("support"),
          round(col("n") * col("cab").cast("double") /
            (col("c1") * col("c2")), 4).as("lift"))
        .orderBy(col("b1"), col("b2"))
    },

    // Linear multi-touch attribution: every purchase splits one unit of
    // credit evenly across the user's touches (non-purchase events) in
    // the preceding 24 h, rolled up per touch type. ONE user-keyed
    // RANGE-frame window pass computes all five frame counts at once
    // (the frame is a real time window over epoch-micros, 1 µs
    // preceding excludes the purchase itself); the per-purchase credit
    // nₜ/n is a ratio of exact frame integers, 8dp-DECIMAL-quantized
    // before the global rollup so the sum is partition-count-invariant.
    // Scale: one keyed sort-window + a 4-row aggregate — 100 TB-safe.
    Q("behavior_attribution",
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS um FROM events),
        |w AS (SELECT user_id, event_type, um,
        |    sum(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END) OVER fr AS n,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) OVER fr AS n_click,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) OVER fr AS n_view,
        |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) OVER fr AS n_error,
        |    sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) OVER fr AS n_signup
        |  FROM e WINDOW fr AS (PARTITION BY user_id ORDER BY um
        |    RANGE BETWEEN 86400000000 PRECEDING AND 1 PRECEDING)),
        |p AS (SELECT * FROM w WHERE event_type = 'purchase' AND n > 0),
        |x AS (SELECT t.tt AS touch_type,
        |    CAST(round(CASE t.tt WHEN 'click' THEN n_click WHEN 'view' THEN n_view
        |      WHEN 'error' THEN n_error ELSE n_signup END / CAST(n AS DOUBLE), 8)
        |      AS DECIMAL(20,8)) AS credit
        |  FROM p, (VALUES ('click'),('view'),('error'),('signup')) t(tt))
        |SELECT touch_type, CAST(count(*) AS BIGINT) AS n_purchases,
        |  round(CAST(sum(credit) AS DOUBLE), 4) AS credit
        |FROM x GROUP BY 1 ORDER BY touch_type""") { (s, d) =>
      val fr = Window.partitionBy(col("user_id"))
        .orderBy(col("um")).rangeBetween(-86400000000L, -1)
      def cnt(t: String) =
        sum(when(col("event_type") === t, 1).otherwise(0)).over(fr)
      val w = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          expr("unix_micros(ts)").as("um"))
        .select(col("event_type"),
          sum(when(col("event_type") =!= "purchase", 1).otherwise(0))
            .over(fr).as("n"),
          cnt("click").as("n_click"), cnt("view").as("n_view"),
          cnt("error").as("n_error"), cnt("signup").as("n_signup"))
      val p = w.filter(col("event_type") === "purchase" && col("n") > 0)
      p.select(col("n"), explode(array(
          struct(lit("click").as("tt"), col("n_click").as("nt")),
          struct(lit("view").as("tt"), col("n_view").as("nt")),
          struct(lit("error").as("tt"), col("n_error").as("nt")),
          struct(lit("signup").as("tt"), col("n_signup").as("nt")))).as("t"))
        .select(col("t.tt").as("touch_type"),
          expr("CAST(round(t.nt / CAST(n AS DOUBLE), 8) AS DECIMAL(20,8))")
            .as("credit"))
        .groupBy(col("touch_type"))
        .agg(count(lit(1)).as("n_purchases"),
          round(sum(col("credit")).cast("double"), 4).as("credit"))
        .orderBy(col("touch_type"))
    },

    // Deterministic A/B assignment + sample-ratio-mismatch check: users
    // split 50/50 by an md5 nibble of the user id (the hash-bucketing
    // every experimentation platform uses — re-runs assign identically,
    // assignment is join-stable across tables), per-arm conversion
    // rates, and the SRM z-score (users_arm − N/2)/√(N/4) that flags a
    // broken randomizer before anyone reads the metrics. One distinct
    // collapse + one enriched rollup; the grand total is a broadcast
    // 1-row side.
    Q("behavior_ab_assign",
      s"""WITH u AS (SELECT DISTINCT user_id,
         |    CASE WHEN (instr('0123456789abcdef',
         |        substring(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) % 2 = 0
         |      THEN 'A' ELSE 'B' END AS arm FROM events),
         |e AS (SELECT events.user_id, arm, $lbl AS lbl
         |  FROM events JOIN u ON u.user_id = events.user_id),
         |s AS (SELECT arm, CAST(count(DISTINCT user_id) AS BIGINT) AS users,
         |    CAST(count(*) AS BIGINT) AS n_events,
         |    CAST(sum(lbl) AS BIGINT) AS conv FROM e GROUP BY 1),
         |t AS (SELECT CAST(sum(users) AS BIGINT) AS tu FROM s)
         |SELECT arm, users, n_events, conv,
         |  round(conv / CAST(n_events AS DOUBLE), 4) AS conv_rate,
         |  round((users - tu / 2.0) / sqrt(tu / 4.0), 4) AS srm_z
         |FROM s, t ORDER BY arm""") { (s, d) =>
      val u = Tables.events(s, d).select(col("user_id")).distinct()
        .withColumn("arm",
          expr("""CASE WHEN (instr('0123456789abcdef',
                 |    substring(md5(CAST(user_id AS STRING)), 1, 1)) - 1) % 2 = 0
                 |  THEN 'A' ELSE 'B' END""".stripMargin))
      val e = Tables.events(s, d).join(broadcast(u), Seq("user_id"))
        .select(col("user_id"), col("arm"), expr(lbl).as("lbl"))
      val st = e.groupBy(col("arm"))
        .agg(countDistinct(col("user_id")).as("users"),
          count(lit(1)).as("n_events"), sum(col("lbl")).as("conv"))
      val t = st.agg(sum(col("users")).as("tu"))
      st.crossJoin(broadcast(t))
        .select(col("arm"), col("users"), col("n_events"), col("conv"),
          round(col("conv") / col("n_events").cast("double"), 4).as("conv_rate"),
          round((col("users") - col("tu") / 2.0) / sqrt(col("tu") / 4.0), 4)
            .as("srm_z"))
        .orderBy(col("arm"))
    },

    // LAST-touch attribution (the linear multi-touch form above splits
    // credit; this one assigns each purchase wholly to the most recent
    // click/view within a 24 h lookback, else the 'direct' channel).
    // One user-keyed window pass (IGNORE NULLS last over the preceding
    // frame) — no events-to-events join, so the 100 TB cost is a single
    // shuffle on user_id that funnel/sessionize already pay.
    Q("behavior_attribution_lt",
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
        |GROUP BY 1 ORDER BY channel""") { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val isTouch = col("event_type").isin("click", "view")
      Tables.events(s, d)
        .withColumn("touch",
          last(when(isTouch, col("event_type")), ignoreNulls = true).over(w))
        .withColumn("touch_ts",
          last(when(isTouch, col("ts")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .withColumn("channel",
          when(col("touch").isNotNull &&
            col("ts") <= col("touch_ts") + expr("INTERVAL 24 HOUR"),
            col("touch")).otherwise(lit("direct")))
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("purchases"),
          sum(col("value").cast("decimal(18,4)")).cast("double")
            .as("attributed_value"))
        .orderBy(col("channel"))
    },

    // First-order Markov transition matrix over per-user event
    // sequences: P(next=dst | cur=src) with exact integer counts. The
    // lead() rides the same user-keyed shuffle as every sequence
    // operator; the matrix itself is |types|² — driver-tiny at any SF.
    Q("behavior_transitions",
      """WITH o AS (SELECT event_type AS src,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS dst
        |  FROM events)
        |SELECT src, dst, CAST(count(*) AS BIGINT) AS n,
        |  round(count(*) /
        |    CAST(sum(count(*)) OVER (PARTITION BY src) AS DOUBLE), 4) AS p
        |FROM o WHERE dst IS NOT NULL
        |GROUP BY src, dst ORDER BY src, dst""") { (s, d) =>
      val seq = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val pairs = Tables.events(s, d)
        .select(col("event_type").as("src"),
          lead(col("event_type"), 1).over(seq).as("dst"))
        .filter(col("dst").isNotNull)
        .groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).as("n"))
      pairs
        .withColumn("p", round(col("n") /
          sum(col("n")).over(Window.partitionBy(col("src"))).cast("double"), 4))
        .orderBy(col("src"), col("dst"))
    },

    // Common onboarding paths: the ordered first-5-event signature per
    // user, counted across users (top-20). The per-user sequence
    // collapses under one keyed window + collect; path cardinality is
    // bounded by |types|^5, so the final count/sort runs on a tiny
    // relation whatever the corpus size.
    Q("behavior_paths",
      """WITH r AS (SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn
        |  FROM events),
        |p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM r WHERE rn <= 5 GROUP BY user_id)
        |SELECT path, CAST(count(*) AS BIGINT) AS users
        |FROM p GROUP BY path
        |ORDER BY users DESC, path LIMIT 20""") { (s, d) =>
      val seq = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          row_number().over(seq).as("rn"))
        .filter(col("rn") <= 5)
        .groupBy(col("user_id"))
        .agg(expr("""array_join(transform(
              |  array_sort(collect_list(struct(rn, event_type))),
              |  t -> t.event_type), '>')""".stripMargin).as("path"))
        .groupBy(col("path"))
        .agg(count(lit(1)).as("users"))
        .orderBy(col("users").desc, col("path"))
        .limit(20)
    },

    // Activity concentration (Pareto point): the smallest user-rank
    // prefix that accounts for ≥80% of all events, plus the share of
    // users that prefix represents — "do 20% of users generate 80% of
    // the traffic?". Raw rows collapse to per-user counts by hash
    // aggregate first; the rank/cumulative layer then runs over USERS
    // (cardinality ≪ events), ordered by the unique (count desc,
    // user_id) composite so the cumulative share is deterministic
    // under ties. Users are still unbounded, so rank + running sum +
    // grand totals all come from ONE Ranks.withRankAndCumSum pass —
    // range-repartition on the order key, per-partition rank/cumsum,
    // 32-row count/sum offset rollup — with no single-partition window
    // in the plan (the DuckDB oracle keeps the window text; parity
    // proves the forms identical). The reach-80 pick is the same
    // min-CASE idiom as the weighted-quantile family.
    Q("behavior_pareto",
      """WITH u AS (SELECT user_id, count(*) AS c FROM events GROUP BY 1),
        |r AS (SELECT c,
        |    row_number() OVER (ORDER BY c DESC, user_id) AS rk,
        |    sum(c) OVER (ORDER BY c DESC, user_id) AS cum,
        |    sum(c) OVER () AS tot,
        |    count(*) OVER () AS n_users
        |  FROM u)
        |SELECT CAST(max(n_users) AS BIGINT) AS n_users,
        |  CAST(max(tot) AS BIGINT) AS n_events,
        |  CAST(min(CASE WHEN cum / CAST(tot AS DOUBLE) >= 0.8
        |    THEN rk END) AS BIGINT) AS pareto_rank,
        |  round(min(CASE WHEN cum / CAST(tot AS DOUBLE) >= 0.8
        |      THEN rk END) / CAST(max(n_users) AS DOUBLE), 4)
        |    AS pareto_user_share
        |FROM r ORDER BY n_users""") { (s, d) =>
      val u = Tables.events(s, d)
        .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      Ranks.withRankAndCumSum(u,
          Seq(col("c").desc, col("user_id")), col("c"),
          "rk", "cum", "tot", "n_users")
        .agg(max(col("n_users")).cast("long").as("n_users"),
          max(col("tot")).cast("long").as("n_events"),
          min(when(col("cum") / col("tot").cast("double") >= 0.8,
            col("rk"))).cast("long").as("pareto_rank"),
          round(min(when(col("cum") / col("tot").cast("double") >= 0.8,
            col("rk"))) / max(col("n_users")).cast("double"), 4)
            .as("pareto_user_share"))
        .orderBy(col("n_users"))
    },

    // Growth accounting: per day, active users split into new (first
    // ever seen that day) vs returning — the DAU decomposition every
    // growth dashboard leads with. Each user's first day is one keyed
    // min-aggregate; the daily split is a (user, day)-distinct relation
    // joined to it — two hash aggregates and one equi-join on user_id,
    // no window over raw events.
    Q("behavior_new_returning",
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS first_day
        |  FROM events GROUP BY 1),
        |a AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events)
        |SELECT CAST(day AS VARCHAR) AS day,
        |  CAST(count(*) AS BIGINT) AS active_users,
        |  CAST(sum(CASE WHEN f.first_day = a.day THEN 1 ELSE 0 END)
        |    AS BIGINT) AS new_users,
        |  CAST(sum(CASE WHEN f.first_day < a.day THEN 1 ELSE 0 END)
        |    AS BIGINT) AS returning_users
        |FROM a JOIN f USING (user_id)
        |GROUP BY day ORDER BY day""") { (s, d) =>
      val ev = Tables.events(s, d)
      val f = ev.groupBy(col("user_id"))
        .agg(min(col("ts").cast("date")).as("first_day"))
      val a = ev.select(col("ts").cast("date").as("day"), col("user_id"))
        .distinct()
      a.join(f, Seq("user_id"))
        .groupBy(col("day"))
        .agg(count(lit(1)).cast("long").as("active_users"),
          sum(when(col("first_day") === col("day"), 1).otherwise(0))
            .cast("long").as("new_users"),
          sum(when(col("first_day") < col("day"), 1).otherwise(0))
            .cast("long").as("returning_users"))
        .select(col("day").cast("string").as("day"), col("active_users"),
          col("new_users"), col("returning_users"))
        .orderBy(col("day"))
    },

    // Weekly churn: users active in epoch-week w with no activity in
    // w+1 — the retention complement a subscription pipeline alerts on.
    // The (user, week)-distinct relation self-joins on the shifted week
    // key (equi-join, user-keyed shuffle only); the final week's cohort
    // is reported but has no next-week data, so its churn is trivially
    // total — consumers slice it off, the operator stays total-order
    // deterministic.
    Q("behavior_churn",
      """WITH wk AS (SELECT DISTINCT user_id,
        |    CAST(floor(epoch(ts) / 604800) AS BIGINT) AS w FROM events)
        |SELECT cur.w,
        |  CAST(count(*) AS BIGINT) AS active,
        |  CAST(sum(CASE WHEN nxt.user_id IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS churned,
        |  round(sum(CASE WHEN nxt.user_id IS NULL THEN 1 ELSE 0 END)
        |    / CAST(count(*) AS DOUBLE), 4) AS churn_rate
        |FROM wk cur LEFT JOIN wk nxt
        |  ON nxt.user_id = cur.user_id AND nxt.w = cur.w + 1
        |GROUP BY cur.w ORDER BY cur.w""") { (s, d) =>
      val wk = Tables.events(s, d)
        .select(col("user_id"),
          floor(unix_timestamp(col("ts")) / 604800).cast("long").as("w"))
        .distinct()
      val nxt = wk.select(col("user_id"), (col("w") - 1).as("w"),
        lit(1).as("has_next"))
      wk.join(nxt, Seq("user_id", "w"), "left")
        .groupBy(col("w"))
        .agg(count(lit(1)).cast("long").as("active"),
          sum(when(col("has_next").isNull, 1).otherwise(0))
            .cast("long").as("churned"),
          round(sum(when(col("has_next").isNull, 1).otherwise(0))
            / count(lit(1)).cast("double"), 4).as("churn_rate"))
        .orderBy(col("w"))
    },

    // Kaplan-Meier survival curve for time-to-purchase after signup
    // (right-censored at the observation horizon = the corpus max
    // event time) — THE estimator for "how long until users convert"
    // under censoring, where a naive mean-of-converters is biased. Per
    // user: duration in whole hours from first signup to first
    // subsequent purchase (event) or to the horizon (censored). The
    // curve steps only at event durations: n_risk via one descending
    // cumulative count, the product Π(1 − dᵢ/nᵢ) as exp of a running
    // sum of per-step ln factors — each ln computed from exact integer
    // (dᵢ, nᵢ) and quantized DECIMAL(28,12) before the ordered window
    // sum, so the curve is bit-stable. A step consuming the whole risk
    // set (dᵢ = nᵢ) pins survival to exactly 0 from that point (the
    // ln(0) guard). Everything is keyed rollups + one small window —
    // scan-shaped at any scale.
    Q("behavior_survival_km",
      """WITH su AS (SELECT user_id, min(ts) AS s_ts FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |mx AS (SELECT max(ts) AS m_ts FROM events),
        |pu AS (SELECT su.user_id, min(e.ts) AS p_ts
        |  FROM su JOIN events e ON e.user_id = su.user_id
        |    AND e.event_type = 'purchase' AND e.ts >= su.s_ts
        |  GROUP BY 1),
        |obs AS (SELECT su.user_id,
        |    CASE WHEN p_ts IS NOT NULL THEN 1 ELSE 0 END AS ev,
        |    (epoch_us(coalesce(p_ts, m_ts)) - epoch_us(s_ts))
        |      // 3600000000 AS dur
        |  FROM su LEFT JOIN pu USING (user_id) CROSS JOIN mx),
        |dd AS (SELECT dur, sum(ev) AS d_i, count(*) AS c_all
        |  FROM obs GROUP BY 1),
        |r AS (SELECT dur, d_i,
        |    sum(c_all) OVER (ORDER BY dur DESC) AS n_risk FROM dd),
        |k AS (SELECT dur, d_i, n_risk,
        |    CAST(CASE WHEN d_i < n_risk
        |      THEN ln(1 - d_i / CAST(n_risk AS DOUBLE)) ELSE 0 END
        |      AS DECIMAL(28,12)) AS lf,
        |    CASE WHEN d_i = n_risk THEN 1 ELSE 0 END AS zf
        |  FROM r WHERE d_i > 0),
        |sv AS (SELECT dur, d_i, n_risk,
        |    sum(lf) OVER (ORDER BY dur) AS cl,
        |    max(zf) OVER (ORDER BY dur) AS z FROM k)
        |SELECT CAST(dur AS BIGINT) AS duration_h,
        |  CAST(d_i AS BIGINT) AS n_events, CAST(n_risk AS BIGINT) AS n_risk,
        |  CASE WHEN z = 1 THEN 0.0
        |    ELSE round(exp(CAST(cl AS DOUBLE)), 4) END AS survival
        |FROM sv ORDER BY duration_h""") { (s, d) =>
      val ev = Tables.events(s, d)
      val su = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("s_ts"))
      val mx = ev.agg(max(col("ts")).as("m_ts"))
      val pu = su.join(ev.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("ts")), Seq("user_id"))
        .filter(col("ts") >= col("s_ts"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
      val obs = su.join(pu, Seq("user_id"), "left_outer")
        .crossJoin(broadcast(mx))
        .select(
          when(col("p_ts").isNotNull, 1).otherwise(0).as("ev"),
          expr("""(unix_micros(coalesce(p_ts, m_ts)) - unix_micros(s_ts))
            |div 3600000000""".stripMargin).as("dur"))
      val dd = obs.groupBy(col("dur"))
        .agg(sum(col("ev")).as("d_i"), count(lit(1)).as("c_all"))
      val r = dd.withColumn("n_risk",
        sum(col("c_all")).over(Window.orderBy(col("dur").desc)))
      val k = r.filter(col("d_i") > 0)
        .select(col("dur"), col("d_i"), col("n_risk"),
          expr("""CAST(CASE WHEN d_i < n_risk
            |  THEN ln(1 - d_i / CAST(n_risk AS DOUBLE)) ELSE 0 END
            |  AS DECIMAL(28,12))""".stripMargin).as("lf"),
          when(col("d_i") === col("n_risk"), 1).otherwise(0).as("zf"))
      k.withColumn("cl", sum(col("lf")).over(Window.orderBy(col("dur"))))
        .withColumn("z", max(col("zf")).over(Window.orderBy(col("dur"))))
        .select(col("dur").cast("long").as("duration_h"),
          col("d_i").cast("long").as("n_events"),
          col("n_risk").cast("long").as("n_risk"),
          when(col("z") === 1, lit(0.0))
            .otherwise(round(exp(col("cl").cast("double")), 4)).as("survival"))
        .orderBy(col("duration_h"))
    },

    // LTV COHORT TRIANGLE — cohort_retention's revenue twin: per
    // (first-purchase-week cohort × week offset), the period revenue,
    // the RUNNING cumulative revenue, and cumulative revenue per cohort
    // member — the lifetime-value curve marketing reads off the
    // triangle's diagonals. Revenue sums quantize DECIMAL(18,4) (exact,
    // order-free); the cumulative is one small window over the
    // cohort×offset grid; cohort size is a constant-size broadcast.
    Q("behavior_ltv_cohort",
      """WITH p AS (SELECT user_id, ts, value FROM events
        |  WHERE event_type = 'purchase'),
        |f AS (SELECT user_id, date_trunc('week', min(ts)) AS cw
        |  FROM p GROUP BY 1),
        |cs AS (SELECT cw, count(*) AS cohort_users FROM f GROUP BY 1),
        |g AS (SELECT CAST(epoch(f.cw) AS BIGINT) AS cohort_week,
        |    CAST(floor((epoch(date_trunc('week', p.ts)) - epoch(f.cw))
        |      / 604800) AS INT) AS offset_week,
        |    sum(CAST(p.value AS DECIMAL(18,4))) AS rev
        |  FROM p JOIN f ON p.user_id = f.user_id GROUP BY 1, 2),
        |c AS (SELECT cohort_week, offset_week, rev,
        |    sum(rev) OVER (PARTITION BY cohort_week ORDER BY offset_week)
        |      AS cum_rev FROM g)
        |SELECT c.cohort_week, c.offset_week,
        |  CAST(c.rev AS DOUBLE) AS revenue,
        |  CAST(c.cum_rev AS DOUBLE) AS cum_revenue,
        |  round(CAST(c.cum_rev AS DOUBLE) / cs.cohort_users, 4)
        |    AS cum_rev_per_user
        |FROM c JOIN cs ON CAST(epoch(cs.cw) AS BIGINT) = c.cohort_week
        |ORDER BY cohort_week, offset_week""") { (s, d) =>
      val p = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      val f = p.groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).as("cw"))
      val cs = f.groupBy(col("cw")).agg(count(lit(1)).as("cohort_users"))
        .select(unix_timestamp(col("cw")).as("cs_week"), col("cohort_users"))
      val g = p.join(f, Seq("user_id"))
        .groupBy(unix_timestamp(col("cw")).as("cohort_week"),
          floor((unix_timestamp(date_trunc("week", col("ts"))) -
            unix_timestamp(col("cw"))) / 604800).cast("int").as("offset_week"))
        .agg(sum(col("value").cast("decimal(18,4)")).as("rev"))
      val c = g.withColumn("cum_rev",
        sum(col("rev")).over(Window.partitionBy(col("cohort_week"))
          .orderBy(col("offset_week"))))
      c.join(broadcast(cs), col("cs_week") === col("cohort_week"))
        .select(col("cohort_week"), col("offset_week"),
          col("rev").cast("double").as("revenue"),
          col("cum_rev").cast("double").as("cum_revenue"),
          round(col("cum_rev").cast("double") / col("cohort_users"), 4)
            .as("cum_rev_per_user"))
        .orderBy(col("cohort_week"), col("offset_week"))
    },

    // DEADLINE-WINDOWED FUNNEL (the windowFunnel(24h) shape): funnel
    // level per user where every later step must land within 24 hours
    // of the FIRST step — the variant that distinguishes "converted in
    // one session" from funnel_steps' anytime conversion. Same chained
    // conditional-window-min construction as funnel_steps, with the
    // deadline predicate riding each min; per-level exact counts plus
    // the share of funnel entrants. One user-keyed window exchange —
    // identical scale shape to funnel_steps.
    Q("behavior_window_funnel",
      """WITH a AS (SELECT user_id, ts, event_type,
        |    min(CASE WHEN event_type = 'view' THEN ts END)
        |      OVER (PARTITION BY user_id) AS t1 FROM events),
        |b AS (SELECT user_id, ts, event_type, t1,
        |    min(CASE WHEN event_type = 'click' AND ts > t1
        |        AND ts <= t1 + INTERVAL 24 HOUR THEN ts END)
        |      OVER (PARTITION BY user_id) AS t2 FROM a),
        |c AS (SELECT DISTINCT user_id, t1, t2,
        |    min(CASE WHEN event_type = 'purchase' AND ts > t2
        |        AND ts <= t1 + INTERVAL 24 HOUR THEN ts END)
        |      OVER (PARTITION BY user_id) AS t3 FROM b),
        |l AS (SELECT user_id,
        |    CASE WHEN t3 IS NOT NULL THEN 3
        |         WHEN t2 IS NOT NULL THEN 2 ELSE 1 END AS level
        |  FROM c WHERE t1 IS NOT NULL),
        |g AS (SELECT level, count(*) AS users FROM l GROUP BY 1),
        |t AS (SELECT sum(users) AS total FROM g)
        |SELECT CAST(level AS INT) AS level, CAST(users AS BIGINT) AS users,
        |  round(users / CAST(t.total AS DOUBLE), 4) AS frac
        |FROM g CROSS JOIN t ORDER BY level""") { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
      val staged = Tables.events(s, d)
        .withColumn("t1",
          min(when(col("event_type") === "view", col("ts"))).over(w))
        .withColumn("t2",
          min(when(col("event_type") === "click" && col("ts") > col("t1") &&
            col("ts") <= col("t1") + expr("INTERVAL 24 HOUR"), col("ts")))
            .over(w))
        .withColumn("t3",
          min(when(col("event_type") === "purchase" && col("ts") > col("t2") &&
            col("ts") <= col("t1") + expr("INTERVAL 24 HOUR"), col("ts")))
            .over(w))
        .select(col("user_id"), col("t1"), col("t2"), col("t3")).distinct()
      val g = staged.filter(col("t1").isNotNull)
        .select(when(col("t3").isNotNull, 3)
          .when(col("t2").isNotNull, 2).otherwise(1).as("level"))
        .groupBy(col("level")).agg(count(lit(1)).as("users"))
      val t = g.agg(sum(col("users")).as("total"))
      g.crossJoin(broadcast(t))
        .select(col("level").cast("int").as("level"), col("users"),
          round(col("users") / col("total").cast("double"), 4).as("frac"))
        .orderBy(col("level"))
    },

    // REPEAT-PURCHASE CURVE — for k = 1..5, how many purchasers reach
    // their k-th purchase, the retention-of-monetization ladder
    // (repeat rate = the k=2 row over the k=1 row). One user rollup to
    // purchase counts, then a 5-row literal grid ≥-join — integers
    // throughout, and the grid side is a constant broadcast.
    Q("behavior_repeat_curve",
      """WITH u AS (SELECT user_id, count(*) AS np FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1),
        |g AS (SELECT unnest([1, 2, 3, 4, 5]) AS k),
        |c AS (SELECT g.k,
        |    sum(CASE WHEN u.np >= g.k THEN 1 ELSE 0 END) AS users
        |  FROM u CROSS JOIN g GROUP BY 1),
        |t AS (SELECT count(*) AS total FROM u)
        |SELECT k, CAST(users AS BIGINT) AS users,
        |  round(users / CAST(t.total AS DOUBLE), 4) AS frac_of_buyers
        |FROM c CROSS JOIN t ORDER BY k""") { (s, d) =>
      val u = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(count(lit(1)).as("np"))
      val g = s.range(1, 6).select(col("id").cast("int").as("k"))
      val c = u.crossJoin(broadcast(g))
        .groupBy(col("k"))
        .agg(sum(when(col("np") >= col("k"), 1).otherwise(0)).as("users"))
      val t = u.agg(count(lit(1)).as("total"))
      c.crossJoin(broadcast(t))
        .select(col("k"), col("users").cast("long").as("users"),
          round(col("users") / col("total").cast("double"), 4)
            .as("frac_of_buyers"))
        .orderBy(col("k"))
    },

    // WEEK-OVER-WEEK change per event type — weekly exact-decimal
    // volume, the previous week via one keyed lag, and the relative
    // change; the reporting primitive behind every growth dashboard.
    // ISO weeks from epoch-day arithmetic ((epoch_day + 3) / 7 —
    // 1970-01-01 was a Thursday) so both engines bucket identically
    // with no locale-dependent week rules.
    Q("behavior_wow_change",
      """WITH w AS (SELECT event_type,
        |    CAST(floor((epoch(ts) / 86400 + 3) / 7) AS BIGINT) AS wk,
        |    CAST(sum(CAST("value" AS DECIMAL(18,4))) AS DECIMAL(18,4))
        |      AS vol
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, wk, vol,
        |    lag(vol) OVER (PARTITION BY event_type ORDER BY wk) AS prev
        |  FROM w)
        |SELECT event_type, wk,
        |  round(CAST(vol AS DOUBLE), 2) AS volume,
        |  round(CAST(prev AS DOUBLE), 2) AS prev_volume,
        |  round((CAST(vol AS DOUBLE) - CAST(prev AS DOUBLE))
        |    / nullif(CAST(prev AS DOUBLE), 0), 4) AS wow_change
        |FROM l ORDER BY event_type, wk""") { (s, d) =>
      val w = Tables.events(s, d)
        .groupBy(col("event_type"),
          floor((unix_timestamp(col("ts")) / 86400 + 3) / 7)
            .cast("long").as("wk"))
        .agg(sum(col("value").cast("decimal(18,4)"))
          .cast("decimal(18,4)").as("vol"))
      val l = w.withColumn("prev", lag(col("vol"), 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("wk"))))
      l.select(col("event_type"), col("wk"),
          round(col("vol").cast("double"), 2).as("volume"),
          round(col("prev").cast("double"), 2).as("prev_volume"),
          round((col("vol").cast("double") - col("prev").cast("double")) /
            nullif(col("prev").cast("double"), lit(0d)), 4).as("wow_change"))
        .orderBy(col("event_type"), col("wk"))
    },

    // RFM SEGMENTATION (Hughes 1994) — the classic customer-value cut
    // every CRM/retention stack starts from: per customer Recency (last
    // order date), Frequency (order count), Monetary (total spend),
    // each quintiled, then the (r,f,m) cell census with its revenue
    // share. The quintile cuts ride the AGGREGATED customer relation
    // (one row per customer — the collapse-then-window discipline), and
    // every quintile order ends in the unique custkey, so bucket
    // boundaries are total-order deterministic in both engines (ntile's
    // remainder-to-first-buckets rule is shared). Monetary stays an
    // exact DECIMAL until the final share division. Scale: customers
    // are unbounded (1e9 at 100 TB), so each quintile is computed by
    // Ranks.withNtile — range-repartition on the quintile key +
    // per-partition rank + a 32-row offset rollup — never a
    // single-partition ntile window; three cuts = three entity-level
    // range exchanges, each numPartitions-way parallel. The DuckDB
    // oracle keeps the literal ntile text; hash parity proves the
    // distributed form bucket-identical.
    Q("behavior_rfm",
      """WITH u AS (SELECT o_custkey AS c, max(o_orderdate) AS last_d,
        |    CAST(count(*) AS BIGINT) AS f,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS m
        |  FROM orders GROUP BY 1),
        |q AS (SELECT c, f, m,
        |    ntile(5) OVER (ORDER BY last_d DESC, c) AS r_q,
        |    ntile(5) OVER (ORDER BY f DESC, c) AS f_q,
        |    ntile(5) OVER (ORDER BY m DESC, c) AS m_q
        |  FROM u),
        |tot AS (SELECT sum(m) AS tm FROM u)
        |SELECT r_q, f_q, m_q,
        |  CAST(count(*) AS BIGINT) AS n_customers,
        |  floor(CAST(sum(m) AS DOUBLE) / count(*) * 100 + 0.5) / 100.0
        |    AS avg_monetary,
        |  round(CAST(sum(m) AS DOUBLE) / CAST(tot.tm AS DOUBLE), 4)
        |    AS revenue_share
        |FROM q CROSS JOIN tot
        |GROUP BY r_q, f_q, m_q, tot.tm
        |ORDER BY r_q, f_q, m_q""") { (s, d) =>
      val u = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("c"))
        .agg(max(col("o_orderdate")).as("last_d"),
          count(lit(1)).as("f"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("m"))
      val q = Ranks.withNtile(
        Ranks.withNtile(
          Ranks.withNtile(u,
            Seq(col("last_d").desc, col("c")), 5, "r_q"),
          Seq(col("f").desc, col("c")), 5, "f_q"),
        Seq(col("m").desc, col("c")), 5, "m_q")
        .select(col("c"), col("f"), col("m"),
          col("r_q"), col("f_q"), col("m_q"))
      val tot = u.agg(sum(col("m")).as("tm"))
      q.crossJoin(broadcast(tot))
        .groupBy(col("r_q"), col("f_q"), col("m_q"), col("tm"))
        .agg(count(lit(1)).as("n_customers"),
          // explicit half-up floor form: round() half-behavior differs
          // across engines exactly at cent boundaries (DETERMINISM.md §7)
          (floor(sum(col("m")).cast("double") / count(lit(1)) * 100
            + 0.5) / 100.0).as("avg_monetary"),
          round(sum(col("m")).cast("double") / col("tm").cast("double"), 4)
            .as("revenue_share"))
        .select(col("r_q"), col("f_q"), col("m_q"),
          col("n_customers").cast("long").as("n_customers"),
          col("avg_monetary"), col("revenue_share"))
        .orderBy(col("r_q"), col("f_q"), col("m_q"))
    },

    // STICKINESS (DAU/WAU) per calendar week — the engagement-depth
    // ratio product analytics reads daily ("how much of the weekly
    // audience shows up on an average day?"), the metric
    // behavior_new_returning/churn don't express. Two distinct-user
    // rollups — per (day) and per (week) — then one bounded per-week
    // join; stickiness = (Σ daily actives)/(active days × weekly
    // actives), exact integers until the one final division. date_trunc
    // 'week' is Monday-start in both engines.
    Q("behavior_stickiness",
      """WITH da AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        |  FROM events GROUP BY 1),
        |wa AS (SELECT CAST(date_trunc('week', ts) AS DATE) AS wk,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS wau
        |  FROM events GROUP BY 1)
        |SELECT wk, CAST(count(*) AS BIGINT) AS active_days,
        |  CAST(sum(dau) AS BIGINT) AS dau_sum, wau,
        |  round(sum(dau) / CAST(count(*) * wau AS DOUBLE), 4)
        |    AS stickiness
        |FROM da JOIN wa ON CAST(date_trunc('week', day) AS DATE) = wk
        |GROUP BY wk, wau ORDER BY wk""") { (s, d) =>
      val da = Tables.events(s, d)
        .groupBy(col("ts").cast("date").as("day"))
        .agg(countDistinct(col("user_id")).as("dau"))
      val wa = Tables.events(s, d)
        .groupBy(date_trunc("week", col("ts")).cast("date").as("wk"))
        .agg(countDistinct(col("user_id")).as("wau"))
      da.join(wa, date_trunc("week", col("day")).cast("date") === col("wk"))
        .groupBy(col("wk"), col("wau"))
        .agg(count(lit(1)).as("active_days"),
          sum(col("dau")).as("dau_sum"))
        .select(col("wk"),
          col("active_days").cast("long").as("active_days"),
          col("dau_sum").cast("long").as("dau_sum"),
          col("wau").cast("long").as("wau"),
          round(col("dau_sum") / (col("active_days") * col("wau"))
            .cast("double"), 4).as("stickiness"))
        .orderBy(col("wk"))
    },

    // L28 ENGAGEMENT HISTOGRAM (the "Lness" curve — days-active per
    // user in the trailing 28-day window, the histogram DAU/MAU
    // averages away): a smile-shaped curve means a power-user core
    // plus a drive-by tail; the shape, not the ratio, is what product
    // teams actually act on. One distinct (user, day) relation
    // filtered to the corpus's last 28 days (1-row max-day broadcast),
    // one per-user count, one ≤28-row histogram with cumulative user
    // share — every step partial-aggregable.
    Q("behavior_l28",
      """WITH mx AS (SELECT max(CAST(ts AS DATE)) AS d0 FROM events),
        |ud AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day
        |  FROM events),
        |w AS (SELECT u, CAST(count(*) AS BIGINT) AS days_active
        |  FROM ud CROSS JOIN mx
        |  WHERE day > d0 - 28 GROUP BY 1),
        |h AS (SELECT days_active, CAST(count(*) AS BIGINT) AS n_users
        |  FROM w GROUP BY 1),
        |t AS (SELECT sum(n_users) AS tu FROM h)
        |SELECT days_active, n_users,
        |  round(n_users / CAST(t.tu AS DOUBLE), 4) AS user_share,
        |  round(sum(n_users) OVER (ORDER BY days_active)
        |    / CAST(t.tu AS DOUBLE), 4) AS cum_share
        |FROM h CROSS JOIN t ORDER BY days_active""") { (s, d) =>
      val mx = Tables.events(s, d)
        .agg(max(col("ts").cast("date")).as("d0"))
      val w = Tables.events(s, d)
        .select(col("user_id").as("u"), col("ts").cast("date").as("day"))
        .distinct()
        .crossJoin(broadcast(mx))
        .filter(col("day") > date_sub(col("d0"), 28))
        .groupBy(col("u")).agg(count(lit(1)).as("days_active"))
      val h = w.groupBy(col("days_active"))
        .agg(count(lit(1)).as("n_users"))
      val t = h.agg(sum(col("n_users")).as("tu"))
      h.crossJoin(broadcast(t))
        .select(col("days_active").cast("long").as("days_active"),
          col("n_users").cast("long").as("n_users"),
          round(col("n_users") / col("tu").cast("double"), 4)
            .as("user_share"),
          round(sum(col("n_users"))
              .over(Window.orderBy(col("days_active"))
                .rowsBetween(Window.unboundedPreceding, 0))
            / col("tu").cast("double"), 4).as("cum_share"))
        .orderBy(col("days_active"))
    },

    // GROWTH-ACCOUNTING LIFECYCLE GRID (the Social Capital "growth
    // accounting" decomposition) — every active user-week classified
    // NEW (first week ever) / RETAINED (also active the previous week)
    // / RESURRECTED (inactive last week, active before), plus CHURNED
    // (active last week, gone this week), and the quick ratio
    // (new+resurrected)/churned — the readout that says whether growth
    // is acquisition or leaky-bucket. One distinct (user, week)
    // relation feeds everything: a per-user min for NEW, one
    // self-join on (user, wk−1) for the retained/resurrected split and
    // one on (user, wk+1) for churn — all equi-joins on the
    // user-week relation, no windows over raw events. Weeks are
    // epoch-day buckets (behavior_wow_change's locale-free rule).
    // Churn is only reported for weeks that appear in the active grid
    // (the join direction drops the undefined trailing week).
    Q("behavior_lifecycle_grid",
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
      val uw = Tables.events(s, d)
        .select(col("user_id").as("u"),
          floor((unix_timestamp(col("ts")) / 86400 + 3) / 7)
            .cast("long").as("wk"))
        .distinct()
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

    // BLOOM FILTER build + measured false-positive rate — the
    // membership sketch the engine's own join prefilter rides
    // (join_bloom_prefilter uses Spark's native bloom; THIS query
    // builds one from first principles so the mechanism itself is
    // oracle-checked): m = 4096 bits, k = 4 md5-derived hash rows; the
    // bit array is the DISTINCT set of (salted-hash mod m) positions
    // over build keys (customers that ordered), so shards OR
    // trivially — the reduced state is ≤ m rows no matter the corpus.
    // Probes (ALL customers, a strict superset by FK) hit-count their
    // k positions against the broadcast bit set; a probe is positive
    // iff all k bits are set. Every true member is positive (no false
    // negatives — asserted by true_pos = n_build), and the measured
    // FPR over the true negatives sits next to the fill-ratio
    // prediction (1-(1-1/m)^{kn} ≈ fill)^k — computed by
    // multiplication, not pow(), which is libm-dependent.
    Q("sketch_bloom",
      """WITH bld AS (SELECT DISTINCT o_custkey AS k FROM orders),
        |bits AS (SELECT DISTINCT
        |    ('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':'
        |      || CAST(k AS VARCHAR)), 1, 3))::BIGINT AS pos
        |  FROM bld, range(0, 4) r(r)),
        |nb AS (SELECT count(*) AS bits_set FROM bits),
        |probe AS (SELECT c_custkey AS k FROM customer),
        |pp AS (SELECT p.k,
        |    ('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':'
        |      || CAST(p.k AS VARCHAR)), 1, 3))::BIGINT AS pos
        |  FROM probe p, range(0, 4) r(r)),
        |hits AS (SELECT pp.k, count(b.pos) AS nhit
        |  FROM pp LEFT JOIN bits b ON b.pos = pp.pos
        |  GROUP BY pp.k),
        |fl AS (SELECT h.k, h.nhit = 4 AS positive,
        |    bl.k IS NOT NULL AS in_build
        |  FROM hits h LEFT JOIN bld bl ON bl.k = h.k),
        |ag AS (SELECT count(*) AS n_probe,
        |    sum(CASE WHEN in_build THEN 1 ELSE 0 END) AS n_build,
        |    sum(CASE WHEN NOT in_build THEN 1 ELSE 0 END) AS n_neg,
        |    sum(CASE WHEN positive AND NOT in_build THEN 1 ELSE 0 END)
        |      AS n_fp,
        |    sum(CASE WHEN positive AND in_build THEN 1 ELSE 0 END)
        |      AS true_pos
        |  FROM fl)
        |SELECT CAST(n_build AS BIGINT) AS n_build,
        |  CAST(bits_set AS BIGINT) AS bits_set,
        |  round(bits_set / 4096.0, 4) AS fill_ratio,
        |  CAST(n_probe AS BIGINT) AS n_probe,
        |  CAST(n_neg AS BIGINT) AS n_neg,
        |  CAST(n_fp AS BIGINT) AS n_fp,
        |  round(n_fp / CAST(nullif(n_neg, 0) AS DOUBLE), 4) AS fpr,
        |  round((bits_set / 4096.0) * (bits_set / 4096.0)
        |    * (bits_set / 4096.0) * (bits_set / 4096.0), 4)
        |    AS predicted_fpr,
        |  CAST(true_pos = n_build AS BOOLEAN) AS no_false_neg
        |FROM ag CROSS JOIN nb""") { (s, d) =>
      def posOf(key: String) = expr(
        s"""CAST(conv(substr(md5(concat(CAST(r AS STRING), ':',
           |  CAST($key AS STRING))), 1, 3), 16, 10) AS BIGINT)"""
          .stripMargin)
      val bld = Tables.orders(s, d).select(col("o_custkey").as("k")).distinct()
      val bits = bld.withColumn("r", explode(expr("sequence(0, 3)")))
        .select(posOf("k").as("pos")).distinct()
      val nb = bits.agg(count(lit(1)).as("bits_set"))
      val hits = Tables.customer(s, d).select(col("c_custkey").as("k"))
        .withColumn("r", explode(expr("sequence(0, 3)")))
        .withColumn("pos", posOf("k"))
        .join(broadcast(bits.withColumn("hit", lit(1))), Seq("pos"), "left")
        .groupBy(col("k")).agg(sum(coalesce(col("hit"), lit(0))).as("nhit"))
      val fl = hits
        .join(bld.withColumn("inb", lit(true)), Seq("k"), "left")
        .select((col("nhit") === 4).as("positive"),
          coalesce(col("inb"), lit(false)).as("in_build"))
      val ag = fl.agg(count(lit(1)).as("n_probe"),
        sum(when(col("in_build"), 1).otherwise(0)).as("n_build"),
        sum(when(!col("in_build"), 1).otherwise(0)).as("n_neg"),
        sum(when(col("positive") && !col("in_build"), 1).otherwise(0))
          .as("n_fp"),
        sum(when(col("positive") && col("in_build"), 1).otherwise(0))
          .as("true_pos"))
      val fill = col("bits_set") / 4096.0
      ag.crossJoin(broadcast(nb))
        .select(col("n_build").cast("long").as("n_build"),
          col("bits_set").cast("long").as("bits_set"),
          round(fill, 4).as("fill_ratio"),
          col("n_probe").cast("long").as("n_probe"),
          col("n_neg").cast("long").as("n_neg"),
          col("n_fp").cast("long").as("n_fp"),
          round(col("n_fp") /
            nullif(col("n_neg"), lit(0)).cast("double"), 4).as("fpr"),
          round(fill * fill * fill * fill, 4).as("predicted_fpr"),
          (col("true_pos") === col("n_build")).as("no_false_neg"))
    },

    // SEGMENT MIGRATION MATRIX — where behavior_rfm scores customers
    // once, this tracks how they MOVE: frequency quintiles computed
    // independently over two halves of the order history (split at
    // 1998-01-01), then the 5×5 transition matrix over customers
    // active in both halves, with the row-share that makes churn/
    // upgrade flows readable. Both quintile cuts ride the DISTRIBUTED
    // rank machinery (Ranks.withNtile — range repartition +
    // per-partition rank + offset rollup; no single-partition window
    // at any customer count), while the DuckDB oracle keeps the
    // literal ntile text — hash parity proves the distributed form
    // position-identical twice over. The matrix rollup itself is a
    // 25-cell aggregate — nothing here outgrows a groupBy.
    Q("behavior_rfm_migration",
      """WITH h1 AS (SELECT o_custkey AS ck, count(*) AS f
        |  FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '1998-01-01'
        |  GROUP BY 1),
        |h2 AS (SELECT o_custkey AS ck, count(*) AS f
        |  FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '1998-01-01'
        |  GROUP BY 1),
        |q1 AS (SELECT ck, ntile(5) OVER (ORDER BY f DESC, ck) AS q FROM h1),
        |q2 AS (SELECT ck, ntile(5) OVER (ORDER BY f DESC, ck) AS q FROM h2),
        |m AS (SELECT q1.q AS q_before, q2.q AS q_after,
        |    count(*) AS n_customers
        |  FROM q1 JOIN q2 ON q2.ck = q1.ck GROUP BY 1, 2),
        |r AS (SELECT q_before, sum(n_customers) AS rn FROM m GROUP BY 1)
        |SELECT CAST(m.q_before AS INT) AS q_before,
        |  CAST(m.q_after AS INT) AS q_after,
        |  CAST(m.n_customers AS BIGINT) AS n_customers,
        |  round(m.n_customers / CAST(r.rn AS DOUBLE), 4) AS row_share
        |FROM m JOIN r ON r.q_before = m.q_before
        |ORDER BY q_before, q_after""") { (s, d) =>
      val o = Tables.orders(s, d)
        .select(col("o_custkey").as("ck"),
          col("o_orderdate").cast("date").as("dt"))
      def half(cond: Column) = Ranks.withNtile(
        o.filter(cond).groupBy(col("ck")).agg(count(lit(1)).as("f")),
        Seq(col("f").desc, col("ck")), 5, "q")
      val cut = lit("1998-01-01").cast("date")
      val q1 = half(col("dt") < cut).select(col("ck"), col("q").as("q_before"))
      val q2 = half(col("dt") >= cut).select(col("ck"), col("q").as("q_after"))
      val m = q1.join(q2, Seq("ck"))
        .groupBy(col("q_before"), col("q_after"))
        .agg(count(lit(1)).as("n_customers"))
      val r = m.groupBy(col("q_before")).agg(sum(col("n_customers")).as("rn"))
      m.join(broadcast(r), Seq("q_before"))
        .select(col("q_before").cast("int").as("q_before"),
          col("q_after").cast("int").as("q_after"),
          col("n_customers").cast("long").as("n_customers"),
          round(col("n_customers") / col("rn").cast("double"), 4)
            .as("row_share"))
        .orderBy(col("q_before"), col("q_after"))
    },

    // PRICE ELASTICITY per brand — the ln-ln demand regression retail
    // analytics runs on every assortment review: slope of ln(quantity)
    // on ln(unit price) over the brand's line items (unit price =
    // extended/quantity). One lineitem×part equi-join (part is the
    // small dim — broadcastable at any scale), per-brand
    // DECIMAL-quantized OLS moment sums, closed-form slope + R². A
    // slope near −1 is unit-elastic; this fixture's synthetic prices
    // make the readout a determinism exercise, which is the point —
    // the estimator's plan shape is what scales.
    Q("behavior_price_elasticity",
      """WITH j AS (SELECT p.p_brand AS brand,
        |    ln(l_extendedprice / CAST(l_quantity AS DOUBLE)) AS x,
        |    ln(CAST(l_quantity AS DOUBLE)) AS y
        |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |  WHERE l_quantity > 0 AND l_extendedprice > 0),
        |s AS (SELECT brand, count(*) AS n,
        |    CAST(sum(CAST(round(x, 12) AS DECIMAL(28,12))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(round(y, 12) AS DECIMAL(28,12))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(round(x * y, 12) AS DECIMAL(28,12))) AS DOUBLE)
        |      AS sxy,
        |    CAST(sum(CAST(round(x * x, 12) AS DECIMAL(28,12))) AS DOUBLE)
        |      AS sxx,
        |    CAST(sum(CAST(round(y * y, 12) AS DECIMAL(28,12))) AS DOUBLE)
        |      AS syy
        |  FROM j GROUP BY 1),
        |f AS (SELECT brand, n,
        |    (sxy - sx * sy / n) / (sxx - sx * sx / n) AS slope,
        |    (sxy - sx * sy / n) * (sxy - sx * sy / n)
        |      / ((sxx - sx * sx / n) * (syy - sy * sy / n)) AS r2
        |  FROM s)
        |SELECT brand, CAST(n AS BIGINT) AS n,
        |  round(slope, 4) AS elasticity, round(r2, 4) AS r2
        |FROM f ORDER BY brand""") { (s, d) =>
      val j = Tables.lineitem(s, d)
        .filter(col("l_quantity") > 0 && col("l_extendedprice") > 0)
        .join(broadcast(Tables.part(s, d)
          .select(col("p_partkey"), col("p_brand"))),
          col("p_partkey") === col("l_partkey"))
        .select(col("p_brand").as("brand"),
          log(col("l_extendedprice") / col("l_quantity").cast("double"))
            .as("x"),
          log(col("l_quantity").cast("double")).as("y"))
      def q12(c: org.apache.spark.sql.Column) =
        sum(round(c, 12).cast("decimal(28,12)")).cast("double")
      j.groupBy(col("brand"))
        .agg(count(lit(1)).as("n"), q12(col("x")).as("sx"),
          q12(col("y")).as("sy"), q12(col("x") * col("y")).as("sxy"),
          q12(col("x") * col("x")).as("sxx"),
          q12(col("y") * col("y")).as("syy"))
        .select(col("brand"), col("n").cast("long").as("n"),
          round((col("sxy") - col("sx") * col("sy") / col("n")) /
            (col("sxx") - col("sx") * col("sx") / col("n")), 4)
            .as("elasticity"),
          round((col("sxy") - col("sx") * col("sy") / col("n")) *
            (col("sxy") - col("sx") * col("sy") / col("n")) /
            ((col("sxx") - col("sx") * col("sx") / col("n")) *
              (col("syy") - col("sy") * col("sy") / col("n"))), 4)
            .as("r2"))
        .orderBy(col("brand"))
    }
  )
}
