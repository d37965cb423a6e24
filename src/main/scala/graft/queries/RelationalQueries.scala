package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Batch relational operator surface (SURVEY.md §2.2): aggregation, joins,
  * window functions, set ops, top-k, subqueries, distinct.
  *
  * Determinism rules (shared with every other query module):
  *  - SUMs over doubles go through DECIMAL (exact, order-independent),
  *    then CAST to DOUBLE — double summation order differs between Spark
  *    partial aggregation and DuckDB, and at 60k+ rows the float error is
  *    large enough to flip a 4-decimal rounding.
  *  - AVGs stay double (error shrinks by 1/n) and are rounded to 4.
  *  - Every query ends in ORDER BY over a unique key; DuckDB gets explicit
  *    NULLS FIRST to match Spark's asc_nulls_first default.
  *  - Integer aggregates are CAST(... AS BIGINT) in DuckDB (sum(BIGINT)
  *    is HUGEINT there).
  *
  * Scale notes per query are inline — joins broadcast dimensions, aggs are
  * partial+final by Catalyst, no collect() anywhere.
  */
object RelationalQueries {

  /** Exact decimal sum of a double expression, rendered as double.
    * The SQL fragment is valid in both Spark SQL and DuckDB.
    *
    * The sum is re-quantized to ITS TRUE SCALE (4 for the 2dp×2dp
    * revenue product — positions 5..8 of the scale-8 product sum are
    * structurally zero) before the double cast. This is exact (no
    * rounding), and it is what keeps the two engines' decimal→double
    * conversions identical at large SF: a scale-8 sum of magnitude 6e9
    * has an 18-digit unscaled mantissa (> 2^53), and DuckDB's
    * int128→double-then-divide conversion can land one ulp away from
    * the correctly-rounded conversion the JVM's BigDecimal does
    * (observed at sf0.1: 5942933513.34680000 → …3.3468 in Spark,
    * …3.346801 in DuckDB). At scale 4 the mantissa (~6e13) is exact in
    * a double and the final division is a single correctly-rounded op
    * in both engines. */
  private def decSum(prod: String, scale: Int = 4): String =
    if (scale <= 4) s"CAST(CAST(sum($prod) AS DECIMAL(38,$scale)) AS DOUBLE)"
    else {
      // Scale > 4 (sum_charge at scale 6): even the true-scale mantissa
      // outgrows 2^53 around sf0.15 (≈6e15 and climbing with SF), so
      // convert via an int/frac split instead: the scale-0 rounding of
      // the sum is the same decimal in both engines (both round half
      // away from zero for positives) and fits a double exactly while
      // |sum| < 2^53 ≈ 9e15 (≈ sf1e3 for these columns); the remainder
      // is a |x| ≤ 0.5 decimal, also exact. One final correctly-rounded
      // addition is then identical in both engines.
      val t = s"CAST(sum($prod) AS DECIMAL(38,0))"
      s"(CAST($t AS DOUBLE) + CAST(CAST(sum($prod) AS DECIMAL(38,$scale)) - $t AS DOUBLE))"
    }
  private def dec(c: String): String = s"CAST($c AS DECIMAL(18,4))"

  // revenue item: extendedprice * (1 - discount), exact
  private val revProd =
    s"${dec("l_extendedprice")} * (${dec("1.0")} - ${dec("l_discount")})"
  // charge item: the three-factor product would overflow DECIMAL(38) if
  // done fully in decimal, so fold it in double and round at SIX decimals
  // before casting. Six is chosen because the true product of 2-decimal
  // inputs has at most 6 decimal digits — the double sits ~1e-9 from the
  // exact 6-decimal value and ~5e-7 from any rounding boundary, so both
  // engines round identically (no ties possible). The decimal SUM is then
  // exact and order-independent.
  private val chargeProd =
    "CAST(round(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax), 6) AS DECIMAL(18,6))"

  def all: Seq[Q] = Seq(

    // ---------------------------------------------------------------- agg
    // TPC-H Q1 shape: scan → filter (pushed to parquet) → partial+final
    // hash agg on 6 groups → tiny sort. At 100 TB: the only shuffle is 6
    // groups wide — ideal.
    Q("agg_pricing",
      s"""SELECT l_returnflag, l_linestatus,
         |  ${decSum(dec("l_quantity"))} AS sum_qty,
         |  ${decSum(dec("l_extendedprice"))} AS sum_base_price,
         |  ${decSum(revProd)} AS sum_disc_price,
         |  ${decSum(chargeProd, 6)} AS sum_charge,
         |  round(avg(l_quantity), 4) AS avg_qty,
         |  round(avg(l_discount), 4) AS avg_disc,
         |  CAST(count(*) AS BIGINT) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '2001-09-02'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""") { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("2001-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          expr(decSum(dec("l_quantity"))).as("sum_qty"),
          expr(decSum(dec("l_extendedprice"))).as("sum_base_price"),
          expr(decSum(revProd)).as("sum_disc_price"),
          expr(decSum(chargeProd, 6)).as("sum_charge"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // ROLLUP: hierarchical subtotals. Catalyst expands to a single Expand +
    // hash agg — one shuffle regardless of grouping-set count.
    Q("agg_rollup",
      s"""SELECT o_orderstatus, o_orderpriority,
         |  CAST(count(*) AS BIGINT) AS cnt,
         |  ${decSum(dec("o_totalprice"))} AS total
         |FROM orders
         |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""") { (s, d) =>
      Tables.orders(s, d)
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"),
          expr(decSum(dec("o_totalprice"))).as("total"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))
    },

    Q("agg_cube",
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(count(*) AS BIGINT) AS cnt,
         |  ${decSum(dec("l_quantity"))} AS sum_qty
         |FROM lineitem
         |GROUP BY CUBE (l_returnflag, l_linestatus)
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""") { (s, d) =>
      Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"),
          expr(decSum(dec("l_quantity"))).as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },

    Q("agg_having",
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders
        |GROUP BY o_custkey
        |HAVING count(*) >= 14
        |ORDER BY o_custkey""") { (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") >= 14)
        .orderBy(col("o_custkey"))
    },

    // Exact distinct: expands to two-phase agg (partial distinct then
    // merge) — the scalable exact form; approx twin below for 100 TB.
    Q("agg_count_distinct",
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""") { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))
        .orderBy(col("l_returnflag"))
    },

    // HLL++ — the 100 TB form of distinct counting, run in its provably
    // EXACT regime: 7 distinct l_linenumber values against m = 2^p
    // registers at rsd 0.02 means linear counting with bias n²/2m ≪ 0.5
    // and no register collisions, so the estimate IS the exact count
    // and a count(DISTINCT) oracle runs the full hash gate. The
    // large-cardinality estimation path (l_partkey at the same rsd)
    // stays pinned by SketchAccuracySpec's 3×-rsd envelope.
    Q("agg_approx_distinct",
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_linenumber) AS BIGINT) AS approx_lines
        |FROM lineitem GROUP BY 1
        |ORDER BY l_returnflag""") { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_linenumber"), 0.02)
          .as("approx_lines"))
        .orderBy(col("l_returnflag"))
    },

    Q("agg_minmax",
      """SELECT o_orderpriority,
        |  round(min(o_totalprice), 4) AS min_price,
        |  round(max(o_totalprice), 4) AS max_price,
        |  round(avg(o_totalprice), 4) AS avg_price,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""") { (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(round(min(col("o_totalprice")), 4).as("min_price"),
          round(max(col("o_totalprice")), 4).as("max_price"),
          round(avg(col("o_totalprice")), 4).as("avg_price"),
          count(lit(1)).as("cnt"))
        .orderBy(col("o_orderpriority"))
    },

    // --------------------------------------------------------------- join
    // Fact-fact equi join on the natural key. At scale: both sides shuffle
    // on orderkey (co-partitioned); AQE handles skew.
    Q("join_inner",
      s"""SELECT o_orderpriority,
         |  CAST(count(*) AS BIGINT) AS n_items,
         |  ${decSum(revProd)} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""") { (s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          expr(decSum(revProd)).as("revenue"))
        .orderBy(col("o_orderpriority"))
    },

    // Left join preserving customers without orders. Shape: aggregate the
    // fact side FIRST (shrinks it to one row per key), then join — at
    // 100 TB this avoids carrying the wide fact rows through the join.
    Q("join_left",
      s"""SELECT c_custkey,
         |  CAST(coalesce(n_orders, 0) AS BIGINT) AS n_orders,
         |  CAST(coalesce(spend, 0.0) AS DOUBLE) AS spend
         |FROM customer LEFT JOIN (
         |  SELECT o_custkey, count(*) AS n_orders,
         |         ${decSum(dec("o_totalprice"))} AS spend
         |  FROM orders GROUP BY o_custkey
         |) ON c_custkey = o_custkey
         |ORDER BY c_custkey""") { (s, d) =>
      val perCust = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          expr(decSum(dec("o_totalprice"))).as("spend"))
      Tables.customer(s, d)
        .join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
        .select(col("c_custkey"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("spend"), lit(0.0)).cast("double").as("spend"))
        .orderBy(col("c_custkey"))
    },

    // Right outer join (nation side preserved even with zero suppliers).
    // Spark can't broadcast the PRESERVED side of an outer join, so the
    // plan broadcasts the supplier (stream) side of the equivalent
    // nation-left-outer form — same RIGHT JOIN semantics, broadcastable.
    Q("join_right",
      """SELECT n_nationkey, n_name,
        |  CAST(count(s_suppkey) AS BIGINT) AS n_suppliers
        |FROM supplier RIGHT JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_nationkey, n_name
        |ORDER BY n_nationkey""") { (s, d) =>
      Tables.nation(s, d)
        .join(broadcast(Tables.supplier(s, d)),
          col("s_nationkey") === col("n_nationkey"), "left_outer")
        .groupBy(col("n_nationkey"), col("n_name"))
        .agg(count(col("s_suppkey")).as("n_suppliers"))
        .orderBy(col("n_nationkey"))
    },

    // Full outer of two aggregates (both sides pre-shrunk to key-grain).
    Q("join_full",
      """SELECT CAST(coalesce(ck, sk) AS INT) AS nationkey,
        |  CAST(coalesce(n_cust, 0) AS BIGINT) AS n_cust,
        |  CAST(coalesce(n_supp, 0) AS BIGINT) AS n_supp
        |FROM (SELECT c_nationkey AS ck, count(*) AS n_cust FROM customer GROUP BY 1) a
        |FULL JOIN (SELECT s_nationkey AS sk, count(*) AS n_supp FROM supplier GROUP BY 1) b
        |  ON ck = sk
        |ORDER BY nationkey""") { (s, d) =>
      val a = Tables.customer(s, d).groupBy(col("c_nationkey").as("ck"))
        .agg(count(lit(1)).as("n_cust"))
      val b = Tables.supplier(s, d).groupBy(col("s_nationkey").as("sk"))
        .agg(count(lit(1)).as("n_supp"))
      a.join(b, col("ck") === col("sk"), "full_outer")
        .select(coalesce(col("ck"), col("sk")).cast("int").as("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy(col("nationkey"))
    },

    // Left semi = EXISTS. Planner turns this into a semi hash join — only
    // the key column of the right side is needed (pruned at the scan).
    Q("join_semi",
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
        |ORDER BY c_custkey""") { (s, d) =>
      val big = Tables.orders(s, d).filter(col("o_totalprice") > 450000)
      Tables.customer(s, d)
        .join(big, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },

    // Left anti = NOT EXISTS (null-safe, unlike NOT IN).
    Q("join_anti",
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""") { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },

    // Bounded cross join (5 regions × 5 segments).
    Q("join_cross",
      """SELECT r_name, seg FROM region
        |CROSS JOIN (SELECT DISTINCT c_mktsegment AS seg FROM customer)
        |ORDER BY r_name, seg""") { (s, d) =>
      Tables.region(s, d)
        .crossJoin(Tables.customer(s, d).select(col("c_mktsegment").as("seg")).distinct())
        .select(col("r_name"), col("seg"))
        .orderBy(col("r_name"), col("seg"))
    },

    // Equi + range (theta) join: ship within 90 days of order date.
    // Equi key carries the shuffle; the range predicate is a cheap
    // post-join filter — the scalable shape for theta joins with an equi
    // component.
    Q("join_theta_range",
      s"""SELECT l_returnflag,
         |  CAST(count(*) AS BIGINT) AS n_fast,
         |  ${decSum(dec("l_quantity"))} AS qty
         |FROM lineitem JOIN orders
         |  ON l_orderkey = o_orderkey
         | AND l_shipdate BETWEEN o_orderdate AND o_orderdate + INTERVAL 90 DAY
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""") { (s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate").between(col("o_orderdate"),
              col("o_orderdate") + expr("INTERVAL 90 DAY")))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_fast"),
          expr(decSum(dec("l_quantity"))).as("qty"))
        .orderBy(col("l_returnflag"))
    },

    // Star join: fact → orders → customer → nation → region. Dimensions
    // broadcast explicitly (nation/region always; customer fits at bench
    // scale — at 100 TB AQE would decide, and the join order puts the
    // selective dims last so the fact rows shrink early).
    Q("join_star",
      s"""SELECT r_name,
         |  CAST(count(*) AS BIGINT) AS n_items,
         |  ${decSum(revProd)} AS revenue
         |FROM lineitem
         |JOIN orders   ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation   ON c_nationkey = n_nationkey
         |JOIN region   ON n_regionkey = r_regionkey
         |GROUP BY r_name
         |ORDER BY r_name""") { (s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_items"),
          expr(decSum(revProd)).as("revenue"))
        .orderBy(col("r_name"))
    },

    // ------------------------------------------------------------- window
    // Per-group top-k via row_number — planner keeps it one shuffle; at
    // scale this beats global sort by never materializing a total order.
    Q("win_topk_per_group",
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 4) AS price, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        |  FROM orders)
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""") { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 4).as("price"), col("rn"))
        .orderBy(col("o_custkey"), col("rn"))
    },

    // Running sum with an explicit ROWS frame. The summed value goes
    // through DECIMAL: windowed double sums are evaluated with different
    // association orders (DuckDB segment trees vs Spark's running state).
    // NOTE: lineitem has no compact unique key in this dataset —
    // (l_orderkey, l_linenumber) repeats — so both the window order and
    // the final sort use the full-row composite to stay deterministic.
    Q("win_running_sum",
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_partkey,
        |  round(l_extendedprice, 4) AS price,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) OVER (
        |    PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey, l_extendedprice, l_quantity
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_qty
        |FROM lineitem
        |WHERE l_suppkey < 20
        |ORDER BY l_suppkey, l_orderkey, l_linenumber, l_partkey, l_extendedprice, l_quantity""") { (s, d) =>
      val ord = Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_extendedprice"), col("l_quantity"))
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(ord: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.lineitem(s, d)
        .filter(col("l_suppkey") < 20)
        .withColumn("run_qty",
          sum(col("l_quantity").cast("decimal(18,4)")).over(w).cast("double"))
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), round(col("l_extendedprice"), 4).as("price"),
          col("run_qty"),
          col("l_extendedprice"), col("l_quantity"))
        .orderBy(col("l_suppkey") +: col("l_orderkey") +: col("l_linenumber") +:
          col("l_partkey") +: col("l_extendedprice") +: col("l_quantity") +: Nil: _*)
        .drop("l_extendedprice", "l_quantity")
    },

    Q("win_lag_lead",
      """SELECT o_custkey, o_orderkey,
        |  strftime(lag(o_orderdate) OVER w, '%Y-%m-%d') AS prev_date,
        |  strftime(lead(o_orderdate) OVER w, '%Y-%m-%d') AS next_date,
        |  CAST(coalesce(datediff('day', lag(o_orderdate) OVER w, o_orderdate), -1) AS INT) AS gap_days
        |FROM orders
        |WHERE o_custkey < 50
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderdate, o_orderkey""") { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d)
        .filter(col("o_custkey") < 50)
        .select(col("o_custkey"), col("o_orderkey"),
          date_format(lag(col("o_orderdate"), 1).over(w), "yyyy-MM-dd").as("prev_date"),
          date_format(lead(col("o_orderdate"), 1).over(w), "yyyy-MM-dd").as("next_date"),
          coalesce(datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w)),
            lit(-1)).cast("int").as("gap_days"),
          col("o_orderdate"))
        .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
        .drop("o_orderdate")
    },

    Q("win_rank_ntile",
      """SELECT o_orderkey,
        |  CAST(rank() OVER w AS INT) AS rnk,
        |  CAST(dense_rank() OVER w AS INT) AS drnk,
        |  CAST(ntile(4) OVER w AS INT) AS quartile
        |FROM orders
        |WHERE o_custkey < 20
        |WINDOW w AS (ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_orderkey""") { (s, d) =>
      val w = Window.orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .filter(col("o_custkey") < 20)
        .select(col("o_orderkey"),
          rank().over(w).cast("int").as("rnk"),
          dense_rank().over(w).cast("int").as("drnk"),
          ntile(4).over(w).cast("int").as("quartile"))
        .orderBy(col("o_orderkey"))
    },

    // Sliding ROWS frame (3-row moving average). Small frame ⇒ identical
    // summation order both engines; round(4) absorbs the last-bit noise.
    Q("win_moving_avg",
      """SELECT event_id,
        |  round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mov_avg
        |FROM events
        |WHERE user_id < 20
        |ORDER BY event_id""") { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(-2, Window.currentRow)
      Tables.events(s, d)
        .filter(col("user_id") < 20)
        .select(col("event_id"), round(avg(col("value")).over(w), 4).as("mov_avg"))
        .orderBy(col("event_id"))
    },

    Q("win_first_last",
      """SELECT o_custkey,
        |  CAST(min(o_orderkey) AS BIGINT) AS any_key,
        |  strftime(min(o_orderdate), '%Y-%m-%d') AS first_date,
        |  strftime(max(o_orderdate), '%Y-%m-%d') AS last_date
        |FROM orders
        |GROUP BY o_custkey
        |ORDER BY o_custkey""") { (s, d) =>
      // first/last_value over full frames reduce to min/max here; authored
      // with window first_value/last_value on the Spark side to exercise
      // the operators, oracle uses the equivalent min/max form.
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, d)
        .withColumn("first_d", first_value(col("o_orderdate")).over(w))
        .withColumn("last_d", last_value(col("o_orderdate")).over(w))
        .groupBy(col("o_custkey"))
        .agg(min(col("o_orderkey")).as("any_key"),
          date_format(min(col("first_d")), "yyyy-MM-dd").as("first_date"),
          date_format(max(col("last_d")), "yyyy-MM-dd").as("last_date"))
        .orderBy(col("o_custkey"))
    },

    // ------------------------------------------------------------- set ops
    Q("setop_union_all",
      """SELECT nationkey, CAST(count(*) AS BIGINT) AS cnt FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  UNION ALL
        |  SELECT s_nationkey FROM supplier)
        |GROUP BY nationkey
        |ORDER BY nationkey""") { (s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .unionByName(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .groupBy(col("nationkey")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("nationkey"))
    },

    Q("setop_union_distinct",
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION
        |SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""") { (s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .union(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .distinct()
        .orderBy(col("nationkey"))
    },

    Q("setop_intersect",
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT
        |SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""") { (s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .intersect(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .orderBy(col("nationkey"))
    },

    Q("setop_except",
      """SELECT o_custkey AS k FROM orders
        |EXCEPT
        |SELECT user_id FROM events
        |ORDER BY k""") { (s, d) =>
      Tables.orders(s, d).select(col("o_custkey").as("k"))
        .except(Tables.events(s, d).select(col("user_id").as("k")))
        .orderBy(col("k"))
    },

    // Bag semantics EXCEPT ALL / INTERSECT ALL: multiplicity-aware set
    // ops (a key ordered 3× minus seen 1× survives 2×). Catalyst plans
    // both as ONE hash aggregate per side plus a join on the key with
    // count arithmetic — no row-level anti/semi loop, so the shape is
    // the same single shuffle a groupBy costs at any scale. Ties in the
    // ORDER BY are exact duplicate rows — hash-stable by construction.
    Q("setop_except_all",
      """SELECT o_custkey AS k FROM orders
        |EXCEPT ALL
        |SELECT user_id FROM events
        |ORDER BY k""") { (s, d) =>
      Tables.orders(s, d).select(col("o_custkey").as("k"))
        .exceptAll(Tables.events(s, d).select(col("user_id").as("k")))
        .orderBy(col("k"))
    },

    Q("setop_intersect_all",
      """SELECT o_custkey AS k FROM orders
        |INTERSECT ALL
        |SELECT user_id FROM events
        |ORDER BY k""") { (s, d) =>
      Tables.orders(s, d).select(col("o_custkey").as("k"))
        .intersectAll(Tables.events(s, d).select(col("user_id").as("k")))
        .orderBy(col("k"))
    },

    // ------------------------------------------------------ top-k / misc
    // Global top-k: Catalyst plans TakeOrderedAndProject — per-partition
    // heaps then a k-row merge on the driver; no total sort at any scale.
    Q("topk_global",
      """SELECT o_orderkey, round(o_totalprice, 4) AS price
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 10""") { (s, d) =>
      Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select(col("o_orderkey"), round(col("o_totalprice"), 4).as("price"))
        .limit(10)
    },

    Q("distinct_pairs",
      """SELECT DISTINCT l_returnflag, l_linestatus
        |FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""") { (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_linestatus"))
        .dropDuplicates(Seq("l_returnflag", "l_linestatus"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    Q("sort_multi_key",
      """SELECT s_suppkey, s_name, s_nationkey, round(s_acctbal, 4) AS bal
        |FROM supplier
        |ORDER BY s_nationkey ASC, s_acctbal DESC, s_suppkey ASC""") { (s, d) =>
      Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          round(col("s_acctbal"), 4).as("bal"), col("s_acctbal"))
        .orderBy(col("s_nationkey").asc, col("s_acctbal").desc, col("s_suppkey").asc)
        .drop("s_acctbal")
    },

    // --------------------------------------------------------- subqueries
    // Scalar subquery: the single-row aggregate is broadcast (crossJoin of
    // a 1-row DF) — never a shuffle.
    Q("sub_scalar",
      """SELECT o_orderkey, round(o_totalprice, 4) AS price
        |FROM orders
        |WHERE o_totalprice > 1.8 * (SELECT avg(o_totalprice) FROM orders)
        |ORDER BY o_orderkey""") { (s, d) =>
      val o = Tables.orders(s, d)
      val avgDf = o.agg(avg(col("o_totalprice")).as("avg_price"))
      o.crossJoin(broadcast(avgDf))
        .filter(col("o_totalprice") > col("avg_price") * 1.8)
        .select(col("o_orderkey"), round(col("o_totalprice"), 4).as("price"))
        .orderBy(col("o_orderkey"))
    },

    // IN-subquery → left semi join on the filtered dimension.
    Q("sub_in",
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS cnt
        |FROM lineitem
        |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size >= 45)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""") { (s, d) =>
      val bigParts = Tables.part(s, d).filter(col("p_size") >= 45)
      Tables.lineitem(s, d)
        .join(broadcast(bigParts), col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag"))
    },

    // NOT IN with guaranteed-non-null keys → left anti (documented:
    // engine treats NOT IN over nullable keys as NOT EXISTS semantics).
    Q("sub_not_in",
      """SELECT p_partkey FROM part
        |WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 10)
        |ORDER BY p_partkey""") { (s, d) =>
      val used = Tables.lineitem(s, d).filter(col("l_quantity") > 10)
      Tables.part(s, d)
        .join(used, col("p_partkey") === col("l_partkey"), "left_anti")
        .select(col("p_partkey"))
        .orderBy(col("p_partkey"))
    },

    // LATERAL correlated subquery with per-row ORDER BY + LIMIT (the
    // top-n-per-outer-row join form; same SQL text runs in both
    // engines). Catalyst rewrites the correlation with a domain join —
    // no driver-side iteration, and the inner scan stays prunable.
    Q("join_lateral",
      """SELECT n_nationkey, t.s_suppkey, t.s_name
        |FROM nation, LATERAL (
        |  SELECT s_suppkey, s_name FROM supplier
        |  WHERE s_nationkey = n_nationkey
        |  ORDER BY s_acctbal DESC, s_suppkey LIMIT 2) t
        |ORDER BY n_nationkey, t.s_suppkey""") { (s, d) =>
      Tables.nation(s, d).createOrReplaceTempView("nation_lat")
      Tables.supplier(s, d).createOrReplaceTempView("supplier_lat")
      s.sql("""SELECT n_nationkey, t.s_suppkey, t.s_name
        FROM nation_lat, LATERAL (
          SELECT s_suppkey, s_name FROM supplier_lat
          WHERE s_nationkey = n_nationkey
          ORDER BY s_acctbal DESC, s_suppkey LIMIT 2) t
        ORDER BY n_nationkey, t.s_suppkey""")
    },

    // PIVOT: long→wide reshaping through Spark's first-class
    // relational pivot (`groupBy(...).pivot(col, values)`) — the
    // explicit value list matters at scale: it skips the extra
    // distinct-values collect pass AND keeps the output schema static
    // for the optimizer. Catalyst compiles it to the same single
    // map-side-combinable aggregate as the oracle's conditional sums
    // (one shuffle on the day key, 5 counters per group); `na.fill(0)`
    // restores the empty-cell-is-zero contract. All-integer counts.
    Q("rel_pivot_matrix",
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |  CAST(sum(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(sum(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type='signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY 1 ORDER BY day""") { (s, d) =>
      Tables.events(s, d)
        .select(to_date(col("ts")).as("day"), col("event_type"))
        .groupBy(col("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0)
        .orderBy(col("day"))
    },

    // BATCH MERGE / UPSERT semantics (SQL MERGE INTO, CDC batch-apply):
    // a change relation derived from events (per-user spend; a trailing
    // 'error' event marks the key for deletion) applies onto the
    // customer base as one FULL OUTER join + action decode —
    // insert / update / delete / keep, exactly the matched/not-matched
    // arms of ANSI MERGE. This is the batch twin of stream_cdc_apply:
    // without a transactional table format, the join-and-rewrite IS the
    // Spark MERGE plan (Delta/Iceberg compile MERGE to this same shape
    // plus file-level pruning). Keys are remapped (user_id·11) so the
    // change set genuinely exercises all four arms. Scale: one
    // user-keyed rollup + one key-equi full outer join — shuffle on the
    // merge key, which is the partitioning a bucketed base table would
    // already have, making the apply co-located at 100 TB.
    Q("rel_merge_upsert",
      """WITH sp AS (SELECT user_id,
        |    CAST(sum(CAST("value" AS DECIMAL(18,4))) AS DECIMAL(18,2))
        |      AS spend
        |  FROM events GROUP BY 1),
        |le AS (SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events),
        |ch AS (SELECT sp.user_id * 11 AS key, sp.spend,
        |    le.event_type = 'error' AS is_del
        |  FROM sp JOIN le ON le.user_id = sp.user_id AND le.rn = 1),
        |m AS (SELECT coalesce(c.c_custkey, ch.key) AS key,
        |    CASE WHEN ch.key IS NULL THEN 'keep'
        |         WHEN c.c_custkey IS NULL AND ch.is_del THEN 'noop'
        |         WHEN c.c_custkey IS NULL THEN 'insert'
        |         WHEN ch.is_del THEN 'delete'
        |         ELSE 'update' END AS action,
        |    CASE WHEN ch.key IS NULL THEN CAST(c.c_acctbal AS DOUBLE)
        |         WHEN c.c_custkey IS NULL AND NOT ch.is_del
        |           THEN CAST(ch.spend AS DOUBLE)
        |         WHEN c.c_custkey IS NOT NULL AND NOT ch.is_del
        |           THEN c.c_acctbal + CAST(ch.spend AS DOUBLE)
        |         ELSE NULL END AS bal
        |  FROM customer c FULL OUTER JOIN ch ON c.c_custkey = ch.key)
        |SELECT key, action, round(bal, 2) AS balance
        |FROM m ORDER BY key""") { (s, d) =>
      val sp = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(sum(col("value").cast("decimal(18,4)"))
          .cast("decimal(18,2)").as("spend"))
      val le = Tables.events(s, d)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("user_id"))
            .orderBy(col("ts").desc, col("event_id").desc)))
        .filter(col("rn") === 1)
        .select(col("user_id"), (col("event_type") === "error").as("is_del"))
      val ch = sp.join(le, Seq("user_id"))
        .select((col("user_id") * 11).as("key"), col("spend"), col("is_del"))
      val c = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_acctbal"))
      val m = c.join(ch, c("c_custkey") === ch("key"), "full_outer")
        .select(coalesce(col("c_custkey"), col("key")).as("key"),
          when(col("key").isNull, "keep")
            .when(col("c_custkey").isNull && col("is_del"), "noop")
            .when(col("c_custkey").isNull, "insert")
            .when(col("is_del"), "delete")
            .otherwise("update").as("action"),
          when(col("key").isNull, col("c_acctbal").cast("double"))
            .when(col("c_custkey").isNull && !col("is_del"),
              col("spend").cast("double"))
            .when(col("c_custkey").isNotNull && !col("is_del"),
              col("c_acctbal") + col("spend").cast("double"))
            .otherwise(lit(null).cast("double")).as("bal"))
      m.select(col("key"), col("action"), round(col("bal"), 2).as("balance"))
        .orderBy(col("key"))
    },

    // CORRELATED EXISTS with a NON-EQUI correlation — "customers who
    // placed an order exceeding their own account balance": the
    // predicate correlates on the key AND an inequality against the
    // outer row, so this is a semi-join with a compound condition, not
    // a plain IN. Spark plans the equi part as the join key and the
    // inequality as a join-side filter — the shape that stays a hash
    // semi-join at scale (the non-equi residual never forces a
    // nested loop when an equi conjunct exists).
    Q("sub_exists_corr",
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |    AND o.o_totalprice > c.c_acctbal)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""") { (s, d) =>
      val o = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_totalprice"))
      Tables.customer(s, d)
        .join(o, col("o_custkey") === col("c_custkey") &&
          col("o_totalprice") > col("c_acctbal"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_mktsegment"))
    },

    // RECURSIVE CTE — iterate-to-fixpoint inside the SQL surface
    // (WITH RECURSIVE, new in Spark 4): walk every customer key up a
    // derived parent hierarchy (parent = key ÷ 10) to its single-digit
    // root and report the depth census. This is the declarative twin
    // of the engine's hand-unrolled iterative operators (graph_bfs
    // _khop, graph_pagerank): bounded-depth recursion the ENGINE
    // drives, one UNION ALL step per level, each step an equi-free
    // narrow projection — at 100 TB the recursion depth is log₁₀(key
    // space), so the plan is ~5 chained scans of a keys-only column.
    // LIMIT DERIVATION (the operator's formal bound, not a tuning
    // anecdote): WITH RECURSIVE materializes the UNION ALL of every
    // level, so the accumulated row count is exactly
    //   Σ_k |{customers with depth ≥ k}| ≈ |customers| × (⌊log₁₀ max
    //   custkey⌋ + 1)
    // — every key of the same magnitude walks the same number of
    // levels. sf0.1: 15k × 7 ≈ 105k rows (default 1e6 limit holds);
    // 10×: 150k × ~9 ≈ 1.4M (measured 1.6M — the default BINDS);
    // 100×: ~15M. The engine knob `spark.sql.cteRecursionRowLimit`
    // must therefore scale as |customers| × depth, which this query
    // sets on a session clone (1e8 ⇒ headroom to ~700× sf0.1). When
    // the corpus outgrows any fixed limit, the walk itself must stop
    // accumulating: `rel_recursive_frontier` (next query) is the same
    // computation in per-level frontier form — O(|frontier|) live rows,
    // no accumulation, no engine limit — the shape to prefer at 100 TB.
    Q("rel_recursive_cte",
      """WITH RECURSIVE chain AS (
        |  SELECT c_custkey AS k, c_custkey AS cur, 0 AS depth
        |  FROM customer
        |  UNION ALL
        |  SELECT k, CAST(floor(cur / 10) AS BIGINT), depth + 1
        |  FROM chain WHERE cur >= 10)
        |SELECT depth, CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(count(DISTINCT cur) AS BIGINT) AS n_roots
        |FROM chain WHERE cur < 10
        |GROUP BY depth ORDER BY depth""") { (s0, d) =>
      val s = graft.Sessions.withShufflePartitions(s0, 8)
      s.conf.set("spark.sql.cteRecursionRowLimit", (100 * 1000 * 1000).toString)
      Tables.customer(s, d).createOrReplaceTempView("rcte_customer")
      s.sql(
        """WITH RECURSIVE chain AS (
          |  SELECT c_custkey AS k, c_custkey AS cur, 0 AS depth
          |  FROM rcte_customer
          |  UNION ALL
          |  SELECT k, CAST(floor(cur / 10) AS BIGINT), depth + 1
          |  FROM chain WHERE cur >= 10)
          |SELECT depth, CAST(count(*) AS BIGINT) AS n_customers,
          |  CAST(count(DISTINCT cur) AS BIGINT) AS n_roots
          |FROM chain WHERE cur < 10
          |GROUP BY depth ORDER BY depth""".stripMargin)
    },

    // FRONTIER-FORM RECURSION — the same parent-hierarchy walk as
    // rel_recursive_cte, but engine-scale: instead of letting WITH
    // RECURSIVE accumulate |customers| × depth rows (and trip the
    // engine's recursion row limit at scale — see the derivation on
    // the previous query), the walk is driver-unrolled per LEVEL like
    // graph_bfs_khop: each round keeps only the ACTIVE frontier (keys
    // still ≥ 10), and terminal rows collapse to their ≤10-row
    // (depth, count, distinct-roots) aggregate immediately — so live
    // state is O(|frontier|) regardless of depth, the union across
    // levels is of AGGREGATE rows (≤ 10 per level), and no engine
    // limit exists to raise. Rounds = ⌊log₁₀ max key⌋ + 1 (~9 at 10×);
    // each round is a narrow projection + one bounded rollup, with
    // eager localCheckpoint truncating the loop's lineage and the
    // previous round's blocks released as soon as the next
    // materializes. The only driver values are per-round frontier
    // counts (one Long each). Same oracle as rel_recursive_cte —
    // the two forms must agree bit-for-bit.
    Q("rel_recursive_frontier",
      """WITH RECURSIVE chain AS (
        |  SELECT c_custkey AS k, c_custkey AS cur, 0 AS depth
        |  FROM customer
        |  UNION ALL
        |  SELECT k, CAST(floor(cur / 10) AS BIGINT), depth + 1
        |  FROM chain WHERE cur >= 10)
        |SELECT depth, CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(count(DISTINCT cur) AS BIGINT) AS n_roots
        |FROM chain WHERE cur < 10
        |GROUP BY depth ORDER BY depth""") { (s0, d) =>
      val s = graft.Sessions.withShufflePartitions(s0, 8)
      def release(df: DataFrame): Unit =
        try df.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
        }.foreach(_.unpersist(blocking = false))
        catch { case _: Throwable => () }
      var frontier = Tables.customer(s, d)
        .select(col("c_custkey").as("k"), col("c_custkey").as("cur"),
          lit(0).as("depth"))
        .localCheckpoint(true)
      var levels = List.empty[DataFrame]
      var active = frontier.count()
      while (active > 0) {
        // the ≤10-row level aggregate materializes eagerly BEFORE its
        // source frontier's checkpoint blocks are released below
        levels = levels :+ frontier.filter(col("cur") < 10)
          .groupBy(col("depth"))
          .agg(count(lit(1)).as("n_customers"),
            countDistinct(col("cur")).as("n_roots"))
          .localCheckpoint(true)
        val next = frontier.filter(col("cur") >= 10)
          .select(col("k"),
            floor(col("cur") / 10).cast("long").as("cur"),
            (col("depth") + 1).as("depth"))
          .localCheckpoint(true)
        active = next.count()
        release(frontier)
        frontier = next
      }
      // empty-input guard: with zero customers the loop never runs and a
      // bare reduce would throw where the SQL oracle returns 0 rows —
      // seed the fold with an empty frame of the level schema instead
      val emptyLevels = Tables.customer(s, d)
        .select(col("c_custkey").as("cur"), lit(0).as("depth"))
        .filter(lit(false))
        .groupBy(col("depth"))
        .agg(count(lit(1)).as("n_customers"),
          countDistinct(col("cur")).as("n_roots"))
      levels.foldLeft(emptyLevels)(_ unionByName _)
        .select(col("depth"), col("n_customers").cast("long").as("n_customers"),
          col("n_roots").cast("long").as("n_roots"))
        .orderBy(col("depth"))
    })
}
