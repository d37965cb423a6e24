package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-technique exemplars (SURVEY.md §2.2 joins row + BASELINE 100 TB
  * posture): each query demonstrates a cluster-scale pattern while
  * remaining hash-checkable against the plain relational oracle — the
  * technique must not change the answer.
  */
object ScaleQueries {

  /** The bucketed copies of lineitem and orders for `d`, built once per
    * artifact key and served as tables named after that key, so each
    * dataset joins its own copies. The DDL carries the CLUSTERED/SORTED
    * BY metadata a plain parquet read would lose. */
  private def bucketedSides(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val dir = Derived.once("rt-bucket", d, "lineitem", "orders") { stage =>
      def write(df: DataFrame, key: String, sub: String): Unit = {
        // bucketBy needs saveAsTable; the table is external, so dropping
        // it leaves the files in the stage
        val t = "graft_bucket_stage_" +
          java.util.UUID.randomUUID.toString.replace("-", "")
        df.write.format("parquet").bucketBy(8, key).sortBy(key)
          .option("path", s"$stage/$sub").saveAsTable(t)
        s.sql(s"DROP TABLE $t")
      }
      write(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_quantity")),
        "l_orderkey", "li")
      write(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority")),
        "o_orderkey", "ord")
    }
    val name = java.nio.file.Paths.get(dir).getFileName.toString.replace('-', '_')
    def table(sub: String, schema: String, key: String): DataFrame = {
      s.sql(
        s"""CREATE TABLE IF NOT EXISTS ${name}_$sub ($schema) USING parquet
           |CLUSTERED BY ($key) SORTED BY ($key) INTO 8 BUCKETS
           |LOCATION '$dir/$sub'""".stripMargin)
      s.table(s"${name}_$sub")
    }
    (table("li", "l_orderkey BIGINT, l_quantity DOUBLE", "l_orderkey"),
      table("ord", "o_orderkey BIGINT, o_orderpriority STRING", "o_orderkey"))
  }

  def all: Seq[Q] = Seq(

    // Skew mitigation by salting: the big side gets a salt from a stable
    // row attribute; the dimension side is exploded across all salts, so
    // one hot key spreads over N partitions. Same answer as the plain
    // join (the oracle IS the plain join).
    Q("join_salted",
      s"""SELECT c_mktsegment AS segment,
         |  CAST(count(*) AS BIGINT) AS cnt,
         |  CAST(sum(CAST("value" AS DECIMAL(18,4))) AS DOUBLE) AS val_sum
         |FROM events JOIN customer ON user_id = c_custkey
         |GROUP BY 1
         |ORDER BY segment""") { (s, d) =>
      val salts = 8
      val big = Tables.events(s, d)
        .withColumn("__salt", pmod(col("event_id"), lit(salts)).cast("int"))
      val dim = Tables.customer(s, d)
        .crossJoin(broadcast(s.range(0, salts)
          .select(col("id").cast("int").as("__salt"))))
      big.join(dim,
          big("user_id") === dim("c_custkey") && big("__salt") === dim("__salt"))
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("cnt"),
          expr("CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)").as("val_sum"))
        .orderBy(col("segment"))
    },

    // Co-located join via bucketing: both sides bucketed 8 ways on the
    // join key → the join needs NO shuffle (no Exchange above the scans;
    // check with graft.Explain). This is the 100 TB fact-fact join
    // strategy: pay the shuffle once at write time, never per query —
    // which is why the bucketed copies are written at most once per
    // artifact key (see Derived).
    Q("join_bucketed",
      s"""SELECT o_orderpriority,
         |  CAST(count(*) AS BIGINT) AS n_items,
         |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""") { (s, d) =>
      val (li, ord) = bucketedSides(s, d)
      // merge hint: at this SF the planner would broadcast the small
      // side; the point of the exemplar is the bucketed sort-merge join
      // with NO Exchange below it (the 100 TB fact-fact path).
      li.hint("merge")
        .join(ord,
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          expr("CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)").as("qty"))
        .orderBy(col("o_orderpriority"))
    },

    // Pure interval join (NO equi key) made scalable by banding: each
    // interval is exploded to the fixed-width bands it overlaps, the
    // probe row maps to exactly one band, and the join is an EQUI join
    // on band with the exact range predicate as a residual filter. The
    // naive form is a cross-ish BroadcastNestedLoopJoin (quadratic at
    // scale); the banded form shuffles on band keys — candidates are
    // only same-band pairs, which is the standard range-join
    // optimization. Intervals OVERLAP (width 60, stride 40), so a value
    // can match two intervals — a genuine interval join, not a
    // partitioning.
    Q("join_range_banded",
      """WITH iv AS (SELECT CAST(i AS INT) AS iv_id,
        |    i * 40.0 AS lo, i * 40.0 + 60.0 AS hi
        |  FROM range(0, 12) t(i))
        |SELECT iv_id,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST("value" AS DECIMAL(18,4))) AS DOUBLE) AS val_sum
        |FROM events JOIN iv ON "value" >= lo AND "value" < hi
        |GROUP BY iv_id
        |ORDER BY iv_id""") { (s, d) =>
      val bandW = 20
      val iv = s.range(0, 12).select(col("id").cast("int").as("iv_id"),
        (col("id") * 40.0).as("lo"), (col("id") * 40.0 + 60.0).as("hi"))
      val ivBands = iv.withColumn("__band",
        explode(expr(s"sequence(CAST(floor(lo / $bandW) AS INT), CAST(floor(hi / $bandW) AS INT))")))
      val ev = Tables.events(s, d)
        .select(col("value"), floor(col("value") / bandW).cast("int").as("__band"))
      ev.join(ivBands, Seq("__band"))
        .filter(col("value") >= col("lo") && col("value") < col("hi"))
        .groupBy(col("iv_id"))
        .agg(count(lit(1)).as("cnt"),
          expr("CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)").as("val_sum"))
        .orderBy(col("iv_id"))
    },

    // Explicit bloom-filter prefilter join — the manual form of the
    // runtime bloom filter AQE injects (RuntimeFilterSpec pins that
    // one), for when the build side is known small at WRITE time: build
    // `bloom_filter_agg` over the dimension's keys (one 1-row binary),
    // broadcast it, and drop non-matching fact rows BEFORE the join
    // shuffle — at 100 TB the prefilter runs inside the scan stage and
    // the shuffle carries only (matches + false positives). The exact
    // equi-join after the filter removes the false positives, so the
    // result equals the plain join BY CONSTRUCTION — which is exactly
    // what the oracle (the plain join, no bloom anywhere) certifies.
    Q("join_bloom_prefilter",
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1 ORDER BY o_orderpriority""") { (s, d) =>
      // bloom_might_contain demands a CONSTANT or scalar-subquery bloom
      // (it must be evaluable at scan time to push into the reader) —
      // so the build is a scalar subquery, and Catalyst pushes the
      // whole predicate down to the orders scan, upstream of the join.
      Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
        .createOrReplaceTempView("bf_keys")
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderpriority"))
        .createOrReplaceTempView("bf_orders")
      s.sql(
        """SELECT o_orderpriority, count(*) AS cnt
          |FROM bf_orders o
          |JOIN bf_keys k ON o.o_custkey = k.c_custkey
          |WHERE bloom_might_contain(
          |  (SELECT bloom_agg(xxhash64(c_custkey), 100000L, 800000L)
          |   FROM bf_keys),
          |  xxhash64(o.o_custkey))
          |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin)
    },

    // (Streaming session windows only support append mode, whose
    // emission depends on watermark-boundary semantics unsuitable for a
    // final-state oracle over a finite replay — the batch form is
    // sess_window_batch and the incremental behavior is covered by
    // StreamPipelineSpec's controlled MemoryStream session test.)
    )
}
