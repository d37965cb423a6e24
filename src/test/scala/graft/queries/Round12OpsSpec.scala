package graft.queries

import graft.{SparkEntry, SparkSpec}
import java.sql.Timestamp

/** Mathematical laws for the round-12 additions on planted fixtures:
  * ANOVA matches the closed form on two hand-built groups, McNemar's
  * discordant cells match a re-derivation of the md5 classifiers, TOST
  * declares equivalence exactly when the margin covers the diff, RFM
  * quintiles separate five hand-ranked customers, stickiness is
  * DAU-sum over days×WAU, the Gopher mask census lands each planted
  * doc in its designed cell, SES reproduces S₁=y₁ / Sₜ=½yₜ+½Sₜ₋₁ by
  * hand, burstiness VMR matches the planted per-doc count variance,
  * the wedge cap excises a planted over-degree part and reports
  * exactly C(d,2) suppressed pairs, and the Derived artifacts (the
  * shingle memo, the schema-evolution stage, the IVF index) invalidate
  * when their source table's mtime moves. */
class Round12OpsSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = Timestamp.valueOf("2024-01-01 12:00:00")
  private def plusDays(t: Timestamp, days: Int): Timestamp =
    new Timestamp(t.getTime + days * 24L * 3600L * 1000L)
  private def tempDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  private def writeEvents(d: String,
      rows: Seq[(Long, Timestamp, Long, String, Double, String)]): Unit =
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")

  private def writeDocs(d: String,
      rows: Seq[(Long, String, String, String, Int)]): Unit =
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")

  test("eval_anova_oneway matches the closed form on two planted groups") {
    val d = tempDir("anova")
    // X = {1,3} (mean 2), Y = {5,7} (mean 6): grand 4, SSB = 16,
    // SSW = 4, F = (16/1)/(4/2) = 8.
    writeEvents(d, Seq(
      (1L, t0, 1L, "X", 1.0, "{}"), (2L, t0, 2L, "X", 3.0, "{}"),
      (3L, t0, 3L, "Y", 5.0, "{}"), (4L, t0, 4L, "Y", 7.0, "{}")))
    val r = SparkEntry.queries("eval_anova_oneway")(spark, d).collect().head
    assert(r.getAs[Long]("k") == 2 && r.getAs[Long]("n_total") == 4)
    assert(math.abs(r.getAs[Double]("ss_between") - 16.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("ss_within") - 4.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("f_stat") - 8.0) < 1e-9)
  }

  test("eval_mcnemar cells match a re-derivation of the md5 classifiers") {
    val d = tempDir("mcn")
    val rows = (1L to 200L).map { i =>
      (i, t0, i, "view", if (i % 3 == 0) 80.0 else 20.0, "{}")
    }
    writeEvents(d, rows)
    def pred(id: Long, salt: String, bound: Char): Boolean =
      md5hex(s"$id#$salt").charAt(0) < bound
    val cells = rows.map { case (id, _, _, _, v, _) =>
      val y = v > 50
      (pred(id, "a", '8') == y, pred(id, "b", 'a') == y)
    }
    val b = cells.count { case (ca, cb) => ca && !cb }
    val c = cells.count { case (ca, cb) => !ca && cb }
    val r = SparkEntry.queries("eval_mcnemar")(spark, d).collect().head
    assert(r.getAs[Long]("only_a_correct") == b)
    assert(r.getAs[Long]("only_b_correct") == c)
    val exp = (b - c).toDouble * (b - c) / (b + c)
    assert(math.abs(r.getAs[Double]("mcnemar_chi2") - exp) < 1e-3)
  }

  test("eval_tost: tight arms are equivalent within the ±5 margin, " +
    "a 20-unit shift is not") {
    def armOf(u: Long): String =
      if (Character.digit(md5hex(u.toString).charAt(0), 16) < 8) "A" else "B"
    def run(shift: Double): Int = {
      val d = tempDir("tost")
      val rows = (0L until 400L).map { u =>
        val base = if (armOf(u) == "A") 100.0 else 100.0 + shift
        (u, t0, u, "view", base + (u % 2) * 2.0, "{}")
      }
      writeEvents(d, rows)
      SparkEntry.queries("eval_tost")(spark, d)
        .collect().head.getAs[Int]("equivalent")
    }
    assert(run(0.0) == 1, "identical arms must be equivalent")
    assert(run(20.0) == 0, "a shift far past the margin must not be")
  }

  test("behavior_rfm: five hand-ranked customers land in five quintiles") {
    val d = tempDir("rfm")
    // customer i (1..5): recency day −i (1 most recent), frequency 6−i
    // orders, monetary 1000·(6−i) total — so customer 1 is (r,f,m) =
    // (1,1,1) and customer 5 is (5,5,5).
    val orders = (1 to 5).flatMap { i =>
      (1 to (6 - i)).map { j =>
        (i * 100L + j, i.toLong, "O",
          1000.0 * (6 - i) / (6 - i), // o_totalprice per order
          plusDays(t0, -i), "P")
      }
    }
    orders.toDF("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$d/orders.parquet")
    val rows = SparkEntry.queries("behavior_rfm")(spark, d).collect()
    assert(rows.length == 5)
    for (r <- rows) {
      assert(r.getAs[Int]("r_q") == r.getAs[Int]("f_q"))
      assert(r.getAs[Int]("f_q") == r.getAs[Int]("m_q"))
      assert(r.getAs[Long]("n_customers") == 1)
    }
    assert(math.abs(rows.map(_.getAs[Double]("revenue_share")).sum - 1.0)
      < 1e-3)
  }

  test("behavior_stickiness = dau_sum / (active_days * wau)") {
    val d = tempDir("stick")
    // Mon 2024-01-01 .. Sun 2024-01-07, one calendar week: user 1
    // active all 7 days, user 2 active exactly one day.
    val rows = (0 until 7).map { i =>
      (i.toLong, plusDays(t0, i), 1L, "view", 1.0, "{}")
    } :+ (99L, t0, 2L, "view", 1.0, "{}")
    writeEvents(d, rows)
    val r = SparkEntry.queries("behavior_stickiness")(spark, d)
      .collect().head
    assert(r.getAs[Long]("active_days") == 7)
    assert(r.getAs[Long]("dau_sum") == 8)   // 2 on day 1, 1 on days 2-7
    assert(r.getAs[Long]("wau") == 2)
    assert(math.abs(r.getAs[Double]("stickiness") - 8.0 / 14.0) < 1e-4)
  }

  test("pipe_gopher_rules lands each planted doc in its designed mask cell") {
    val d = tempDir("gopher")
    val good = (("the of and to a" + " word" * 20) + " tail").trim
    val short = "the of and tiny"                  // fails r1 (word count)
    val numeric = ("the of and to a " + "12345 " * 30).trim // fails r4
    writeDocs(d, Seq(
      (1L, good, "en", "s1", good.length),
      (2L, short, "en", "s1", short.length),
      (3L, numeric, "en", "s1", numeric.length)))
    val cells = SparkEntry.queries("pipe_gopher_rules")(spark, d)
      .collect().map(r => r.getAs[Int]("rule_mask") ->
        (r.getAs[Long]("n_docs"), r.getAs[Int]("passes_all"))).toMap
    assert(cells(15) == ((1L, 1)), s"good doc should pass all: $cells")
    assert(cells.exists { case (m, (n, _)) => (m & 1) == 0 && n >= 1 },
      s"short doc should fail r1: $cells")
    assert(cells.exists { case (m, (n, _)) => (m & 8) == 0 && n >= 1 },
      s"numeric doc should fail r4: $cells")
  }

  test("ts_ses reproduces S1=y1, St=y_t/2+S_{t-1}/2 by hand") {
    val d = tempDir("ses")
    // daily revenue 4, 8, 16 -> S = 4, 6, 11
    writeEvents(d, Seq(
      (1L, plusDays(t0, 0), 1L, "view", 4.0, "{}"),
      (2L, plusDays(t0, 1), 1L, "view", 8.0, "{}"),
      (3L, plusDays(t0, 2), 1L, "view", 16.0, "{}")))
    val ses = SparkEntry.queries("ts_ses")(spark, d)
      .collect().map(_.getAs[Double]("ses_level")).toSeq
    assert(ses == Seq(4.0, 6.0, 11.0), s"got $ses")
  }

  test("text_burstiness VMR matches the planted per-doc count variance") {
    val d = tempDir("burst")
    // token 'bursty': counts alternate 1 and 9 across 20 docs ->
    // T = 100, mean 5, sample var = 20*16/19, VMR = 16*20/(19*5).
    // token 'flat': exactly 5 per doc -> VMR = 0.
    val docs = (1L to 20L).map { i =>
      val c = if (i % 2 == 0) 9 else 1
      (i, ("bursty " * c + "flat " * 5).trim, "en", "s1", 1)
    }
    writeDocs(d, docs)
    val rows = SparkEntry.queries("text_burstiness")(spark, d).collect()
      .map(r => r.getAs[String]("tok") ->
        (r.getAs[Long]("df"), r.getAs[Long]("total"),
          r.getAs[Double]("vmr"))).toMap
    assert(rows("bursty")._1 == 20 && rows("bursty")._2 == 100)
    assert(math.abs(rows("bursty")._3 - 16.0 * 20 / (19 * 5)) < 1e-3)
    assert(rows("flat") == ((20L, 100L, 0.0)))
  }

  test("wedge cap excises a planted over-degree part and reports " +
    "exactly C(d,2) suppressed pairs") {
    val d = tempDir("wedge")
    val hot = 1L          // 300 distinct buyers > WedgeCap = 256
    val cold1 = 2L; val cold2 = 3L // 4 shared buyers, support >= 3
    val orders = (1L to 300L).map { c =>
      (c, c, "O", 1.0, t0, "P") // order c by customer c
    }
    orders.toDF("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$d/orders.parquet")
    val li = (1L to 300L).map(c => (c, hot, 1L, 1, 1.0, 1.0, 0.0, 0.0,
        "N", "O", t0)) ++
      (1L to 4L).flatMap(c => Seq(
        (c, cold1, 1L, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", t0),
        (c, cold2, 1L, 3, 1.0, 1.0, 0.0, 0.0, "N", "O", t0)))
    li.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val tr = SparkEntry.queries("graph_bipartite_truncation")(spark, d)
      .collect().head
    assert(tr.getAs[Long]("n_capped_parts") == 1)
    assert(tr.getAs[Long]("max_part_degree") == 300)
    assert(tr.getAs[Long]("pairs_suppressed") == 300L * 299 / 2)
    // the projection itself: hot-part wedges gone; customers 1..4 share
    // BOTH cold parts but shared = 2 < 3 support -> no pairs at all...
    // except via the cold parts if support were lower. With the hot part
    // capped, no customer pair shares >= 3 parts here.
    val pr = SparkEntry.queries("graph_bipartite_project")(spark, d)
    assert(pr.count() == 0,
      "capped projection must emit nothing (hot part excised, " +
        "cold support below threshold)")
  }

  test("behavior_lifecycle_grid: new/retained/resurrected/churned " +
    "match a hand-built 3-week cohort") {
    val d = tempDir("lifec")
    // A active wk 1,2,3; B active wk 1 only; C active wk 1 and 3.
    val rows = Seq(
      (1L, plusDays(t0, 0), 1L), (2L, plusDays(t0, 7), 1L),
      (3L, plusDays(t0, 14), 1L),
      (4L, plusDays(t0, 0), 2L),
      (5L, plusDays(t0, 0), 3L), (6L, plusDays(t0, 14), 3L)
    ).map { case (e, ts, u) => (e, ts, u, "view", 1.0, "{}") }
    writeEvents(d, rows)
    val g = SparkEntry.queries("behavior_lifecycle_grid")(spark, d)
      .collect().sortBy(_.getAs[Long]("wk"))
    assert(g.length == 3)
    def cells(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("n_new"), r.getAs[Long]("n_retained"),
        r.getAs[Long]("n_resurrected"), r.getAs[Long]("n_churned"))
    assert(cells(g(0)) == ((3L, 0L, 0L, 0L)))
    assert(cells(g(1)) == ((0L, 1L, 0L, 2L))) // A retained; B,C churned
    assert(cells(g(2)) == ((0L, 1L, 1L, 0L))) // A retained; C resurrected
  }

  test("text_bleu_pairs: clipping caps repeated-token credit; " +
    "identical docs score 1") {
    val d = tempDir("bleu")
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    // identical pair (1,2): p1 = p2 = bleu2 = 1. Pair (1,3): doc 3 is
    // doc 1 with 'w1' duplicated 5 extra times at the end — the extra
    // w1 occurrences are CLIPPED to doc 1's single w1.
    writeDocs(d, Seq(
      (1L, base, "en", "s", 1), (2L, base, "en", "s", 1),
      (3L, base + " w1" * 5, "en", "s", 1)))
    val rows = SparkEntry.queries("text_bleu_pairs")(spark, d).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2")) ->
        (r.getAs[Double]("p1"), r.getAs[Double]("p2"),
          r.getAs[Double]("bleu2"))).toMap
    assert(rows((1L, 2L)) == ((1.0, 1.0, 1.0)))
    val (p1, p2, bleu) = rows((1L, 3L))
    // candidate d2=doc3 has 35 tokens; all 6 w1 occurrences clip to
    // doc 1's single w1, so clipped matches = 29 + 1 = 30 of 35.
    assert(math.abs(p1 - 30.0 / 35) < 6e-5, s"p1=$p1")
    assert(p2 < 1.0 && bleu < 1.0 && bleu > 0)
  }

  test("eval_delong: perfect separation gives auc 1 with zero variance") {
    val d = tempDir("delong")
    // one weekday group: every positive outscores every negative
    val rows = (1L to 40L).map { i =>
      val pos = i <= 20
      (i, t0, i, if (pos) "purchase" else "view",
        if (pos) 100.0 + i else i.toDouble, "{}")
    }
    writeEvents(d, rows)
    val r = SparkEntry.queries("eval_delong")(spark, d).collect().head
    assert(r.getAs[Long]("n_pos") == 20 && r.getAs[Long]("n_neg") == 20)
    assert(r.getAs[Double]("auc") == 1.0)
    assert(r.getAs[Double]("se_delong") == 0.0)
    assert(r.getAs[Double]("ci_lo") == 1.0 && r.getAs[Double]("ci_hi") == 1.0)
  }

  test("cluster_dbscan_grid: two planted blobs resolve to two clusters, " +
    "stragglers to noise") {
    val d = tempDir("dbscan")
    // blob A: 8 points in cell (0,0) [coords ~0.01]; blob B: 8 points
    // in cell (100,100) [coords ~3.13]; 2 isolated noise points.
    def v(id: Long, x: Double, y: Double) =
      (id, Array(x.toFloat, y.toFloat, 0f), "l")
    val pts = (1L to 8L).map(i => v(i, 0.001 * i, 0.002 * i)) ++
      (11L to 18L).map(i => v(i, 3.130 + 0.0001 * i, 3.130)) ++
      Seq(v(90L, -2.0, -2.0), v(91L, 2.0, -2.0))
    pts.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val rows = SparkEntry.queries("cluster_dbscan_grid")(spark, d)
      .collect().map(r => r.getAs[Long]("cluster_id") ->
        (r.getAs[Long]("n_points"), r.getAs[Long]("n_core_cells"))).toMap
    assert(rows.keySet == Set(-1L, 1L, 11L), s"got $rows")
    assert(rows(1L)._1 == 8 && rows(11L)._1 == 8)
    assert(rows(-1L) == ((2L, 0L)))
  }

  test("behavior_l28: histogram and cumulative share match a " +
    "hand-built two-user window") {
    val d = tempDir("l28")
    val rows = Seq(
      (1L, plusDays(t0, 0), 1L), (2L, plusDays(t0, 1), 1L),
      (3L, plusDays(t0, 2), 1L),
      (4L, plusDays(t0, 2), 2L)
    ).map { case (e, ts, u) => (e, ts, u, "view", 1.0, "{}") }
    writeEvents(d, rows)
    val g = SparkEntry.queries("behavior_l28")(spark, d).collect()
      .map(r => r.getAs[Long]("days_active") ->
        (r.getAs[Long]("n_users"), r.getAs[Double]("user_share"),
          r.getAs[Double]("cum_share"))).toMap
    assert(g == Map(1L -> ((1L, 0.5, 0.5)), 3L -> ((1L, 0.5, 1.0))))
  }

  test("eval_brier_decomp: the constant p=0.5 predictor has zero " +
    "resolution and the closed-form reliability") {
    val d = tempDir("brierd")
    // value = 100 -> sigmoid p = exactly 0.5 for every event; 30% of
    // events are positives (purchase).
    val rows = (1L to 100L).map { i =>
      (i, t0, i, if (i % 10 < 3) "purchase" else "view", 100.0, "{}")
    }
    writeEvents(d, rows)
    val r = SparkEntry.queries("eval_brier_decomp")(spark, d)
      .collect().head
    val o = 0.3
    assert(math.abs(r.getAs[Double]("reliability")
      - (0.5 - o) * (0.5 - o)) < 1e-6)
    assert(r.getAs[Double]("resolution") == 0.0)
    assert(math.abs(r.getAs[Double]("uncertainty") - o * (1 - o)) < 1e-6)
    assert(math.abs(r.getAs[Double]("within_bin_residual")) < 1e-6)
    assert(math.abs(r.getAs[Double]("brier")
      - ((0.5 - o) * (0.5 - o) + o * (1 - o))) < 1e-6)
  }

  test("dq_sequence_gaps: planted ledger {1,2,3,7,10,11} has 2 gap " +
    "runs, 4 missing") {
    val d = tempDir("gaps")
    val clicks = Seq(1L, 2L, 3L, 7L, 10L, 11L)
    val rows = clicks.map(i => (i, t0, i, "click", 1.0, "{}")) ++
      Seq(4L, 5L).map(i => (100L + i, t0, i, "view", 1.0, "{}"))
    writeEvents(d, rows)
    val r = SparkEntry.queries("dq_sequence_gaps")(spark, d)
      .collect().head
    assert(r.getAs[Long]("n_keys") == 6)
    assert(r.getAs[Long]("key_min") == 1 && r.getAs[Long]("key_max") == 11)
    assert(r.getAs[Long]("missing_total") == 5) // 4,5,6,8,9
    assert(r.getAs[Long]("n_gap_runs") == 2)    // after 3, after 7
    assert(math.abs(r.getAs[Double]("avg_gap_len") - 2.5) < 1e-9)
  }

  test("text_source_overlap: hand-built vocabularies give exact " +
    "Jaccard, disjoint sources emit no row") {
    val d = tempDir("srcov")
    writeDocs(d, Seq(
      (1L, "a b c dd", "en", "s1", 1),
      (2L, "c dd e f", "en", "s2", 1),
      (3L, "zz", "en", "s3", 1)))
    val rows = SparkEntry.queries("text_source_overlap")(spark, d)
      .collect().map(r => (r.getAs[String]("s1"), r.getAs[String]("s2")) ->
        (r.getAs[Long]("n_shared"), r.getAs[Double]("jaccard"))).toMap
    assert(rows == Map(("s1", "s2") -> ((2L, math.round(2.0 / 6 * 1e4) / 1e4))))
  }

  test("phash band-bucket cap: a 300-clone degenerate bucket is excised, " +
    "a 10-clone cluster still pairs") {
    val d = tempDir("phashcap")
    // identical text -> identical stub pixels -> identical bands: group
    // A (300 docs) lands one 300-member bucket per band (> cap 256,
    // excised — exact dedup upstream owns that case); group B (10
    // docs) stays under the cap and must emit its C(10,2) = 45
    // hamming-0 pairs.
    val docs = (1L to 300L).map(i => (i, "alpha beta gamma", "en", "a", 1)) ++
      (1001L to 1010L).map(i => (i, "delta epsilon zeta", "en", "b", 1))
    writeDocs(d, docs)
    val pairs = SparkEntry.queries("mm_phash_pairs")(spark, d).collect()
    assert(pairs.forall(r => r.getAs[Long]("m1") > 1000L),
      "no pair may touch the degenerate 300-clone bucket")
    assert(pairs.length == 45,
      s"10-clone cluster must emit C(10,2)=45 pairs, got ${pairs.length}")
    assert(pairs.forall(_.getAs[Int]("hamming") == 0))
  }

  test("dedup_simhash64_pairs: a 1-token edit stays within the hamming " +
    "ball; unrelated docs never pair") {
    val d = tempDir("sh60")
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val edited = base.replace("tok7", "changed")
    val other = (1 to 60).map(i => s"zzz$i").mkString(" ")
    writeDocs(d, Seq(
      (1L, base, "en", "s", 1), (2L, edited, "en", "s", 1),
      (3L, other, "en", "s", 1)))
    val rows = SparkEntry.queries("dedup_simhash64_pairs")(spark, d)
      .collect().map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2")) ->
        r.getAs[Int]("hamming")).toMap
    assert(rows.keySet == Set((1L, 2L)), s"got $rows")
    assert(rows((1L, 2L)) <= 7 && rows((1L, 2L)) >= 0)
  }

  test("eval_delong_compare: a perfect model beats its md5-degraded " +
    "twin with positive z") {
    val d = tempDir("delongc")
    // model A (the raw value) separates perfectly; model B adds a
    // +-300-amplitude md5 perturbation that swamps the 100-unit margin
    val rows = (1L to 200L).map { i =>
      val pos = i <= 100
      (i, t0, i, if (pos) "purchase" else "view",
        if (pos) 200.0 + i else i.toDouble, "{}")
    }
    writeEvents(d, rows)
    val r = SparkEntry.queries("eval_delong_compare")(spark, d)
      .collect().head
    assert(r.getAs[Double]("auc_a") == 1.0)
    assert(r.getAs[Double]("auc_b") < 1.0)
    assert(r.getAs[Double]("se_diff") > 0)
    assert(r.getAs[Double]("z") > 0,
      s"degrading the score must lower AUC: $r")
  }

  test("vec_norm_census: unit, zero, and 3-4-5 vectors land in their " +
    "exact buckets") {
    val d = tempDir("norms")
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f), "l"),     // norm 1 (unit)
      (2L, Array(0.6f, 0.8f, 0f), "l"), // norm 1 (unit, 3-4-5 scaled)
      (3L, Array(0f, 0f, 0f), "l"),     // zero vector
      (4L, Array(3f, 4f, 0f), "l"))     // norm 5
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val rows = SparkEntry.queries("vec_norm_census")(spark, d).collect()
      .map(r => r.getAs[Long]("bucket") ->
        (r.getAs[Long]("n_vectors"), r.getAs[Long]("n_unit"),
          r.getAs[Long]("n_zero"))).toMap
    assert(rows(0L) == ((1L, 0L, 1L)))  // the zero vector
    assert(rows(4L) == ((2L, 2L, 0L)))  // both unit vectors (1.0/0.25)
    assert(rows(20L) == ((1L, 0L, 0L))) // norm 5 → bucket 20
  }

  test("Derived memo invalidates when the source table's mtime moves") {
    val d = tempDir("memo")
    writeDocs(d, Seq((1L, "alpha beta gamma delta", "en", "s1", 1)))
    val first = TextQueries.shingles(spark, d).count()
    assert(first == 2) // 4 tokens -> 2 distinct 3-shingles
    // regenerate the fixture at the same path with MORE content and a
    // strictly newer mtime (the memo key folds in the max child mtime)
    writeDocs(d, Seq(
      (1L, "alpha beta gamma delta epsilon", "en", "s1", 1),
      (2L, "one two three four", "en", "s1", 1)))
    val dir = new java.io.File(s"$d/documents.parquet")
    val bump = System.currentTimeMillis() + 5000
    dir.setLastModified(bump)
    dir.listFiles().foreach(_.setLastModified(bump))
    val second = TextQueries.shingles(spark, d).count()
    assert(second == 5, s"stale memo served: got $second shingles")
    // The same law for the other build-once artifacts: after the source
    // table is regenerated in place, the query answers as it does over a
    // fresh dir holding the new rows.
    def customers(n: Int)(d: String): Unit =
      (1L to n).map(i => (i, s"Customer#$i", s"SEG${i % 5}"))
        .toDF("c_custkey", "c_name", "c_mktsegment")
        .write.mode("overwrite").parquet(s"$d/customer.parquet")
    def embeddings(ids: Seq[Long], salt: Int)(d: String): Unit =
      ids.map(i => (i, Array.tabulate(4)(j => ((i * 7 + j * salt) % 11 + 1).toFloat),
          (i % 2).toInt))
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val inputs = Seq(
      ("src_schema_evolution", "customer", customers(150) _, customers(1500) _),
      ("sim_knn_ivf_indexed", "embeddings", embeddings(0L until 30L, 3) _,
        embeddings((0L until 10L) ++ (1000L until 1020L), 5) _))
    for ((query, table, before, after) <- inputs) {
      def answer(d: String): Seq[String] =
        SparkEntry.queries(query)(spark, d).collect().map(_.toString).toSeq
      val d = tempDir("memo")
      before(d)
      val old = answer(d)
      after(d)
      val t = new java.io.File(s"$d/$table.parquet")
      val bump = System.currentTimeMillis() + 5000
      t.setLastModified(bump)
      t.listFiles().foreach(_.setLastModified(bump))
      val fresh = tempDir("memo-fresh")
      after(fresh)
      val want = answer(fresh)
      assert(want != old, s"$query: the two fixtures must answer differently")
      assert(answer(d) == want, s"$query: stale artifact served")
    }
  }
}
