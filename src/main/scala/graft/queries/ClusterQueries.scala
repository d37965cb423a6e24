package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel

/** Dedup-cluster resolution and corpus statistics — the step AFTER
  * near-dup pair detection in a training-data pipeline: candidate pairs
  * form a graph; each connected component is "one document", represented
  * by its minimum doc_id; every other member is a drop candidate.
  *
  * Spark-first strategy: iterative min-label propagation over the edge
  * relation (each round = one equi-join + one keyed min-aggregation,
  * both plain shuffles). Rounds needed = the longest min-label path in
  * the graph — near-dup clusters are shallow (dup groups, not social
  * graphs), so a handful of rounds; the 100 TB upgrade is the
  * large-star/small-star variant of exactly these two relational steps
  * (same join shapes, provably O(log n) rounds), not a different engine.
  * Convergence is detected distributively (a count of changed labels —
  * a 1-row action per round, no data on the driver).
  */
/** Hot-key discipline knobs for the graph family's wedge joins. A wedge
  * join (adj ⋈ adj on a shared endpoint, or a bipartite projection keyed
  * on the shared item) emits C(d,2) pairs for a degree-d center — so one
  * viral key dominates the whole stage at corpus scale. Every wedge in
  * the family therefore drops centers with degree > WedgeCap BEFORE the
  * self-join, and the truncation is itself a first-class oracle-verified
  * output (graph_bipartite_truncation). 256 ⇒ ≤ 32,640 pairs per center
  * worst-case; the shipped fixtures' max degrees (53 bipartite / 15
  * co-purchase at sf0.1) never reach it, so fixture hashes are
  * cap-invariant, and Round12OpsSpec's `wedge cap excises a planted
  * over-degree part …` is what exercises the guard. */
private[queries] object GraphConfig {
  val WedgeCap = 256
}

object ClusterQueries {

  /** 8-seed MinHash signature relation (doc_id, seed, mh) — the same
    * signature pipeline dedup_minhash_sig declares (one md5 per shingle +
    * the affine permutation family, TextQueries.mhMixSql), shared here to
    * build the candidate-pair graph. */
  private def minhashSigs(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    TextQueries.minhashSigs(s, d)

  /** MinHash LSH candidate-pair edges (u < v, distinct) — the graph both
    * CC formulations resolve. Materialized ONCE per dataset via the
    * [[Derived]] parquet memo (the band self-join used to rerun for each
    * of the 4 CC-family queries); the transient persisted frame the
    * builder uses is released as soon as the artifact is written. Callers
    * may still call unpersist on the returned scan — a harmless no-op. */
  private def candidateEdges(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    var built: DataFrame = null
    val out = Derived.memo(s, d, "documents", "lshcand") {
      built = candidateEdgesOf(minhashSigs(s, d)); built
    }
    if (built != null) built.unpersist(blocking = false)
    out
  }

  /** Derive-once materialization of the support-≥2 co-purchase edge
    * relation (parts appearing together in ≥2 orders) that the whole
    * graph_* family analyzes. Every graph query used to rebuild this
    * identical lineitem self-join + rollup from scratch (~11 rebuilds
    * per sweep, each a full fact-table shuffle); here the first caller
    * WRITES the relation to parquet and every later caller (including
    * per-query shuffle-partition session clones — the artifact is
    * keyed by table dir, not session) just scans the small file. Disk
    * rather than persist() on purpose: the sweep's between-query
    * hygiene unpersists every RDD, and a production deployment at
    * 100 TB materializes the edge relation exactly once (bucketed by
    * vertex) for all downstream graph analyses — the AnnIndex
    * train-once/probe-many shape. Two variants: support counted over
    * raw lineitems vs over distinct (order, part) baskets — both
    * appear in the family's contracts. */
  private[queries] def coPurchaseEdges(s: org.apache.spark.sql.SparkSession,
      d: String, distinctBaskets: Boolean = false): DataFrame = {
    val tag = if (distinctBaskets) "copurch-dist" else "copurch"
    Derived.memo(s, d, "lineitem", tag) {
      val li0 = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val li = if (distinctBaskets) li0.distinct() else li0
      li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("p1"), col("b.pk").as("p2"))
        .agg(count(lit(1)).as("sup"))
        .filter(col("sup") >= 2)
        .select(col("p1"), col("p2"))
    }
  }

  /** Same candidate cut over an arbitrary signature frame — the skew
    * exemplar plants its own document relation through here. */
  private def candidateEdgesOf(sigs: DataFrame): DataFrame = {
    val h = sigs.persist(StorageLevel.MEMORY_AND_DISK) // self-joined below
    val e = h.as("a").join(h.as("b"),
        col("a.seed") === col("b.seed") && col("a.mh") === col("b.mh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("u"), col("b.doc_id").as("v"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    e.count()
    h.unpersist(blocking = false)
    e
  }

  /** Release the persisted RDD behind an eagerly-localCheckpoint'ed
    * frame once the NEXT round's checkpoint has materialized — without
    * this, every round of an iterative loop pins one obsolete edge-scale
    * block set for the rest of the query (the within-query twin of the
    * cross-query leak Bench/Verify sweep up). */
  private def releaseCheckpoint(df: DataFrame): Unit =
    try df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(blocking = false))
    catch { case _: Throwable => () }

  /** Large-star/small-star contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14) over an oriented edge
    * frame (u, v) with v < u everywhere, already eagerly checkpointed.
    * Returns the converged (doc_id, rep) labels for every edge-touched
    * vertex (singletons absent — the caller self-labels them). Each
    * half-round is one window aggregation + one distinct (plain keyed
    * shuffles, no adjacency materialization).
    *
    * Convergence (r15, measured hybrid): two complementary checks.
    * (a) The (count, bit_xor-hash) fingerprint of each round — a plain
    * scan of the checkpointed output, no shuffle — detects both an
    * already-canonical INPUT (pre-loop fingerprint) and any repeated
    * round, but structurally one round late: a full extra contraction
    * (two window shuffles + a distinct) just to observe nothing moved.
    * (b) The contraction's fixpoint is EXACTLY a set of disjoint
    * min-centered stars (Kiveris Thm 1), directly testable on the
    * round's own output — every member u carries exactly one edge and
    * no center v is itself a member — which detects the fixpoint in
    * the round it is REACHED, but costs two keyed probes of the edge
    * set. The hybrid runs (b) ONLY when the round's edge count equals
    * the previous round's while the hash still moved — exactly the
    * stabilized tail where (a) is about to waste a round; rounds that
    * still shrink the edge set pay nothing beyond the scan. Measured
    * (sf0.1, warm): one-round graphs keep the fingerprint fast path
    * (dedup_semantic_cc 1.05 s — the always-on star test cost +0.25 s
    * there), multi-round graphs save their trailing no-op round
    * (skew stress 4→3 rounds). */
  private[queries] def starLabels(edges0: DataFrame): DataFrame = {
    var edges = edges0
    def fingerprint(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)).as("c"),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)).as("h")).head()
      (r.getLong(0), r.getLong(1))
    }
    // Star test on a materialized round (rows are distinct by
    // construction): no member u holds two edges, and no center v is
    // itself a member. Both probes early-exit via isEmpty.
    def isStarShaped(ss: DataFrame): Boolean =
      ss.groupBy(col("u")).agg(count(lit(1)).as("k"))
        .filter(col("k") > 1).isEmpty &&
      ss.select(col("v")).distinct()
        .join(ss.select(col("u").as("v")), Seq("v"), "left_semi").isEmpty
    var prev = fingerprint(edges)
    var converged = false
    var rounds = 0
    while (!converged && rounds < 50) {
      val tRound = System.nanoTime()
      // Large-star: every edge lives in its SMALLER endpoint's group
      // (sym carries both directions; the v > u half selects them);
      // each strictly-larger neighbor re-attaches to the group's min.
      val sym = edges.unionByName(
        edges.select(col("v").as("u"), col("u").as("v")))
      val ls = sym
        .withColumn("m", least(col("u"), min(col("v")).over(Window.partitionBy("u"))))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
      // NO distinct here (r15): ls only feeds ss's keyed-min window, where
      // duplicate (u, m) rows can't change the min, and ss's own distinct
      // canonicalizes the round's output — the intermediate dedup paid a
      // full extra shuffle per round for nothing (the rows reach ss's
      // exchange either way; dropping it shuffles the multiset once
      // instead of dedup-shuffle + shuffle). Fingerprints are computed on
      // ss only, so convergence and round counts are bit-identical.
      // Small-star: group by the larger endpoint; smaller neighbors
      // (all of them, b < a) re-attach to the min; the row that IS the
      // min re-emits the center's own edge (a, m).
      val ss = ls
        .select(greatest(col("u"), col("v")).as("a"), least(col("u"), col("v")).as("b"))
        .withColumn("m", min(col("b")).over(Window.partitionBy("a")))
        .select(when(col("b") === col("m"), col("a")).otherwise(col("b")).as("u"),
          col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint(true) // reset the plan; the loop grows it otherwise
      val cur = fingerprint(ss)
      // Hybrid convergence (see scaladoc): identical fingerprint is the
      // free fast path; the star test runs only on the stabilized-count
      // tail where the fingerprint alone would burn one more round.
      converged = cur == prev ||
        (cur._1 == prev._1 && isStarShaped(ss))
      prev = cur
      releaseCheckpoint(edges) // superseded by ss's checkpoint
      edges = ss
      rounds += 1
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        println(f"[cc2] round $rounds n=${cur._1} converged=$converged ${(System.nanoTime() - tRound) / 1e3}%.0fus")
    }
    lastStarRounds.set(rounds) // observable by the skew-stress spec
    // Fixpoint = disjoint stars centered at each component's min:
    // every member carries exactly the edge (member, center).
    edges.groupBy(col("u").as("doc_id")).agg(min(col("v")).as("rep"))
  }

  /** Rounds the most recent starLabels invocation took to converge —
    * the O(log n) contraction bound made checkable by the skew spec. */
  private[queries] val lastStarRounds = new java.util.concurrent.atomic.AtomicInteger(-1)

  /** Shared result tail: converged (doc_id, rep) labels over the
    * edge-touched vertex set, completed over the full id universe
    * (singletons label themselves), with per-cluster sizes — the output
    * shape every CC operator shares, parametric in the universe frame
    * and output column names. */
  private def labelsOverUniverse(universe: DataFrame, idCol: String,
      labels: DataFrame, repCol: String, sizeCol: String): DataFrame = {
    val all = universe
      .join(labels.withColumnRenamed("doc_id", idCol), Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("rep"), col(idCol)).as("rep"))
    val sizes = all.groupBy(col("rep")).agg(count(lit(1)).as(sizeCol))
    all
      .join(sizes, Seq("rep"))
      .select(col(idCol), col("rep").as(repCol), col(sizeCol))
      .orderBy(col(idCol))
  }

  private def labelsToResult(s: org.apache.spark.sql.SparkSession, d: String,
      labels: DataFrame): DataFrame =
    labelsOverUniverse(Tables.documents(s, d).select(col("doc_id")),
      "doc_id", labels, "cluster_rep", "n_reachable")

  /** The recursive-transitive-closure oracle both CC queries share: a
    * completely different evaluation strategy reaching the same
    * labeling. */
  private val ccOracleSql: String =
    s"""WITH RECURSIVE
       |sh AS (${TextQueries.shinglesSql}),
       |sv AS (SELECT doc_id, ${TextQueries.shingleIntDuck} AS v FROM sh),
       |h AS (SELECT doc_id, r.seed AS seed,
       |        min(${TextQueries.mhMixSql("v", "r.seed")}) AS mh
       |      FROM sv, range(0, 8) r(seed)
       |      GROUP BY doc_id, r.seed),
       |e AS (SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
       |      FROM h a JOIN h b ON a.seed = b.seed AND a.mh = b.mh
       |        AND a.doc_id < b.doc_id),
       |sym AS (SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e),
       |reach(u, v) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u)
       |SELECT u AS doc_id, CAST(min(v) AS BIGINT) AS cluster_rep,
       |  CAST(count(*) AS BIGINT) AS n_reachable
       |FROM reach GROUP BY u
       |ORDER BY doc_id""".stripMargin

  /** The planted-hot-band document relation (skew exemplar): every 10th
    * doc becomes base-text + its own id token. One definition, two
    * dialects — the Spark frame and the oracle CTE must plant the
    * identical relation. */
  private val skewBaseText =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"

  private[queries] def plantedDocs(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      when(col("doc_id") % 10 === 0,
        concat(lit(skewBaseText + " "), col("doc_id").cast("string")))
        .otherwise(col("text")).as("text"))

  /** ccOracleSql re-rooted at the planted CTE: the shingle source and
    * the closure's vertex seed both read docs_planted instead of the
    * raw table — the textual substitution is safe because `documents`
    * appears in the oracle ONLY as a FROM target. */
  private val skewOracleSql: String = {
    val planted =
      s"""docs_planted AS (SELECT doc_id,
         |  CASE WHEN doc_id % 10 = 0
         |       THEN '$skewBaseText ' || CAST(doc_id AS VARCHAR)
         |       ELSE text END AS text
         |  FROM documents)""".stripMargin
    "WITH RECURSIVE\n" + planted + ",\n" +
      ccOracleSql.replace("WITH RECURSIVE\n", "")
        .replace("FROM documents", "FROM docs_planted")
  }

  /** The PageRank oracle: identical 3 unrolled iterations in DuckDB,
    * over the same candidate graph, with the same decimal-sum and
    * floor-quantization discipline. */
  private val pagerankOracleSql: String = {
    def iter(prev: String, next: String): String =
      s"""$next AS (SELECT n.x,
         |    0.15 + 0.85 * coalesce(c.m, 0) AS r
         |  FROM r0base n LEFT JOIN (
         |    SELECT s.v AS x,
         |      CAST(sum(CAST(p.r / deg.d AS DECIMAL(38,15))) AS DOUBLE) AS m
         |    FROM sym s JOIN $prev p ON p.x = s.u
         |    JOIN deg ON deg.x = s.u
         |    GROUP BY s.v) c ON c.x = n.x)""".stripMargin
    s"""WITH sh AS (${TextQueries.shinglesSql}),
       |sv AS (SELECT doc_id, ${TextQueries.shingleIntDuck} AS v FROM sh),
       |h AS (SELECT doc_id, r.seed AS seed,
       |        min(${TextQueries.mhMixSql("v", "r.seed")}) AS mh
       |      FROM sv, range(0, 8) r(seed)
       |      GROUP BY doc_id, r.seed),
       |e AS (SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
       |      FROM h a JOIN h b ON a.seed = b.seed AND a.mh = b.mh
       |        AND a.doc_id < b.doc_id),
       |sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
       |deg AS (SELECT u AS x, CAST(count(*) AS DOUBLE) AS d FROM sym GROUP BY 1),
       |r0base AS (SELECT doc_id AS x FROM documents),
       |r0 AS (SELECT x, 1.0 AS r FROM r0base),
       |${iter("r0", "r1")},
       |${iter("r1", "r2")},
       |${iter("r2", "r3")}
       |SELECT x AS doc_id,
       |  CAST(floor(r * 1000000 + 0.5) / 1000000.0 AS DOUBLE) AS rank
       |FROM r3
       |ORDER BY doc_id""".stripMargin
  }

  def all: Seq[Q] = Seq(

    // Connected components over the MinHash LSH candidate graph: every
    // document labeled with the minimum doc_id reachable through
    // near-dup candidate edges (singletons label themselves). The
    // DuckDB oracle computes the same fixpoint as a recursive
    // transitive closure — a completely different evaluation strategy
    // reaching the same labeling.
    Q("dedup_cluster_cc", ccOracleSql) { (s0, d) =>
      // The iterative section runs DURING the builder (each round is an
      // action), on edge-scale frames far below the session's shuffle
      // sizing — 8 partitions cuts per-round task scheduling ~4× with
      // identical results (DeterminismSpec's law). The override rides a
      // session CLONE (Sessions.withShufflePartitions), never the shared
      // conf — concurrent queries on the parent session are unaffected.
      // On a real cluster this is the same per-stage sizing call, just
      // bigger numbers.
      val s = graft.Sessions.withShufflePartitions(s0, 8)
      val e = candidateEdges(s, d)
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
        .persist(StorageLevel.MEMORY_AND_DISK)
      sym.count() // materialize once; edge pairs not needed after
      e.unpersist(blocking = false)
      // n_reachable (component size via closure in the oracle) is
      // recovered relationally at the end: members per final label.
      //
      // Two iteration economies (they matter equally at sf0.001 and at
      // 100 TB, where they cut per-round shuffle volume, not just job
      // count):
      //  - Only vertices that HAVE edges iterate. Singletons can never
      //    change labels; they rejoin as rep=self at the end. In a real
      //    near-dup graph the edge-touched set is a small fraction of
      //    the corpus.
      //  - The convergence signal rides INSIDE the round's checkpoint
      //    as a boolean column, so counting changes is a scan of the
      //    just-materialized RDD — not an extra join+shuffle job per
      //    round (which is what the previous formulation paid).
      //
      // Each round ends in an EAGER localCheckpoint: without it the
      // logical plan nests the previous round's plan, growing
      // exponentially until plan analysis itself dies around round 20.
      // Checkpointing resets the plan to the materialized RDD — the
      // standard Spark shape for iterative algorithms (on a cluster,
      // reliable checkpoints to the checkpoint dir serve the same role
      // with fault tolerance).
      var labels = sym
        .select(col("u").as("doc_id")).distinct()
        .select(col("doc_id"), col("doc_id").as("rep"))
        .localCheckpoint(true)
      var changed = 1L
      var rounds = 0
      while (changed > 0 && rounds < 50) {
        // Neighbor reps and the node's own rep ride ONE union into ONE
        // keyed min — no separate neighbor-min aggregation feeding a
        // left-outer join back onto labels (that shape pays two shuffles
        // where this pays one). The self row also carries the previous
        // rep (`old`, exactly one such row per doc) so the convergence
        // signal still needs no extra join.
        val next = sym
          .join(labels.select(col("doc_id").as("v"), col("rep")), Seq("v"))
          .select(col("u").as("doc_id"), col("rep"), lit(null).cast("long").as("old"))
          .unionByName(labels.select(col("doc_id"), col("rep"), col("rep").as("old")))
          .groupBy(col("doc_id"))
          .agg(min(col("rep")).as("rep"), max(col("old")).as("old"))
        // Pointer jump (path halving): rep ← rep(rep). Labels only ever
        // shrink within the component, so the jump preserves the fixpoint
        // while letting labels travel 2^round hops instead of `round` —
        // the cheap half of the large-star/small-star O(log n) bound.
        val jumped = next
          .join(next.select(col("doc_id").as("rep"), col("rep").as("rep2")),
            Seq("rep"))
          .select(col("doc_id"), col("rep2").as("rep"),
            (col("rep2") =!= col("old")).as("chg"))
          .localCheckpoint(true)
        changed = jumped.filter(col("chg")).count()
        releaseCheckpoint(labels) // superseded by jumped's checkpoint
        labels = jumped.select(col("doc_id"), col("rep"))
        rounds += 1
        if (sys.env.contains("GRAFT_CC_DEBUG"))
          println(s"[cc] round $rounds changed=$changed")
      }
      // The converged labels ride in their own checkpoint; the edge list
      // is dead weight from here — release its blocks so a long-lived
      // session (Bench runs 130+ queries in one JVM) doesn't accumulate
      // storage-memory pressure from every CC invocation.
      sym.unpersist(blocking = false)
      labelsToResult(s, d, labels)
    },

    // The same labeling by the large-star/small-star algorithm (Kiveris
    // et al., "Connected Components in MapReduce and Beyond", SoCC'14)
    // — the O(log n)-round formulation dedup_cluster_cc's scaladoc
    // promises for 100 TB, shipped as a first-class operator against
    // the same recursive-closure oracle. Each half-round is one window
    // aggregation (keyed min — NO collect_list, so a hub vertex with
    // millions of neighbors streams through a sort-based window rather
    // than materializing its adjacency in one task) plus one distinct;
    // both are plain keyed shuffles. Convergence when the edge set's
    // (count, hash-sum) fingerprint stops moving — a 1-row action per
    // round, no data on the driver. Label-propagation needs rounds ~
    // graph diameter; star contraction needs O(log n) — on deep
    // near-dup chains (doc A edits to B edits to C ...) this is the
    // difference between a handful and hundreds of shuffles.
    Q("dedup_cluster_cc2", ccOracleSql) { (s0, d) =>
      // Same loop-stage shuffle sizing as dedup_cluster_cc above, scoped
      // to a session clone.
      val s = graft.Sessions.withShufflePartitions(s0, 8)
      // Orient larger → smaller so the invariant v < u holds everywhere.
      val e0 = candidateEdges(s, d)
      val edges = e0.select(col("v").as("u"), col("u").as("v"))
        .localCheckpoint(true)
      e0.unpersist(blocking = false)
      labelsToResult(s, d, starLabels(edges))
    },

    // The DEDUP OUTPUT: the kept corpus after cluster resolution — one
    // row per cluster representative carrying how many members it
    // absorbed. Closes the near-dup story (pairs → clusters → kept
    // corpus): downstream training reads exactly this relation. Same
    // star contraction; the keep cut is a filter on the shared result
    // shape.
    Q("dedup_cc_keep",
      s"""SELECT doc_id, CAST(n_reachable AS BIGINT) AS n_members
         |FROM ($ccOracleSql) t
         |WHERE doc_id = cluster_rep
         |ORDER BY doc_id""".stripMargin) { (s0, d) =>
      val s = graft.Sessions.withShufflePartitions(s0, 8)
      val e0 = candidateEdges(s, d)
      val edges = e0.select(col("v").as("u"), col("u").as("v"))
        .localCheckpoint(true)
      e0.unpersist(blocking = false)
      labelsToResult(s, d, starLabels(edges))
        .filter(col("doc_id") === col("cluster_rep"))
        .select(col("doc_id"), col("n_reachable").as("n_members"))
        .orderBy(col("doc_id"))
    },

    // PageRank (3 unrolled power iterations, damping 0.85) over the
    // symmetric LSH candidate graph — centrality of a document inside
    // its near-dup neighborhood (the "canonical page" selection signal
    // dedup pipelines use beyond plain min-id). Each iteration is ONE
    // edge-keyed join + ONE target-keyed aggregation — the identical
    // shuffle pair at any scale, no driver state. Determinism: the
    // per-edge contribution r/d is IEEE double (identical in both
    // engines); the SUM runs over DECIMAL(38,15) (exact, order-free —
    // a double sum would vary with partition order); the final rank is
    // floor-quantized, not round()ed (engine tie rules differ).
    Q("graph_pagerank", pagerankOracleSql) { (s0, d) =>
      // Same loop-stage shuffle sizing as the CC family: the iteration
      // frames are edge-scale, far below the session's batch sizing.
      val s = graft.Sessions.withShufflePartitions(s0, 8)
      val e = candidateEdges(s, d)
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      // Fold the out-degree ONTO the persisted edge relation (r15): the
      // old loop re-joined deg to sym every iteration — 3 identical
      // join stages for a value that never changes. (u, v, d) is the
      // standard degree-annotated adjacency a cluster materializes once;
      // r / d stays the same IEEE division, so the DECIMAL(38,15)
      // quantized sums are bit-identical to the oracle's.
      val symd = sym
        .join(sym.groupBy(col("u").as("x"))
            .agg(count(lit(1)).cast("double").as("d"))
            .select(col("x").as("u"), col("d")),
          Seq("u"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      symd.count()
      e.unpersist(blocking = false)
      val docs = Tables.documents(s, d).select(col("doc_id").as("x"))
      var r = docs.select(col("x"), lit(1.0).as("r"))
      for (_ <- 1 to 3) {
        val contrib = symd
          .join(r.select(col("x").as("u"), col("r")), Seq("u"))
          .groupBy(col("v").as("x"))
          .agg(expr("CAST(sum(CAST(r / d AS DECIMAL(38,15))) AS DOUBLE)")
            .as("m"))
        r = docs.join(contrib, Seq("x"), "left_outer")
          .select(col("x"),
            (lit(0.15) + lit(0.85) * coalesce(col("m"), lit(0.0))).as("r"))
      }
      val out = r.select(col("x").as("doc_id"),
          expr("CAST(floor(r * 1000000 + 0.5) / 1000000.0 AS DOUBLE)")
            .as("rank"))
        .orderBy(col("doc_id"))
      val res = out.localCheckpoint(true) // materialize, then release edges
      symd.unpersist(blocking = false)
      res
    },

    // Per-node triangle counting over the co-purchase graph (parts
    // appearing in the same order, support ≥ 2 to keep signal edges
    // only) — the clustering-coefficient building block of graph-side
    // data curation (community detection, link-spam scoring). The plan
    // is the canonical distributed form: orient every edge low→high id,
    // wedge join on the shared middle vertex, close the wedge with one
    // more edge join — each step an equi-join keyed on a vertex id, so
    // the whole count is three hash joins, no adjacency matrix and no
    // driver state. The low→high orientation counts each triangle
    // EXACTLY once and caps wedge fan-out by out-degree (the standard
    // skew bound for this join at scale).
    Q("graph_triangles",
      """WITH e0 AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |t AS (SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
        |  FROM e0 e1
        |  JOIN e0 e2 ON e2.p1 = e1.p2
        |  JOIN e0 e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2),
        |n AS (SELECT part, count(*) AS n_triangles FROM (
        |    SELECT a AS part FROM t
        |    UNION ALL SELECT b FROM t
        |    UNION ALL SELECT c FROM t) GROUP BY part)
        |SELECT part, CAST(n_triangles AS BIGINT) AS n_triangles
        |FROM n ORDER BY part""") { (s, d) =>
      val e0 = coPurchaseEdges(s, d)
      val t = e0.as("e1")
        .join(e0.as("e2"), col("e2.p1") === col("e1.p2"))
        .join(e0.as("e3"),
          col("e3.p1") === col("e1.p1") && col("e3.p2") === col("e2.p2"))
        .select(col("e1.p1").as("a"), col("e1.p2").as("b"), col("e2.p2").as("c"))
      t.select(col("a").as("part"))
        .unionByName(t.select(col("b").as("part")))
        .unionByName(t.select(col("c").as("part")))
        .groupBy(col("part"))
        .agg(count(lit(1)).as("n_triangles"))
        .orderBy(col("part"))
    },

    // Local clustering coefficient per node: C(v) = 2·T(v) / (deg(v)·
    // (deg(v)−1)) over the same support-thresholded co-purchase graph as
    // graph_triangles — the per-node "how clique-like is my
    // neighborhood" score used for link-spam and community-core
    // detection. Reuses the oriented wedge-join triangle count (three
    // hash joins, skew bounded by out-degree) plus one degree rollup
    // over the symmetrized edge relation; the divide touches only the
    // node-sized aggregate. Nodes with deg < 2 have no possible wedge —
    // coefficient 0 by convention.
    Q("graph_clustering_coeff",
      """WITH e0 AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS (SELECT p1 AS v FROM e0 UNION ALL SELECT p2 FROM e0),
        |deg AS (SELECT v, count(*) AS degree FROM sym GROUP BY 1),
        |t AS (SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
        |  FROM e0 e1
        |  JOIN e0 e2 ON e2.p1 = e1.p2
        |  JOIN e0 e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2),
        |n AS (SELECT part, count(*) AS n_tri FROM (
        |    SELECT a AS part FROM t
        |    UNION ALL SELECT b FROM t
        |    UNION ALL SELECT c FROM t) GROUP BY part)
        |SELECT deg.v AS part, CAST(degree AS BIGINT) AS degree,
        |  CAST(coalesce(n_tri, 0) AS BIGINT) AS n_triangles,
        |  round(CASE WHEN degree >= 2
        |    THEN 2.0 * coalesce(n_tri, 0) / (degree * (degree - 1.0))
        |    ELSE 0.0 END, 4) AS lcc
        |FROM deg LEFT JOIN n ON n.part = deg.v
        |ORDER BY part""") { (s, d) =>
      // e0 feeds the degree rollup once and the wedge join three
      // times — the sweep-cached persisted relation covers both.
      val e0 = coPurchaseEdges(s, d)
      val deg = e0.select(col("p1").as("v"))
        .unionByName(e0.select(col("p2").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("degree"))
      val t = e0.as("e1")
        .join(e0.as("e2"), col("e2.p1") === col("e1.p2"))
        .join(e0.as("e3"),
          col("e3.p1") === col("e1.p1") && col("e3.p2") === col("e2.p2"))
        .select(col("e1.p1").as("a"), col("e1.p2").as("b"), col("e2.p2").as("c"))
      val n = t.select(col("a").as("part"))
        .unionByName(t.select(col("b").as("part")))
        .unionByName(t.select(col("c").as("part")))
        .groupBy(col("part")).agg(count(lit(1)).as("n_tri"))
      deg.join(n, col("part") === col("v"), "left")
        .select(col("v").as("part"), col("degree"),
          coalesce(col("n_tri"), lit(0L)).as("n_triangles"),
          round(when(col("degree") >= 2,
              lit(2.0) * coalesce(col("n_tri"), lit(0L)) /
                (col("degree") * (col("degree") - lit(1.0))))
            .otherwise(lit(0.0)), 4).as("lcc"))
        .orderBy(col("part"))
    },

    // SKEW STRESS for the LSH+CC family: every 10th document is
    // replaced by a shared 20-token base text plus a per-doc suffix —
    // at sf0.1 that is a planted ~500-member near-dup cluster whose
    // signatures pile into a handful of HOT (seed, mh) band buckets,
    // the worst-case skew an organic corpus throws at the band
    // equi-join (boilerplate pages, templated spam). The operator must
    // hold its shape: the candidate cut stays a band-bucket self-join
    // (quadratic only within the planted cluster, never corpus-wide)
    // and the star contraction still converges in O(log n) rounds on
    // the resulting giant star (round count pinned by
    // ClusterQueriesSpec). The oracle reaches the same labeling by
    // recursive closure over the identically-planted relation.
    Q("dedup_cluster_cc_skew", skewOracleSql) { (s0, d) =>
      val s = graft.Sessions.withShufflePartitions(s0, 8)
      // Candidate cut (r16): BUCKET-STAR reduction instead of the band
      // self-join. CC consumes candidate edges only for CONNECTIVITY,
      // and within one (seed, mh) bucket the all-pairs clique and the
      // star to the bucket's min doc connect exactly the same vertex
      // set — so the components, the min-reachable labels, and the
      // component sizes are IDENTICAL (the DuckDB oracle still builds
      // the all-pairs closure and the hash gate proves it). The planted
      // hot band stays the stress: ~500 docs still funnel into a
      // handful of buckets, but they now emit O(m) star edges instead
      // of C(m,2) pairs — at 100 TB a 1M-doc boilerplate bucket is 10⁶
      // edges, not 5·10¹¹; this is the standard LSH-dedup discipline
      // (all-PAIRS stay first-class where pairs themselves are the
      // output: dedup_minhash_pairs and the shared lshcand memo).
      // Orientation: v = bucket min < u by construction, as starLabels
      // requires. One window shuffle + one distinct replaces the
      // quadratic self-join + distinct.
      val sigs = TextQueries.minhashSigsArrayOf(plantedDocs(s, d))
      val edges = sigs
        .withColumn("m",
          min(col("doc_id")).over(Window.partitionBy("seed", "mh")))
        .filter(col("doc_id") =!= col("m"))
        .select(col("doc_id").as("u"), col("m").as("v"))
        .distinct()
        .localCheckpoint(true)
      labelsToResult(s, d, starLabels(edges))
    },

    // Semantic dedup-cluster resolution: the near-dup graph comes from
    // EMBEDDING cosine similarity (sign-bucket LSH candidates ≥ 0.4, the
    // dedup_cos_neardup edge relation) instead of MinHash shingles, and
    // the same large-star/small-star contraction resolves the clusters —
    // SemDeDup-style semantic dedup as one operator. The oracle reaches
    // the identical labeling via a recursive transitive closure.
    Q("dedup_semantic_cc",
      """WITH RECURSIVE v AS (SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
        |    CAST(list_sum(list_transform(range(1, 9),
        |      i -> CASE WHEN embedding[i] > 0 THEN CAST(pow(2, i - 1) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bucket
        |  FROM embeddings),
        |p AS (SELECT a.vec_id AS v1, b.vec_id AS v2,
        |    list_sum(list_transform(range(1, 65),
        |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) / (a.nrm * b.nrm) AS cos
        |  FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
        |e AS (SELECT v1 AS u, v2 AS v FROM p WHERE cos >= 0.4),
        |sym AS (SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e),
        |reach(u, v) AS (
        |  SELECT vec_id, vec_id FROM embeddings
        |  UNION
        |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u)
        |SELECT u AS vec_id, CAST(min(v) AS BIGINT) AS cluster_rep,
        |  CAST(count(*) AS BIGINT) AS n_members
        |FROM reach GROUP BY u
        |ORDER BY vec_id""") { (s0, d) =>
      val s = graft.Sessions.withShufflePartitions(s0, 8)
      // The SHARED cosine edge relation (VectorQueries.cosineEdges —
      // double-fold norms, the precision the oracle computes with; a
      // float-precision denominator flipping one threshold-boundary edge
      // would relabel entire clusters under CC).
      val edges = VectorQueries.cosineEdges(s, d)
        .select(col("v2").as("u"), col("v1").as("v")) // orient larger → smaller
        .localCheckpoint(true)
      labelsOverUniverse(Tables.embeddings(s, d).select(col("vec_id")),
        "vec_id", starLabels(edges), "cluster_rep", "n_members")
    },

    // The full corpus-preparation pipeline as ONE declarative DAG —
    // quality filter → language filter → exact dedup (keep min doc_id
    // per content hash) → 32-token/8-overlap chunking. Each stage is
    // the oracle-checked operator declared elsewhere (text_quality,
    // text_langid, dedup_exact, text_chunk); the composition shows the
    // engine end-to-end: filters fuse into the scan, dedup is one
    // window over the content hash, chunking is a generator — a single
    // job, no driver loops. (Near-dup removal composes the same way by
    // semi-joining dedup_cluster_cc's reps; kept out of the oracle to
    // avoid doubling the recursive-CTE cost.)
    Q("pipeline_corpus",
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        |q AS (SELECT * FROM t WHERE len(toks) >= 20
        |  AND CAST(len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
        |      / len(toks) <= 0.5),
        |l AS (SELECT * FROM q
        |  WHERE len(list_filter(toks, x -> x IN ('the', 'a', 'key', 'row')))
        |        >= len(list_filter(toks, x -> x IN ('der', 'und', 'wert', 'tabelle')))
        |    AND len(list_filter(toks, x -> x IN ('the', 'a', 'key', 'row')))
        |        >= len(list_filter(toks, x -> x IN ('le', 'et', 'valeur')))),
        |k AS (SELECT doc_id, toks,
        |    row_number() OVER (PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) AS rn
        |  FROM l),
        |c AS (SELECT doc_id, toks, unnest(range(0, len(toks), 24)) AS start
        |  FROM k WHERE rn = 1)
        |SELECT doc_id,
        |  CAST(start // 24 AS INT) AS chunk_idx,
        |  CAST(len(list_slice(toks, start + 1, start + 32)) AS INT) AS n_chunk_tokens,
        |  md5(array_to_string(list_slice(toks, start + 1, start + 32), ' ')) AS chunk_hash
        |FROM c
        |ORDER BY doc_id, chunk_idx""") { (s, d) =>
      val stop = "x IN ('the', 'a', 'of', 'and', 'to')"
      val t = Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_tokens", size(col("toks")))
      val q = t.filter(col("n_tokens") >= 20 &&
        expr(s"size(filter(toks, x -> $stop))").cast("double") / col("n_tokens") <= 0.5)
      val l = q
        .withColumn("s_en", expr("size(filter(toks, x -> x IN ('the', 'a', 'key', 'row')))"))
        .withColumn("s_de", expr("size(filter(toks, x -> x IN ('der', 'und', 'wert', 'tabelle')))"))
        .withColumn("s_fr", expr("size(filter(toks, x -> x IN ('le', 'et', 'valeur')))"))
        .filter(col("s_en") >= col("s_de") && col("s_en") >= col("s_fr"))
      val w = Window.partitionBy(md5(lower(trim(col("text"))))).orderBy(col("doc_id"))
      l.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("toks"),
          explode(expr("sequence(0, size(toks) - 1, 24)")).as("start"))
        .select(col("doc_id"),
          expr("CAST(start div 24 AS INT)").as("chunk_idx"),
          expr("size(slice(toks, start + 1, 32))").as("n_chunk_tokens"),
          md5(expr("concat_ws(' ', slice(toks, start + 1, 32))")).as("chunk_hash"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },

    // TF-IDF top-3 terms per document. Ranking uses the integer order
    // (tf DESC, df ASC, term) — the same order tf*ln(N/df) induces for a
    // fixed doc except at mathematically-equal scores, where float
    // ulp differences between engines could otherwise flip ranks; the
    // integer sort is engine-independent by construction.
    Q("text_tfidf",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |ranked AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 4) AS tfidf,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf DESC, df.df ASC, tf.term) AS rk
        |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)
        |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        |  tfidf, CAST(rk AS INT) AS rk
        |FROM ranked WHERE rk <= 3
        |ORDER BY doc_id, rk""") { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      val tf = tok.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK) // feeds both df and the join
      // tf is distinct on (doc_id, term), so df is a plain count over it —
      // no second corpus explode, no count(DISTINCT) expansion; the whole
      // query tokenizes the corpus exactly once.
      val df = tf.groupBy(col("term"))
        .agg(count(lit(1)).as("df"))
      val n = Tables.documents(s, d).agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tf").desc, col("df").asc, col("term"))
      tf.join(df, Seq("term"))
        .crossJoin(broadcast(n)) // 1-row scalar: broadcast, never a shuffle
        .withColumn("tfidf",
          round(col("tf") * log(col("n").cast("double") / col("df")), 4))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          col("tfidf"), col("rk"))
        .orderBy(col("doc_id"), col("rk"))
    },

    // k-hop BFS (multi-source shortest hops, k=3) over the support-≥2
    // co-purchase graph — the neighborhood-expansion primitive behind
    // graph features and influence radii. Unrolled frontier relaxation:
    // each round is frontier ⋈ edges → min-dist rollup, the same
    // driver-state-free shape as PageRank/CC (at unbounded k this
    // becomes the large-star/small-star loop the CC family already
    // ships; 3 unrolled rounds keep the whole plan one Catalyst tree).
    // All-integer arithmetic — exact in both engines. Scale: edges
    // shuffle once on the join key per round; the distance relation
    // stays ≤ |V| rows — 100 TB-safe.
    Q("graph_bfs_khop",
      """WITH bp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e0 AS (SELECT a.pk AS p1, b.pk AS p2 FROM bp a JOIN bp b
        |  ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT p1, p2 FROM e0 UNION ALL SELECT p2, p1 FROM e0),
        |d0 AS (SELECT p_partkey AS pk, 0 AS dist FROM part WHERE p_partkey % 100 = 0),
        |u1 AS (SELECT pk, dist FROM d0 UNION ALL
        |  SELECT e.p2, d0.dist + 1 FROM d0 JOIN e ON e.p1 = d0.pk),
        |d1 AS (SELECT pk, min(dist) AS dist FROM u1 GROUP BY 1),
        |u2 AS (SELECT pk, dist FROM d1 UNION ALL
        |  SELECT e.p2, d1.dist + 1 FROM d1 JOIN e ON e.p1 = d1.pk),
        |d2 AS (SELECT pk, min(dist) AS dist FROM u2 GROUP BY 1),
        |u3 AS (SELECT pk, dist FROM d2 UNION ALL
        |  SELECT e.p2, d2.dist + 1 FROM d2 JOIN e ON e.p1 = d2.pk),
        |d3 AS (SELECT pk, min(dist) AS dist FROM u3 GROUP BY 1)
        |SELECT pk AS partkey, CAST(dist AS INT) AS dist
        |FROM d3 ORDER BY partkey""") { (s, d) =>
      val e0 = coPurchaseEdges(s, d, distinctBaskets = true)
      val e = e0.unionByName(e0.select(col("p2").as("p1"), col("p1").as("p2")))
      val d0 = Tables.part(s, d).filter(col("p_partkey") % 100 === 0)
        .select(col("p_partkey").as("pk"), lit(0).as("dist"))
      def relax(dd: DataFrame): DataFrame = {
        val f = dd.select(col("pk").as("fpk"), col("dist").as("fdist"))
        dd.unionByName(
            f.join(e, col("fpk") === col("p1"))
              .select(col("p2").as("pk"), (col("fdist") + 1).as("dist")))
          .groupBy(col("pk")).agg(min(col("dist")).as("dist"))
      }
      relax(relax(relax(d0)))
        .select(col("pk").as("partkey"), col("dist").cast("int").as("dist"))
        .orderBy(col("partkey"))
    },

    // Newman modularity of a node partition (brand = community) over
    // the support-≥2 co-purchase graph — the objective every community
    // detector optimizes, here as the evaluation operator: per
    // community, Q_c = L_c/m − (d_c/2m)². Everything reduces to exact
    // integer edge/degree counts (the same labeled-edge relation feeds
    // intra-edge counts AND the degree rollup), so both engines divide
    // the same ints; m rides a 1-row broadcast. Scale: one edge-build
    // (order-keyed self-join bounded by basket size) + community-sized
    // aggregates — 100 TB-safe.
    Q("graph_modularity",
      """WITH bp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e0 AS (SELECT a.pk AS p1, b.pk AS p2 FROM bp a JOIN bp b
        |  ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2 HAVING count(*) >= 2),
        |pb AS (SELECT p_partkey AS pk, p_brand AS c FROM part),
        |lab AS (SELECT e0.p1, e0.p2, x.c AS c1, y.c AS c2
        |  FROM e0 JOIN pb x ON x.pk = e0.p1 JOIN pb y ON y.pk = e0.p2),
        |m AS (SELECT count(*) AS m FROM e0),
        |lc AS (SELECT c1 AS community, count(*) AS l_c FROM lab WHERE c1 = c2 GROUP BY 1),
        |dg AS (SELECT c, CAST(sum(d) AS BIGINT) AS d_c FROM (
        |    SELECT c1 AS c, count(*) AS d FROM lab GROUP BY 1
        |    UNION ALL SELECT c2 AS c, count(*) AS d FROM lab GROUP BY 1) GROUP BY 1)
        |SELECT dg.c AS community, CAST(coalesce(l_c, 0) AS BIGINT) AS intra_edges, d_c,
        |  round(CAST(coalesce(l_c, 0) AS DOUBLE)/m -
        |    (CAST(d_c AS DOUBLE)/(2*m)) * (CAST(d_c AS DOUBLE)/(2*m)), 6) AS q_c
        |FROM dg LEFT JOIN lc ON lc.community = dg.c, m
        |ORDER BY community""") { (s, d) =>
      val e0 = coPurchaseEdges(s, d, distinctBaskets = true)
      val pb = Tables.part(s, d)
        .select(col("p_partkey").as("pk"), col("p_brand").as("c"))
      val lab = e0
        .join(broadcast(pb.select(col("pk").as("p1"), col("c").as("c1"))), Seq("p1"))
        .join(broadcast(pb.select(col("pk").as("p2"), col("c").as("c2"))), Seq("p2"))
      val m = e0.agg(count(lit(1)).as("m"))
      val lc = lab.filter(col("c1") === col("c2"))
        .groupBy(col("c1").as("community")).agg(count(lit(1)).as("l_c"))
      val dg = lab.select(col("c1").as("c"))
        .unionByName(lab.select(col("c2").as("c")))
        .groupBy(col("c")).agg(count(lit(1)).as("d_c"))
      dg.join(lc, col("community") === col("c"), "left")
        .crossJoin(broadcast(m))
        .select(col("c").as("community"),
          coalesce(col("l_c"), lit(0L)).as("intra_edges"), col("d_c"),
          round(coalesce(col("l_c"), lit(0L)).cast("double") / col("m") -
            (col("d_c").cast("double") / (lit(2) * col("m"))) *
            (col("d_c").cast("double") / (lit(2) * col("m"))), 6).as("q_c"))
        .orderBy(col("community"))
    },

    // Neighbor-Jaccard link prediction over the co-purchase graph (the
    // recommender/record-linkage primitive: score non-adjacent part
    // pairs by shared neighborhood). Same support-thresholded edge
    // relation as graph_triangles; candidates come from a WEDGE join on
    // the shared neighbor. The wedge center is DEGREE-CAPPED
    // (GraphConfig.WedgeCap = 256): a hub neighbor of degree d emits
    // C(d,2) candidate pairs, so hubs are excluded as wedge centers —
    // which is also the statistically right call (a neighbor shared
    // with everyone carries no link-prediction signal; Adamic-Adar
    // formalizes the same intuition as a 1/ln(deg) weight). Degrees in
    // the jaccard denominator still come from the UNCAPPED adjacency,
    // so surviving scores are exact. Fixture max degree is 15 — the cap
    // never binds there (hash-invariant); the planted hot-part fixture
    // is what exercises it. cn >= 2 bounds the emitted pair relation
    // the same way the triangle query's support threshold does.
    Q("graph_jaccard",
      """WITH e0 AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS (SELECT p1 AS u, p2 AS v FROM e0
        |  UNION ALL SELECT p2, p1 FROM e0),
        |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
        |adjc AS (SELECT adj.u, adj.v FROM adj
        |  JOIN deg dv ON dv.u = adj.v WHERE dv.d <= 256),
        |cw AS (SELECT a.u AS x, b.u AS y, CAST(count(*) AS BIGINT) AS cn
        |  FROM adjc a JOIN adjc b ON a.v = b.v AND a.u < b.u
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT x, y, cn,
        |  round(cn / CAST(da.d + db.d - cn AS DOUBLE), 4) AS jaccard,
        |  CASE WHEN e0.p1 IS NULL THEN 0 ELSE 1 END AS is_edge
        |FROM cw
        |JOIN deg da ON da.u = x
        |JOIN deg db ON db.u = y
        |LEFT JOIN e0 ON e0.p1 = x AND e0.p2 = y
        |ORDER BY x, y""") { (s, d) =>
      val e0 = coPurchaseEdges(s, d)
      val adj = e0.select(col("p1").as("u"), col("p2").as("v"))
        .unionByName(e0.select(col("p2").as("u"), col("p1").as("v")))
      val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("d"))
      // cap the wedge CENTER's degree before the self-join (hub guard)
      val keepV = deg.filter(col("d") <= GraphConfig.WedgeCap)
        .select(col("u").as("v"))
      val adjc = adj.join(keepV, Seq("v"), "left_semi")
      val cn = adjc.as("a").join(adjc.as("b"),
          col("a.v") === col("b.v") && col("a.u") < col("b.u"))
        .groupBy(col("a.u").as("x"), col("b.u").as("y"))
        .agg(count(lit(1)).as("cn"))
        .filter(col("cn") >= 2)
      cn.join(deg.select(col("u").as("x"), col("d").as("da")), Seq("x"))
        .join(deg.select(col("u").as("y"), col("d").as("db")), Seq("y"))
        .join(e0.select(col("p1").as("x"), col("p2").as("y"),
          lit(1).as("e")), Seq("x", "y"), "left")
        .select(col("x"), col("y"), col("cn"),
          round(col("cn") / (col("da") + col("db") - col("cn")).cast("double"), 4)
            .as("jaccard"),
          coalesce(col("e"), lit(0)).as("is_edge"))
        .orderBy(col("x"), col("y"))
    },

    // Log2-bucketed degree distribution of the co-purchase graph — the
    // first diagnostic run on any production graph (is it power-law? is
    // there a hub that will skew every join?). The bucket is the BINARY
    // REPRESENTATION LENGTH of the degree (= floor(log2 d) + 1), an
    // exact integer in both engines — floor(log2(d)) via doubles is off
    // by one at exact powers of two when libm rounds ln(8)/ln(2) up.
    // Two keyed rollups over the edge relation; output is bounded by
    // log(max degree).
    Q("graph_degree_dist",
      """WITH e0 AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM (
        |    SELECT p1 AS u FROM e0 UNION ALL SELECT p2 FROM e0) GROUP BY 1)
        |SELECT CAST(length(format('{:b}', d)) AS INT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_nodes,
        |  min(d) AS min_deg, max(d) AS max_deg,
        |  round(sum(d) / CAST(count(*) AS DOUBLE), 4) AS avg_deg
        |FROM deg GROUP BY 1 ORDER BY bucket""") { (s, d) =>
      val e0 = coPurchaseEdges(s, d)
      val deg = e0.select(col("p1").as("u"))
        .unionByName(e0.select(col("p2").as("u")))
        .groupBy(col("u")).agg(count(lit(1)).as("d"))
      deg
        .groupBy(expr("CAST(length(bin(d)) AS INT)").as("bucket"))
        .agg(count(lit(1)).as("n_nodes"),
          min(col("d")).as("min_deg"), max(col("d")).as("max_deg"),
          round(sum(col("d")) / count(lit(1)).cast("double"), 4).as("avg_deg"))
        .orderBy(col("bucket"))
    },

    // Degree assortativity (Newman 2002): Pearson correlation of the
    // endpoint degrees across the directed edge list of the
    // support-≥2 co-purchase graph (same edge derivation as
    // graph_jaccard). Every moment stays an exact BIGINT until the one
    // final double division, so the coefficient is bit-identical on any
    // partitioning; the plan is the edge rollup + two degree-keyed
    // joins the rest of the graph family already runs.
    Q("graph_assortativity",
      """WITH e0 AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS (SELECT p1 AS u, p2 AS v FROM e0
        |  UNION ALL SELECT p2, p1 FROM e0),
        |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
        |p AS (SELECT da.d AS x, db.d AS y FROM adj
        |  JOIN deg da ON da.u = adj.u
        |  JOIN deg db ON db.u = adj.v)
        |SELECT CAST(count(*) AS BIGINT) AS n_edges,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * y) AS BIGINT) AS sxy,
        |  round((count(*) * sum(x * y) - sum(x) * sum(y)) /
        |    (sqrt(count(*) * sum(x * x) - sum(x) * sum(x)) *
        |     sqrt(count(*) * sum(y * y) - sum(y) * sum(y))), 4) AS assortativity
        |FROM p ORDER BY n_edges""") { (s, d) =>
      val e0 = coPurchaseEdges(s, d)
      val adj = e0.select(col("p1").as("u"), col("p2").as("v"))
        .unionByName(e0.select(col("p2").as("u"), col("p1").as("v")))
      val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("d"))
      adj
        .join(deg.select(col("u"), col("d").as("x")), Seq("u"))
        .join(deg.select(col("u").as("v"), col("d").as("y")), Seq("v"))
        .agg(count(lit(1)).as("n_edges"),
          sum(col("x")).as("sx"), sum(col("x") * col("y")).as("sxy"),
          round((count(lit(1)) * sum(col("x") * col("y")) -
              sum(col("x")) * sum(col("y"))) /
            (sqrt(count(lit(1)) * sum(col("x") * col("x")) -
                sum(col("x")) * sum(col("x"))) *
             sqrt(count(lit(1)) * sum(col("y") * col("y")) -
                sum(col("y")) * sum(col("y")))), 4).as("assortativity"))
        .orderBy(col("n_edges"))
    },

    // Bounded-round 3-core peel over the co-purchase graph: 6 rounds of
    // "drop vertices with degree < 3, keep edges between survivors" —
    // the standard dense-substructure screen (community cores, spam
    // rings). The ROUND COUNT is part of the operator contract (both
    // engines run exactly 6 peels, so equality holds whether or not the
    // fixpoint is reached — on this graph 6 rounds converge). Each
    // round is one degree rollup + two semi-joins, localCheckpointed so
    // round N+1 never re-executes rounds 1..N — the CC family's loop
    // discipline; at 100 TB each round is the same edge-keyed shuffle
    // pair as PageRank.
    Q("graph_kcore",
      """WITH e0 AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |a0 AS (SELECT p1 AS u, p2 AS v FROM e0
        |  UNION ALL SELECT p2, p1 FROM e0),
        |k1 AS (SELECT u FROM a0 GROUP BY u HAVING count(*) >= 3),
        |a1 AS (SELECT a.u, a.v FROM a0 a
        |  JOIN k1 x ON a.u = x.u JOIN k1 y ON a.v = y.u),
        |k2 AS (SELECT u FROM a1 GROUP BY u HAVING count(*) >= 3),
        |a2 AS (SELECT a.u, a.v FROM a1 a
        |  JOIN k2 x ON a.u = x.u JOIN k2 y ON a.v = y.u),
        |k3 AS (SELECT u FROM a2 GROUP BY u HAVING count(*) >= 3),
        |a3 AS (SELECT a.u, a.v FROM a2 a
        |  JOIN k3 x ON a.u = x.u JOIN k3 y ON a.v = y.u),
        |k4 AS (SELECT u FROM a3 GROUP BY u HAVING count(*) >= 3),
        |a4 AS (SELECT a.u, a.v FROM a3 a
        |  JOIN k4 x ON a.u = x.u JOIN k4 y ON a.v = y.u),
        |k5 AS (SELECT u FROM a4 GROUP BY u HAVING count(*) >= 3),
        |a5 AS (SELECT a.u, a.v FROM a4 a
        |  JOIN k5 x ON a.u = x.u JOIN k5 y ON a.v = y.u),
        |k6 AS (SELECT u FROM a5 GROUP BY u HAVING count(*) >= 3),
        |a6 AS (SELECT a.u, a.v FROM a5 a
        |  JOIN k6 x ON a.u = x.u JOIN k6 y ON a.v = y.u)
        |SELECT u, CAST(count(*) AS BIGINT) AS deg
        |FROM a6 GROUP BY u ORDER BY u""") { (s0, d) =>
      val s = graft.Sessions.withShufflePartitions(s0, 8)
      val e0 = coPurchaseEdges(s, d)
      var adj = e0.select(col("p1").as("u"), col("p2").as("v"))
        .unionByName(e0.select(col("p2").as("u"), col("p1").as("v")))
        .localCheckpoint(true)
      for (_ <- 1 to 6) {
        val keep = adj.groupBy(col("u")).agg(count(lit(1)).as("c"))
          .filter(col("c") >= 3).select(col("u"))
        adj = adj
          .join(keep, Seq("u"), "left_semi")
          .join(keep.select(col("u").as("v")), Seq("v"), "left_semi")
          .select(col("u"), col("v"))
          .localCheckpoint(true)
      }
      adj.groupBy(col("u")).agg(count(lit(1)).as("deg"))
        .orderBy(col("u"))
    },

    // Adamic-Adar link prediction (Adamic & Adar, "Friends and
    // neighbors on the Web", 2003) over the co-purchase graph: score a
    // candidate pair by Σ_z 1/ln(deg(z)) over its common neighbors —
    // rare shared neighbors count more than hubs. Same
    // degree-capped wedge join as graph_jaccard (adj ⋈ adj on the
    // shared endpoint, centers with deg > GraphConfig.WedgeCap = 256
    // excluded — here the cap is doubly principled, since AA already
    // down-weights hubs by 1/ln(deg): a capped hub contributes ≤
    // 1/ln 256 ≈ 0.18 per wedge while emitting C(d,2) of them); each
    // wedge carries its centre's 1/ln(deg) weight with deg from the
    // UNCAPPED adjacency; per-wedge terms are DECIMAL-quantized so the
    // per-pair sum is order-free. A common neighbour has ≥2 edges, so
    // ln(deg) > 0.
    Q("graph_adamic_adar",
      """WITH e0 AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS (SELECT p1 AS u, p2 AS v FROM e0
        |  UNION ALL SELECT p2, p1 FROM e0),
        |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
        |adjc AS (SELECT adj.u, adj.v FROM adj
        |  JOIN deg dv ON dv.u = adj.v WHERE dv.d <= 256),
        |w AS (SELECT a.u AS x, b.u AS y, a.v AS z
        |  FROM adjc a JOIN adjc b ON a.v = b.v AND a.u < b.u),
        |sc AS (SELECT x, y, CAST(count(*) AS BIGINT) AS cn,
        |    CAST(sum(CAST(1.0 / ln(dz.d) AS DECIMAL(28,12))) AS DOUBLE)
        |      AS aa
        |  FROM w JOIN deg dz ON dz.u = w.z
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT x, y, cn, round(aa, 4) AS adamic_adar
        |FROM sc ORDER BY x, y""") { (s, d) =>
      val e0 = coPurchaseEdges(s, d)
      val adj = e0.select(col("p1").as("u"), col("p2").as("v"))
        .unionByName(e0.select(col("p2").as("u"), col("p1").as("v")))
      val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("d"))
      // hub guard: cap the wedge center's degree before the self-join
      val keepV = deg.filter(col("d") <= GraphConfig.WedgeCap)
        .select(col("u").as("v"))
      val adjc = adj.join(keepV, Seq("v"), "left_semi")
      adjc.as("a").join(adjc.as("b"),
          col("a.v") === col("b.v") && col("a.u") < col("b.u"))
        .select(col("a.u").as("x"), col("b.u").as("y"), col("a.v").as("z"))
        .join(deg.select(col("u").as("z"), col("d")), Seq("z"))
        .groupBy(col("x"), col("y"))
        .agg(count(lit(1)).as("cn"),
          sum((lit(1.0) / log(col("d"))).cast("decimal(28,12)"))
            .cast("double").as("aa"))
        .filter(col("cn") >= 2)
        .select(col("x"), col("y"), col("cn"),
          round(col("aa"), 4).as("adamic_adar"))
        .orderBy(col("x"), col("y"))
    },

    // HITS hubs-and-authorities (Kleinberg 1999, JACM) on the bipartite
    // customer→part purchase graph: customers are hubs, parts are
    // authorities. Two power-method iterations unrolled with ALL-INTEGER
    // arithmetic — auth₁(p) = in-degree, hub₁(c) = Σ auth₁ over c's
    // parts, auth₂(p) = Σ hub₁ over p's buyers — so every intermediate
    // is an exact BIGINT keyed rollup (no float accumulation anywhere);
    // normalization to a score happens once on the final top-20 cut.
    // Each iteration is one edge-keyed join + rollup — the same
    // shuffle shape as PageRank, scan-safe at any graph size.
    Q("graph_hits",
      """WITH e AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |a1 AS (SELECT p, count(*) AS auth1 FROM e GROUP BY 1),
        |h1 AS (SELECT e.c, sum(a1.auth1) AS hub1
        |  FROM e JOIN a1 ON a1.p = e.p GROUP BY 1),
        |a2 AS (SELECT e.p, sum(h1.hub1) AS auth2
        |  FROM e JOIN h1 ON h1.c = e.c GROUP BY 1),
        |tot AS (SELECT sum(auth2) AS t FROM a2),
        |r AS (SELECT p, auth2,
        |    row_number() OVER (ORDER BY auth2 DESC, p) AS rk FROM a2)
        |SELECT CAST(rk AS INT) AS rk, p AS part,
        |  CAST(auth2 AS BIGINT) AS auth_raw,
        |  round(auth2 / CAST(t AS DOUBLE), 6) AS auth_score
        |FROM r CROSS JOIN tot WHERE rk <= 20
        |ORDER BY rk""") { (s, d) =>
      val e = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct()
        // the edge relation feeds both iterations — pin it
        .localCheckpoint(true)
      val a1 = e.groupBy(col("p")).agg(count(lit(1)).as("auth1"))
      val h1 = e.join(a1, Seq("p")).groupBy(col("c"))
        .agg(sum(col("auth1")).as("hub1"))
      val a2 = e.join(h1, Seq("c")).groupBy(col("p"))
        .agg(sum(col("hub1")).as("auth2"))
      val tot = a2.agg(sum(col("auth2")).as("t"))
      // top-20 via orderBy+limit = TakeOrderedAndProject (per-partition
      // heaps, no global sort); the rank window then runs on 20 rows.
      a2.orderBy(col("auth2").desc, col("p")).limit(20)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("auth2").desc, col("p"))))
        .crossJoin(broadcast(tot))
        .select(col("rk").cast("int").as("rk"), col("p").as("part"),
          col("auth2").cast("long").as("auth_raw"),
          round(col("auth2") / col("t").cast("double"), 6).as("auth_score"))
        .orderBy(col("rk"))
    },

    // LABEL-PROPAGATION community detection (Raghavan 2007) over the
    // co-purchase graph — the near-linear community detector run before
    // heavier objectives (modularity/Louvain): every vertex starts as
    // its own label; each synchronous round adopts the most frequent
    // label among neighbors, ties broken by MIN label so the rounds are
    // fully deterministic (classic LPA breaks ties randomly — useless
    // for a reproducible pipeline). 3 unrolled rounds, each ONE
    // neighbor-label count rollup + ONE per-vertex top-1 window, both
    // keyed shuffles on the vertex id — the PageRank/BFS loop shape;
    // the edge relation is the family's derive-once materialization.
    // Output is the community rollup (label = min founding vertex).
    Q("graph_label_propagation",
      """WITH e0 AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS (SELECT p1 AS u, p2 AS v FROM e0
        |  UNION ALL SELECT p2, p1 FROM e0),
        |l0 AS (SELECT DISTINCT u AS v, u AS lab FROM sym),
        |c1 AS (SELECT s.u, l.lab, count(*) AS c FROM sym s
        |  JOIN l0 l ON l.v = s.v GROUP BY 1, 2),
        |l1 AS (SELECT u AS v, lab FROM (SELECT u, lab, row_number() OVER
        |    (PARTITION BY u ORDER BY c DESC, lab) AS rk FROM c1) WHERE rk = 1),
        |c2 AS (SELECT s.u, l.lab, count(*) AS c FROM sym s
        |  JOIN l1 l ON l.v = s.v GROUP BY 1, 2),
        |l2 AS (SELECT u AS v, lab FROM (SELECT u, lab, row_number() OVER
        |    (PARTITION BY u ORDER BY c DESC, lab) AS rk FROM c2) WHERE rk = 1),
        |c3 AS (SELECT s.u, l.lab, count(*) AS c FROM sym s
        |  JOIN l2 l ON l.v = s.v GROUP BY 1, 2),
        |l3 AS (SELECT u AS v, lab FROM (SELECT u, lab, row_number() OVER
        |    (PARTITION BY u ORDER BY c DESC, lab) AS rk FROM c3) WHERE rk = 1)
        |SELECT lab AS community, CAST(count(*) AS BIGINT) AS n_members,
        |  CAST(min(v) AS BIGINT) AS min_member
        |FROM l3 GROUP BY 1 ORDER BY community""") { (s, d) =>
      val e0 = coPurchaseEdges(s, d)
      val sym = e0.select(col("p1").as("u"), col("p2").as("v"))
        .unionByName(e0.select(col("p2").as("u"), col("p1").as("v")))
      val l0 = sym.select(col("u").as("v"), col("u").as("lab")).distinct()
      def propagate(l: DataFrame): DataFrame = {
        val c = sym.join(l, Seq("v"))
          .groupBy(col("u"), col("lab")).agg(count(lit(1)).as("c"))
        val w = Window.partitionBy(col("u"))
          .orderBy(col("c").desc, col("lab"))
        c.withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("u").as("v"), col("lab"))
      }
      propagate(propagate(propagate(l0)))
        .groupBy(col("lab").as("community"))
        .agg(count(lit(1)).as("n_members"), min(col("v")).as("min_member"))
        .orderBy(col("community"))
    },

    // BIPARTITE PROJECTION: the customer↔part purchase relation
    // (graph_hits' bipartite graph) projected onto customers —
    // customers become linked when they share ≥ 3 distinct purchased
    // parts, weighted by shared-part count and part-set Jaccard. This
    // is the co-engagement graph every recommender/segmentation stack
    // derives from its interaction log. The projection join is keyed on
    // the shared PART, and a viral part is a hot key emitting C(d,2)
    // customer pairs — so the wedge is DEGREE-CAPPED: parts bought by
    // more than WedgeCap (256) distinct customers are EXCLUDED from the
    // projection (the standard co-engagement discipline — a part half
    // the corpus bought carries no pairwise signal, and at 100 TB a
    // 1M-customer part alone would emit 5·10¹¹ pairs). The cap is
    // mirrored in the oracle, and the truncation it causes is itself an
    // oracle-verified output: `graph_bipartite_truncation` reports every
    // capped part with its suppressed-pair count, so a production run
    // sees exactly what the cap dropped. At the shipped fixtures the max
    // part degree is 53 (sf0.1), so the cap never binds there; the test
    // that plants a hot part (Round12OpsSpec's `wedge cap excises a
    // planted over-degree part …`) is what exercises it. Customer degrees
    // (for Jaccard) still come from the UNCAPPED relation, so scores of
    // surviving pairs are exact, not conditioned on the cap. Support
    // ≥ 3 bounds the emitted pair relation.
    Q("graph_bipartite_project",
      """WITH cp AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |deg AS (SELECT c, CAST(count(*) AS BIGINT) AS d FROM cp GROUP BY 1),
        |pdeg AS (SELECT p, count(*) AS pd FROM cp GROUP BY 1),
        |cpk AS (SELECT cp.c, cp.p FROM cp
        |  JOIN pdeg ON pdeg.p = cp.p WHERE pdeg.pd <= 256),
        |pr AS (SELECT a.c AS c1, b.c AS c2, CAST(count(*) AS BIGINT) AS shared
        |  FROM cpk a JOIN cpk b ON a.p = b.p AND a.c < b.c
        |  GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT c1, c2, shared,
        |  round(shared / CAST(d1.d + d2.d - shared AS DOUBLE), 4) AS jaccard
        |FROM pr JOIN deg d1 ON d1.c = pr.c1 JOIN deg d2 ON d2.c = pr.c2
        |ORDER BY c1, c2""") { (s, d) =>
      // The distinct (customer, part) relation and the degree-capped
      // wedge projection are both derive-once artifacts (the candidate-
      // edge memo discipline — deterministic per corpus, shared shape
      // with graph_jaccard/adamic_adar's wedge machinery): the warm
      // path pays only the degree joins and the output sort.
      val cp = Derived.memo(s, d, "lineitem", "bipartite-cp") {
        Tables.orders(s, d)
          .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
          .distinct()
      }
      val deg = cp.groupBy(col("c")).agg(count(lit(1)).as("d"))
      val pr = Derived.memo(s, d, "lineitem", "bipartite-pr") {
        // degree-cap the wedge side: drop viral parts (> WedgeCap
        // buyers) BEFORE the self-join — the C(d,2) hot-key guard
        val keepP = cp.groupBy(col("p")).agg(count(lit(1)).as("pd"))
          .filter(col("pd") <= GraphConfig.WedgeCap).select(col("p"))
        val cpk = cp.join(keepP, Seq("p"), "left_semi")
        cpk.as("a").join(cpk.as("b"),
            col("a.p") === col("b.p") && col("a.c") < col("b.c"))
          .groupBy(col("a.c").as("c1"), col("b.c").as("c2"))
          .agg(count(lit(1)).as("shared"))
          .filter(col("shared") >= 3)
      }
      pr.join(deg.select(col("c").as("c1"), col("d").as("d1")), Seq("c1"))
        .join(deg.select(col("c").as("c2"), col("d").as("d2")), Seq("c2"))
        .select(col("c1"), col("c2"), col("shared"),
          round(col("shared") / (col("d1") + col("d2") - col("shared"))
            .cast("double"), 4).as("jaccard"))
        .orderBy(col("c1"), col("c2"))
    },

    // TRUNCATION REPORT for the degree-capped bipartite projection —
    // the audit half of the WedgeCap discipline: every production run
    // of graph_bipartite_project should ship with this row so the cap
    // is never a silent data loss. Reports how many parts the cap
    // excluded, the wedge pairs that suppressed (Σ C(pd,2) — exact
    // integer arithmetic), the surviving wedge volume, and the max part
    // degree seen — on the shipped fixtures n_capped = 0 (max degree 53
    // ≪ 256), which is itself the oracle-verified proof that the cap is
    // hash-invariant there. One rollup over the distinct (customer,
    // part) relation; output is a single row at any SF.
    Q("graph_bipartite_truncation",
      """WITH cp AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |pdeg AS (SELECT p, CAST(count(*) AS BIGINT) AS pd
        |  FROM cp GROUP BY 1)
        |SELECT CAST(256 AS BIGINT) AS wedge_cap,
        |  CAST(count(*) AS BIGINT) AS n_parts,
        |  max(pd) AS max_part_degree,
        |  CAST(sum(CASE WHEN pd > 256 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_capped_parts,
        |  CAST(sum(CASE WHEN pd > 256 THEN (pd * (pd - 1)) // 2 ELSE 0 END)
        |    AS BIGINT) AS pairs_suppressed,
        |  CAST(sum(CASE WHEN pd <= 256 THEN (pd * (pd - 1)) // 2 ELSE 0 END)
        |    AS BIGINT) AS pairs_kept
        |FROM pdeg""") { (s, d) =>
      val cp = Tables.orders(s, d)
        .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct()
      val cap = lit(GraphConfig.WedgeCap.toLong)
      cp.groupBy(col("p")).agg(count(lit(1)).as("pd"))
        .agg(max(cap).as("wedge_cap"),
          count(lit(1)).as("n_parts"),
          max(col("pd")).as("max_part_degree"),
          sum(when(col("pd") > cap, 1L).otherwise(0L)).as("n_capped_parts"),
          sum(when(col("pd") > cap, expr("(pd * (pd - 1)) div 2"))
            .otherwise(0L)).as("pairs_suppressed"),
          sum(when(col("pd") <= cap, expr("(pd * (pd - 1)) div 2"))
            .otherwise(0L)).as("pairs_kept"))
        .select(col("wedge_cap").cast("long").as("wedge_cap"),
          col("n_parts").cast("long").as("n_parts"),
          col("max_part_degree").cast("long").as("max_part_degree"),
          col("n_capped_parts").cast("long").as("n_capped_parts"),
          col("pairs_suppressed").cast("long").as("pairs_suppressed"),
          col("pairs_kept").cast("long").as("pairs_kept"))
    },

    // GRID-DBSCAN over the embedding space (the cell/grid variant of
    // DBSCAN — Ester et al. 1996 semantics, STING/GriDBSCAN-style
    // execution): density clustering that, unlike cluster_kmeans,
    // needs no k and emits NOISE — the right tool for "how many blobs
    // does this embedding space actually have". The 2-D projection is
    // dims 1-2 (at 100 TB, the vec_pca_power projections — the cell
    // machinery is dimension-agnostic). Every step is a rollup or an
    // EQUI-join: points bucket to ε-cells (cell width 0.03125 = 2^-5,
    // a power of two, so the float→cell floor-divide is EXACT in both
    // engines); cells with ≥ 6 points are core; core cells link to adjacent
    // core cells through an exploded 8-neighbor key set (generator +
    // equi-join — no spatial join, no BNLJ); components resolve via
    // the family's large-star/small-star contraction (oracle: the
    // same labeling by recursive closure — cell graph is tiny);
    // border points join their neighborhood's core cells with a
    // deterministic min-rep tie-break; everything else is noise
    // (cluster_id = −1). Output clusters are keyed by their min core
    // vec_id — stable under any partitioning.
    Q("cluster_dbscan_grid",
      """WITH RECURSIVE p AS (SELECT vec_id,
        |    CAST(floor(CAST(embedding[1] AS DOUBLE) / 0.03125) AS BIGINT)
        |      AS cx,
        |    CAST(floor(CAST(embedding[2] AS DOUBLE) / 0.03125) AS BIGINT)
        |      AS cy
        |  FROM embeddings),
        |pc AS (SELECT vec_id, cx, cy,
        |    (cx + 4194304) * 8388608 + (cy + 4194304) AS cell FROM p),
        |cc AS (SELECT cell, cx, cy, count(*) AS n FROM pc GROUP BY 1, 2, 3),
        |core AS (SELECT * FROM cc WHERE n >= 6),
        |nb AS (SELECT c.cell AS u,
        |    (c.cx + o.dx + 4194304) * 8388608 + (c.cy + o.dy + 4194304) AS v
        |  FROM core c, (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,1),
        |    (1,-1),(1,0),(1,1)) o(dx, dy)),
        |ed AS (SELECT n.u, n.v FROM nb n JOIN core k ON k.cell = n.v),
        |sym AS (SELECT u, v FROM ed UNION SELECT v, u FROM ed),
        |reach(u, v) AS (
        |  SELECT cell, cell FROM core
        |  UNION
        |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u),
        |lab AS (SELECT u AS cell, min(v) AS rep FROM reach GROUP BY 1),
        |corepts AS (SELECT pc.vec_id, lab.rep, pc.cell
        |  FROM pc JOIN lab ON lab.cell = pc.cell),
        |cid AS (SELECT rep, min(vec_id) AS cluster_id
        |  FROM corepts GROUP BY 1),
        |border AS (SELECT pc.vec_id, min(lab.rep) AS rep
        |  FROM pc
        |  LEFT JOIN core k0 ON k0.cell = pc.cell
        |  JOIN (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,1),
        |    (1,-1),(1,0),(1,1)) o(dx, dy) ON true
        |  JOIN lab ON lab.cell =
        |    (pc.cx + o.dx + 4194304) * 8388608 + (pc.cy + o.dy + 4194304)
        |  WHERE k0.cell IS NULL
        |  GROUP BY 1),
        |asg AS (SELECT vec_id, rep FROM corepts
        |  UNION ALL SELECT vec_id, rep FROM border),
        |res AS (SELECT a.vec_id, cid.cluster_id FROM asg a
        |  JOIN cid USING (rep)),
        |ncc AS (SELECT cid.cluster_id, CAST(count(*) AS BIGINT)
        |    AS n_core_cells
        |  FROM lab JOIN cid USING (rep) GROUP BY 1),
        |outp AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_points
        |    FROM res GROUP BY 1
        |  UNION ALL
        |  SELECT CAST(-1 AS BIGINT), CAST(count(*) AS BIGINT)
        |  FROM pc WHERE vec_id NOT IN (SELECT vec_id FROM res)
        |  HAVING count(*) > 0)
        |SELECT o.cluster_id, o.n_points,
        |  coalesce(ncc.n_core_cells, 0) AS n_core_cells
        |FROM outp o LEFT JOIN ncc ON ncc.cluster_id = o.cluster_id
        |ORDER BY o.cluster_id""") { (s0, d) =>
      val s = graft.Sessions.withShufflePartitions(s0, 8)
      val pc = s.read.parquet(graft.Tables.path(d, "embeddings"))
        .select(col("vec_id"),
          floor(expr("CAST(element_at(embedding, 1) AS DOUBLE)") / 0.03125)
            .cast("long").as("cx"),
          floor(expr("CAST(element_at(embedding, 2) AS DOUBLE)") / 0.03125)
            .cast("long").as("cy"))
        // cell key packs (cx, cy) into one long: offset 2^22, stride
        // 2^23 → injective for |coordinate| < 2^22 · 0.03125 = 131072,
        // i.e. any embedding this side of astronomically out-of-range
        // (the old ±1000/1e6 packing aliased beyond coordinate ~31)
        .withColumn("cell",
          (col("cx") + 4194304L) * 8388608L + (col("cy") + 4194304L))
      val core = pc.groupBy(col("cell"), col("cx"), col("cy"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= 6)
        .localCheckpoint(true) // feeds edges, border, corepts
      val offsets = expr(
        """array(struct(-1,-1), struct(-1,0), struct(-1,1), struct(0,-1),
          |  struct(0,1), struct(1,-1), struct(1,0), struct(1,1))"""
          .stripMargin)
      val nb = core.select(col("cell").as("u"), col("cx"), col("cy"),
          explode(offsets).as("o"))
        .select(col("u"),
          ((col("cx") + col("o.col1") + 4194304L) * 8388608L
            + (col("cy") + col("o.col2") + 4194304L)).as("v"))
      val ed = nb.join(core.select(col("cell").as("v")), Seq("v"))
        .select(col("u"), col("v"))
      // orient for starLabels (v < u), both directions collapse to one
      val edges = ed.filter(col("v") < col("u"))
        .unionByName(ed.filter(col("u") < col("v"))
          .select(col("v").as("u"), col("u").as("v")))
        .distinct()
        .select(col("u"), col("v"))
        .localCheckpoint(true)
      val lab = core.select(col("cell"))
        .join(starLabels(edges).withColumnRenamed("doc_id", "cell"),
          Seq("cell"), "left_outer")
        .select(col("cell"), coalesce(col("rep"), col("cell")).as("rep"))
      val corepts = pc.join(lab, Seq("cell"))
        .select(col("vec_id"), col("rep"))
      val cid = corepts.groupBy(col("rep"))
        .agg(min(col("vec_id")).as("cluster_id"))
      val border = pc
        .join(core.select(col("cell"), lit(1).as("isCore")),
          Seq("cell"), "left_outer")
        .filter(col("isCore").isNull)
        .select(col("vec_id"), col("cx"), col("cy"),
          explode(offsets).as("o"))
        .select(col("vec_id"),
          ((col("cx") + col("o.col1") + 4194304L) * 8388608L
            + (col("cy") + col("o.col2") + 4194304L)).as("cell"))
        .join(lab, Seq("cell"))
        .groupBy(col("vec_id")).agg(min(col("rep")).as("rep"))
      val res = corepts.unionByName(border).join(cid, Seq("rep"))
        .select(col("vec_id"), col("cluster_id"))
      val ncc = lab.join(cid, Seq("rep"))
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("n_core_cells"))
      val noise = pc.select(col("vec_id"))
        .join(res.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .agg(count(lit(1)).as("n_points"))
        .filter(col("n_points") > 0)
        .select(lit(-1L).as("cluster_id"), col("n_points"))
      val outp = res.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_points"))
        .unionByName(noise)
      outp.join(ncc, Seq("cluster_id"), "left_outer")
        .select(col("cluster_id"),
          col("n_points").cast("long").as("n_points"),
          coalesce(col("n_core_cells"), lit(0L)).cast("long")
            .as("n_core_cells"))
        .orderBy(col("cluster_id"))
    },

    // PERSONALIZED PAGERANK from a seed set — "related items for THESE
    // products": restart mass concentrates on the seeds (every 100th
    // part), 3 unrolled degree-normalized power iterations over the
    // derive-once co-purchase edges. The recommendation twin of
    // graph_pagerank (whose restart is uniform). Determinism is the
    // pagerank discipline: per-edge contributions r/deg quantize to
    // DECIMAL(38,15) before each order-free sum, the output
    // floor-quantizes at 1e-6, and every iteration's input is
    // therefore bit-identical in both engines. Scale: 3 × (edge-keyed
    // join + vertex rollup) — linear in edges, no adjacency matrix,
    // no driver state; the restart vector is a 1-row broadcast scalar.
    Q("graph_ppr",
      """WITH e0 AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT p1, p2 FROM e0 UNION ALL SELECT p2, p1 FROM e0),
        |deg AS (SELECT p1 AS x, CAST(count(*) AS DOUBLE) AS dg
        |  FROM e GROUP BY 1),
        |sn AS (SELECT count(*) AS ns FROM part WHERE p_partkey % 100 = 0),
        |r0 AS (SELECT p_partkey AS x,
        |    CASE WHEN p_partkey % 100 = 0 THEN 1.0 / sn.ns ELSE 0.0 END AS r
        |  FROM part CROSS JOIN sn),
        |m1 AS (SELECT e.p2 AS x,
        |    CAST(sum(CAST(r.r / deg.dg AS DECIMAL(38,15))) AS DOUBLE) AS m
        |  FROM r0 r JOIN e ON e.p1 = r.x JOIN deg ON deg.x = e.p1
        |  WHERE r.r <> 0 GROUP BY 1),
        |r1 AS (SELECT r0.x,
        |    0.15 * (CASE WHEN r0.x % 100 = 0 THEN 1.0 / sn.ns ELSE 0 END)
        |      + 0.85 * coalesce(m1.m, 0.0) AS r
        |  FROM r0 LEFT JOIN m1 ON m1.x = r0.x CROSS JOIN sn),
        |m2 AS (SELECT e.p2 AS x,
        |    CAST(sum(CAST(r.r / deg.dg AS DECIMAL(38,15))) AS DOUBLE) AS m
        |  FROM r1 r JOIN e ON e.p1 = r.x JOIN deg ON deg.x = e.p1
        |  WHERE r.r <> 0 GROUP BY 1),
        |r2 AS (SELECT r1.x,
        |    0.15 * (CASE WHEN r1.x % 100 = 0 THEN 1.0 / sn.ns ELSE 0 END)
        |      + 0.85 * coalesce(m2.m, 0.0) AS r
        |  FROM r1 LEFT JOIN m2 ON m2.x = r1.x CROSS JOIN sn),
        |m3 AS (SELECT e.p2 AS x,
        |    CAST(sum(CAST(r.r / deg.dg AS DECIMAL(38,15))) AS DOUBLE) AS m
        |  FROM r2 r JOIN e ON e.p1 = r.x JOIN deg ON deg.x = e.p1
        |  WHERE r.r <> 0 GROUP BY 1),
        |r3 AS (SELECT r2.x,
        |    0.15 * (CASE WHEN r2.x % 100 = 0 THEN 1.0 / sn.ns ELSE 0 END)
        |      + 0.85 * coalesce(m3.m, 0.0) AS r
        |  FROM r2 LEFT JOIN m3 ON m3.x = r2.x CROSS JOIN sn)
        |SELECT x AS partkey,
        |  CAST(floor(r * 1000000 + 0.5) / 1000000.0 AS DOUBLE) AS score
        |FROM r3 WHERE r > 0 ORDER BY partkey""") { (s0, d) =>
      val s = graft.Sessions.withShufflePartitions(s0, 8)
      val e0 = coPurchaseEdges(s, d)
      val sym = e0.unionByName(e0.select(col("p2").as("p1"), col("p1").as("p2")))
      // Degree-annotated adjacency, persisted ONCE (r15): the loop used
      // to re-join deg onto the edge relation every iteration. Same
      // r / dg IEEE division, same DECIMAL(38,15) quantization — the
      // oracle sums are bit-identical.
      val e = sym
        .join(sym.groupBy(col("p1").as("x"))
            .agg(count(lit(1)).cast("double").as("dg"))
            .select(col("x").as("p1"), col("dg")),
          Seq("p1"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      e.count()
      val parts = Tables.part(s, d).select(col("p_partkey").as("x"))
      val sn = parts.filter(col("x") % 100 === 0)
        .agg(count(lit(1)).as("ns"))
      val seedMass = when(col("x") % 100 === 0,
        lit(1.0) / col("ns")).otherwise(lit(0.0))
      var r = parts.crossJoin(broadcast(sn)).select(col("x"),
        seedMass.as("r"))
      for (_ <- 1 to 3) {
        val contrib = r.filter(col("r") =!= 0)
          .select(col("x").as("p1"), col("r"))
          .join(e, Seq("p1"))
          .groupBy(col("p2").as("x"))
          .agg(expr("CAST(sum(CAST(r / dg AS DECIMAL(38,15))) AS DOUBLE)")
            .as("m"))
        // r's key set IS the part universe (never changes across
        // rounds): completing against `parts` instead of r.select(x)
        // keeps each round's lineage LINEAR — the old form consumed r
        // twice per round (contrib + the key frame), so round k
        // re-evaluated every earlier round's join+rollup ladder 2^k
        // times (guide §2.4; the ts_shesd ladder rule). Same rows,
        // same values — parts is exactly r's key column.
        r = parts.join(contrib, Seq("x"), "left_outer")
          .crossJoin(broadcast(sn))
          .select(col("x"),
            (lit(0.15) * seedMass +
              lit(0.85) * coalesce(col("m"), lit(0.0))).as("r"))
      }
      val out = r.filter(col("r") > 0)
        .select(col("x").as("partkey"),
          expr("CAST(floor(r * 1000000 + 0.5) / 1000000.0 AS DOUBLE)")
            .as("score"))
        .orderBy(col("partkey"))
      val res = out.localCheckpoint(true)
      e.unpersist(blocking = false)
      res
    },

    // INCREMENTAL connected components — the ingest-time form of the CC
    // family: 90% of the candidate edges are the "already-resolved"
    // corpus (labels computed once, then FROZEN), the remaining 10%
    // arrive as a delta, and the delta is resolved by CONTRACTION:
    // each delta edge's endpoints map through the frozen labels, the
    // star contraction then runs on the TINY contracted graph (old
    // components become single vertices), and final labels compose
    // rep∘rep. At 100 TB this is the difference between re-clustering
    // the corpus per ingest batch and touching O(|delta|) state. The
    // oracle is the full-graph recursive closure — the hash gate
    // PROVES incremental ≡ from-scratch, which is the correctness
    // theorem this operator rests on (min-label CC is confluent under
    // edge-order). Output matches dedup_cluster_cc exactly.
    Q("graph_cc_incremental", ccOracleSql) { (s0, d) =>
      val s = graft.Sessions.withShufflePartitions(s0, 8)
      val e = candidateEdges(s, d)
      val deltaE = e.filter((col("u") + col("v")) % 10 >= 9)
      // The frozen-side labels ARE the "already-resolved corpus" of the
      // incremental contract — derive them once per dataset through the
      // parquet memo (the production posture: the old corpus's labels
      // live in storage; an ingest batch only READS them). starLabels'
      // invariant: oriented larger → smaller (v < u); starLabels emits
      // (member, center) for every NON-center member; the centers label
      // themselves — without that union an old component's rep would
      // fall through to the singleton path and detach from its own
      // cluster.
      val oldL = Derived.memo(s, d, "documents", "ccincr-oldl") {
        val oldE = e.filter((col("u") + col("v")) % 10 < 9)
          .select(col("v").as("u"), col("u").as("v"))
          .localCheckpoint(true)
        val oldL0 = starLabels(oldE)
        oldL0
          .unionByName(oldL0.select(col("rep").as("doc_id"), col("rep")))
          .distinct()
      }.localCheckpoint(true)
      val mapped = deltaE
        .join(oldL.select(col("doc_id").as("u"), col("rep").as("ru")),
          Seq("u"), "left_outer")
        .join(oldL.select(col("doc_id").as("v"), col("rep").as("rv")),
          Seq("v"), "left_outer")
        .select(coalesce(col("ru"), col("u")).as("u0"),
          coalesce(col("rv"), col("v")).as("v0"))
        .filter(col("u0") =!= col("v0"))
        .select(greatest(col("u0"), col("v0")).as("u"),
          least(col("u0"), col("v0")).as("v"))
        .distinct()
        // eager checkpoint: starLabels releases every LogicalRDD in its
        // input's lineage after round 1 — cutting the plan here keeps
        // oldL's checkpoint (still needed for the rep∘rep composition)
        // out of reach
        .localCheckpoint(true)
      val repL = starLabels(mapped)
        .select(col("doc_id").as("node"), col("rep").as("rep2"))
        .localCheckpoint(true)
      val oldFinal = oldL
        .join(repL, col("rep") === col("node"), "left_outer")
        .select(col("doc_id"), coalesce(col("rep2"), col("rep")).as("rep"))
      val deltaNodes = deltaE.select(col("u").as("doc_id"))
        .unionByName(deltaE.select(col("v").as("doc_id"))).distinct()
        .join(oldL.select(col("doc_id")), Seq("doc_id"), "left_anti")
      val deltaFinal = deltaNodes
        .join(repL, col("doc_id") === col("node"), "left_outer")
        .select(col("doc_id"), coalesce(col("rep2"), col("doc_id")).as("rep"))
      val edgeLabels = oldFinal.unionByName(deltaFinal)
      val singles = Tables.documents(s, d).select(col("doc_id"))
        .join(edgeLabels.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("doc_id").as("rep"))
      val labels = edgeLabels.unionByName(singles)
      val sizes = labels.groupBy(col("rep")).agg(count(lit(1)).as("nr"))
      labels.join(sizes, Seq("rep"))
        .select(col("doc_id"), col("rep").as("cluster_rep"),
          col("nr").cast("long").as("n_reachable"))
        .orderBy(col("doc_id"))
    },

    // SAMPLED CLOSENESS / HARMONIC CENTRALITY — "how central are
    // these landmark nodes?", the exact-BFS complement to
    // graph_pagerank's diffusion view: a simultaneous multi-seed BFS
    // from four literal landmark parts over the co-purchase graph,
    // TRUNCATED at 8 hops (the literal radius cap — harmonic
    // centrality is well-defined under truncation, and the cap bounds
    // the frontier loop at any scale exactly like the wedge caps
    // bound pair joins). Each round is one equi-join (frontier ⋈
    // edges) + one anti-join (visited), eagerly checkpointed — the
    // rel_recursive_frontier discipline — so first-visit depth IS the
    // BFS distance. Harmonic terms 1/d are DECIMAL-quantized before
    // the order-free sum. Landmark count is the scale knob: K seeds =
    // K× the frontier volume, independent of graph size.
    Q("graph_closeness_sampled",
      """WITH RECURSIVE e AS (
        |  SELECT p1, p2 FROM (
        |    SELECT a.l_partkey AS p1, b.l_partkey AS p2
        |    FROM lineitem a JOIN lineitem b
        |      ON a.l_orderkey = b.l_orderkey
        |      AND a.l_partkey < b.l_partkey
        |    GROUP BY 1, 2 HAVING count(*) >= 2)
        |  UNION ALL SELECT p2, p1 FROM (
        |    SELECT a.l_partkey AS p1, b.l_partkey AS p2
        |    FROM lineitem a JOIN lineitem b
        |      ON a.l_orderkey = b.l_orderkey
        |      AND a.l_partkey < b.l_partkey
        |    GROUP BY 1, 2 HAVING count(*) >= 2)),
        |r(seed, node, d) AS (
        |  SELECT CAST(seed AS BIGINT), CAST(seed AS BIGINT), 0
        |  FROM (VALUES (1), (2), (3), (4)) AS s(seed)
        |  UNION
        |  SELECT r.seed, e.p2, r.d + 1
        |  FROM r JOIN e ON e.p1 = r.node WHERE r.d < 8),
        |m AS (SELECT seed, node, min(d) AS d FROM r GROUP BY 1, 2),
        |g AS (SELECT seed,
        |    count(*) AS n_reached,
        |    CAST(sum(d) AS BIGINT) AS sum_dist,
        |    CAST(sum(CAST(round(1.0 / d, 12) AS DECIMAL(28,12)))
        |      AS DOUBLE) AS h
        |  FROM m WHERE d > 0 GROUP BY 1)
        |SELECT CAST(s.seed AS BIGINT) AS seed,
        |  CAST(coalesce(g.n_reached, 0) AS BIGINT) AS n_reached,
        |  coalesce(g.sum_dist, 0) AS sum_dist,
        |  round(coalesce(g.h, 0), 4) AS harmonic
        |FROM (VALUES (1), (2), (3), (4)) AS s(seed)
        |LEFT JOIN g ON g.seed = s.seed
        |ORDER BY s.seed""") { (s0, d) =>
      val s = graft.Sessions.withShufflePartitions(s0, 8)
      import s.implicits._
      val e0 = coPurchaseEdges(s, d)
      val e = e0
        .unionByName(e0.select(col("p2").as("p1"), col("p1").as("p2")))
        .localCheckpoint(true)
      val seeds = Seq(1L, 2L, 3L, 4L).toDF("seed")
      var visited = seeds
        .select(col("seed"), col("seed").as("node"), lit(0).as("d"))
        .localCheckpoint(true)
      var frontier = visited
      var depth = 0
      while (depth < 8) {
        depth += 1
        val next = frontier
          .join(e, frontier("node") === e("p1"))
          .select(col("seed"), col("p2").as("node")).distinct()
          .join(visited.select(col("seed"), col("node")),
            Seq("seed", "node"), "left_anti")
          .withColumn("d", lit(depth))
          .localCheckpoint(true)
        visited = visited.unionByName(next).localCheckpoint(true)
        frontier = next
      }
      val g = visited.filter(col("d") > 0).groupBy(col("seed"))
        .agg(count(lit(1)).as("n_reached"),
          sum(col("d")).cast("long").as("sum_dist"),
          sum(round(lit(1.0) / col("d"), 12).cast("decimal(28,12)"))
            .cast("double").as("h"))
      seeds.join(g, Seq("seed"), "left_outer")
        .select(col("seed"),
          coalesce(col("n_reached"), lit(0L)).cast("long")
            .as("n_reached"),
          coalesce(col("sum_dist"), lit(0L)).as("sum_dist"),
          round(coalesce(col("h"), lit(0d)), 4).as("harmonic"))
        .orderBy(col("seed"))
    },

    // BUTTERFLY CENSUS of the customer↔part bipartite graph — the
    // 4-cycle (c1–p–c2–q) is the bipartite analogue of the triangle
    // (graph_triangles), and butterfly density is the standard
    // bipartite clustering signal (Wang et al., "Butterfly Counting in
    // Bipartite Networks", VLDB'19 semantics). Counting is EXACT and
    // never materializes cycles: every customer pair with w co-parts
    // carries C(w,2) butterflies and each butterfly has exactly one
    // customer pair, so total = Σ_pairs C(w,2) over the same
    // degree-capped wedge join graph_bipartite_project rides (the cp
    // relation is the family's derive-once parquet memo; the cap is
    // the C(d,2) hot-key guard, its truncation oracle-reported by
    // graph_bipartite_truncation). All arithmetic is integer div —
    // bit-stable anywhere. Output: wedge volume, co-degree-≥2 pair
    // count, butterflies, and butterflies per wedge pair.
    Q("graph_butterflies",
      """WITH cp AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |pdeg AS (SELECT p, count(*) AS pd FROM cp GROUP BY 1),
        |cpk AS (SELECT cp.c, cp.p FROM cp
        |  JOIN pdeg ON pdeg.p = cp.p WHERE pdeg.pd <= 256),
        |wp AS (SELECT CAST(sum((pd * (pd - 1)) // 2) AS BIGINT)
        |    AS wedge_pairs
        |  FROM pdeg WHERE pd <= 256),
        |pr AS (SELECT a.c AS c1, b.c AS c2, count(*) AS w
        |  FROM cpk a JOIN cpk b ON a.p = b.p AND a.c < b.c
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |bf AS (SELECT CAST(count(*) AS BIGINT) AS codeg2_pairs,
        |    CAST(sum((w * (w - 1)) // 2) AS BIGINT) AS butterflies
        |  FROM pr)
        |SELECT wp.wedge_pairs, bf.codeg2_pairs, bf.butterflies,
        |  round(bf.butterflies / CAST(wp.wedge_pairs AS DOUBLE), 4)
        |    AS butterflies_per_wedge
        |FROM wp CROSS JOIN bf""") { (s, d) =>
      val cp = Derived.memo(s, d, "lineitem", "bipartite-cp") {
        Tables.orders(s, d)
          .join(Tables.lineitem(s, d)
              .select(col("l_orderkey"), col("l_partkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
          .distinct()
      }
      val pdeg = cp.groupBy(col("p")).agg(count(lit(1)).as("pd"))
        .filter(col("pd") <= GraphConfig.WedgeCap)
      val wp = pdeg.agg(sum(expr("(pd * (pd - 1)) div 2")).cast("long")
        .as("wedge_pairs"))
      // The w≥2 co-degree pair relation is its own derive-once memo
      // (the ≥3-support bipartite-pr artifact can't serve it): warm
      // runs pay only the final 1-row rollup.
      val pr2 = Derived.memo(s, d, "lineitem", "bipartite-bfly") {
        val cpk = cp.join(pdeg.select(col("p")), Seq("p"), "left_semi")
        cpk.as("a").join(cpk.as("b"),
            col("a.p") === col("b.p") && col("a.c") < col("b.c"))
          .groupBy(col("a.c").as("c1"), col("b.c").as("c2"))
          .agg(count(lit(1)).as("w"))
          .filter(col("w") >= 2)
      }
      val bf = pr2
        .agg(count(lit(1)).cast("long").as("codeg2_pairs"),
          sum(expr("(w * (w - 1)) div 2")).cast("long").as("butterflies"))
      wp.crossJoin(broadcast(bf))
        .select(col("wedge_pairs"), col("codeg2_pairs"), col("butterflies"),
          round(col("butterflies") / col("wedge_pairs").cast("double"), 4)
            .as("butterflies_per_wedge"))
    },

    // RICH-CLUB COEFFICIENT φ(k) of the co-purchase graph (Zhou &
    // Mondragón 2004): do high-degree parts preferentially co-occur
    // with each other? φ(k) = 2·E_k / (N_k(N_k−1)) over the subgraph
    // of vertices with degree > k, at k ∈ {1,2,4,8,16}. The corpus
    // never meets the k grid: edges and degrees collapse FIRST to a
    // degree histogram and a min-endpoint-degree histogram (both
    // bounded by max degree, not corpus size), and the 5-row literal
    // grid scans those — the collapse-then-small-product discipline
    // (ts_trend_mk / eval_kendall_tau precedent). Degrees come from
    // the family's memoized support-≥2 edge relation. The NULL φ when
    // N_k < 2 is the declared degenerate value in both engines.
    Q("graph_rich_club",
      """WITH e0 AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT v, count(*) AS dg FROM (
        |    SELECT p1 AS v FROM e0 UNION ALL SELECT p2 FROM e0)
        |  GROUP BY 1),
        |dh AS (SELECT dg, count(*) AS n_nodes FROM deg GROUP BY 1),
        |em AS (SELECT least(d1.dg, d2.dg) AS md FROM e0
        |  JOIN deg d1 ON d1.v = e0.p1 JOIN deg d2 ON d2.v = e0.p2),
        |eh AS (SELECT md, count(*) AS n_edges FROM em GROUP BY 1),
        |ks AS (SELECT unnest([1, 2, 4, 8, 16]) AS k),
        |nk AS (SELECT ks.k, CAST(coalesce(sum(CASE WHEN dh.dg > ks.k
        |      THEN dh.n_nodes END), 0) AS BIGINT) AS n_k
        |  FROM ks CROSS JOIN dh GROUP BY 1),
        |ek AS (SELECT ks.k, CAST(coalesce(sum(CASE WHEN eh.md > ks.k
        |      THEN eh.n_edges END), 0) AS BIGINT) AS e_k
        |  FROM ks CROSS JOIN eh GROUP BY 1)
        |SELECT nk.k, nk.n_k, ek.e_k,
        |  round(2.0 * ek.e_k / nullif(nk.n_k * (nk.n_k - 1), 0), 4)
        |    AS phi
        |FROM nk JOIN ek ON ek.k = nk.k ORDER BY nk.k""") { (s, d) =>
      import s.implicits._
      val e0 = coPurchaseEdges(s, d)
      val deg = e0.select(col("p1").as("v"))
        .unionByName(e0.select(col("p2").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("dg"))
      val dh = deg.groupBy(col("dg")).agg(count(lit(1)).as("n_nodes"))
      val eh = e0
        .join(deg.select(col("v").as("p1"), col("dg").as("d1")), Seq("p1"))
        .join(deg.select(col("v").as("p2"), col("dg").as("d2")), Seq("p2"))
        .select(least(col("d1"), col("d2")).as("md"))
        .groupBy(col("md")).agg(count(lit(1)).as("n_edges"))
      val ks = Seq(1, 2, 4, 8, 16).toDF("k")
      val nk = broadcast(ks).crossJoin(dh)
        .groupBy(col("k"))
        .agg(coalesce(sum(when(col("dg") > col("k"), col("n_nodes"))),
          lit(0L)).cast("long").as("n_k"))
      val ek = broadcast(ks).crossJoin(eh)
        .groupBy(col("k"))
        .agg(coalesce(sum(when(col("md") > col("k"), col("n_edges"))),
          lit(0L)).cast("long").as("e_k"))
      nk.join(ek, Seq("k"))
        .select(col("k"), col("n_k"), col("e_k"),
          round(lit(2.0) * col("e_k") /
            nullif(col("n_k") * (col("n_k") - 1), lit(0L)).cast("double"),
            4).as("phi"))
        .orderBy(col("k"))
    },

    // 4-TRUSS PEEL CENSUS over the co-purchase graph — the
    // cohesive-subgraph extractor one level above graph_kcore (a
    // k-truss edge sits in ≥ k−2 triangles of the surviving subgraph;
    // trusses are the standard community cores because they demand
    // TRIANGLES, not just degree). Each round is graph_triangles'
    // oriented wedge join scoped to the surviving edge set, a per-edge
    // support rollup, and the support ≥ 2 cut; two unrolled rounds
    // with a converged flag (the full peel iterates to fixpoint — the
    // same unrolled-round convention as ts_shesd/pipe_quality_logit,
    // and round 2 removing nothing IS the fixpoint certificate on this
    // fixture). Edges are the memoized support-thresholded relation;
    // wedge joins are degree-capped by construction of that relation.
    Q("graph_ktruss",
      """WITH e0 AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |t1 AS (SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
        |  FROM e0 e1
        |  JOIN e0 e2 ON e2.p1 = e1.p2
        |  JOIN e0 e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2),
        |s1 AS (SELECT p1, p2, count(*) AS sup FROM (
        |    SELECT a AS p1, b AS p2 FROM t1
        |    UNION ALL SELECT b, c FROM t1
        |    UNION ALL SELECT a, c FROM t1) GROUP BY 1, 2),
        |k1 AS (SELECT e0.p1, e0.p2 FROM e0
        |  JOIN s1 ON s1.p1 = e0.p1 AND s1.p2 = e0.p2 WHERE s1.sup >= 2),
        |t2 AS (SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
        |  FROM k1 e1
        |  JOIN k1 e2 ON e2.p1 = e1.p2
        |  JOIN k1 e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2),
        |s2 AS (SELECT p1, p2, count(*) AS sup FROM (
        |    SELECT a AS p1, b AS p2 FROM t2
        |    UNION ALL SELECT b, c FROM t2
        |    UNION ALL SELECT a, c FROM t2) GROUP BY 1, 2),
        |k2 AS (SELECT k1.p1, k1.p2 FROM k1
        |  JOIN s2 ON s2.p1 = k1.p1 AND s2.p2 = k1.p2 WHERE s2.sup >= 2),
        |c AS (SELECT (SELECT count(*) FROM e0) AS n0,
        |    (SELECT count(*) FROM k1) AS n1,
        |    (SELECT count(*) FROM k2) AS n2)
        |SELECT 1 AS round, CAST(n0 AS BIGINT) AS edges_in,
        |  CAST(n1 AS BIGINT) AS edges_kept,
        |  CAST(n1 = n0 AS BOOLEAN) AS converged FROM c
        |UNION ALL
        |SELECT 2, CAST(n1 AS BIGINT), CAST(n2 AS BIGINT),
        |  CAST(n2 = n1 AS BOOLEAN) FROM c
        |ORDER BY round""") { (s, d) =>
      def tri(e: DataFrame): DataFrame = e.as("e1")
        .join(e.as("e2"), col("e2.p1") === col("e1.p2"))
        .join(e.as("e3"),
          col("e3.p1") === col("e1.p1") && col("e3.p2") === col("e2.p2"))
        .select(col("e1.p1").as("a"), col("e1.p2").as("b"),
          col("e2.p2").as("c"))
      def keep(e: DataFrame): DataFrame = {
        val t = tri(e)
        val sup = t.select(col("a").as("p1"), col("b").as("p2"))
          .unionByName(t.select(col("b").as("p1"), col("c").as("p2")))
          .unionByName(t.select(col("a").as("p1"), col("c").as("p2")))
          .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("sup"))
        e.join(sup.filter(col("sup") >= 2), Seq("p1", "p2"))
          .select(col("p1"), col("p2"))
      }
      val e0 = coPurchaseEdges(s, d).localCheckpoint(true)
      val k1 = keep(e0).localCheckpoint(true)
      val k2 = keep(k1)
      val n0 = e0.agg(count(lit(1)).as("n0"))
      val n1 = k1.agg(count(lit(1)).as("n1"))
      val n2 = k2.agg(count(lit(1)).as("n2"))
      val c = n0.crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      c.select(lit(1).as("round"), col("n0").cast("long").as("edges_in"),
          col("n1").cast("long").as("edges_kept"),
          (col("n1") === col("n0")).as("converged"))
        .unionByName(
          c.select(lit(2).as("round"), col("n1").cast("long").as("edges_in"),
            col("n2").cast("long").as("edges_kept"),
            (col("n2") === col("n1")).as("converged")))
        .orderBy(col("round"))
    })
}
