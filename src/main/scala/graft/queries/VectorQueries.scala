package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over `embeddings` (array<float>, dim 64).
  *
  * Numeric parity: elements are cast to double BEFORE any arithmetic in
  * both engines (float×float then widen would differ); sums of 64 products
  * leave ~1e-15 noise which round(4) absorbs.
  *
  * Scale posture: the brute-force form is the correctness baseline — a
  * broadcast of the (small) query set against a full scan of the corpus,
  * one shuffle for the per-query top-k. The LSH/IVF form is the 100 TB
  * path: a sign-bit bucket key turns all-pairs into an equi-join, after
  * which only same-bucket pairs are scored. Bucketing the corpus by that
  * key (or Spark bucketed tables) makes the probe side shuffle-free.
  */
object VectorQueries {

  /** The IVF index over `d`'s corpus, built once per artifact key. */
  private def ivfIndex(s: SparkSession, d: String): String =
    Derived.once("rt-ivfidx", d, "embeddings")(
      graft.operators.AnnIndex.build(Tables.embeddings(s, d), _))

  /** Shared oracle for the IVF search, parametric in nprobe (the
    * materialized-index variant must return the identical answer; the
    * nprobe=2 variant widens the assign cut to the two nearest cells). */
  private def ivfOracle(nprobe: Int): String =
    ivfOracleSql.replace("WHERE rn = 1", s"WHERE rn <= $nprobe")

  private val ivfOracleSql =
    """WITH ex AS (SELECT vec_id, label,
      |    CAST(generate_subscripts(embedding, 1) AS INT) AS dim,
      |    CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings),
      |c AS (SELECT label, dim, avg(x) AS cx FROM ex GROUP BY label, dim),
      |v AS (SELECT vec_id, label, embedding,
      |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |qa AS (SELECT e.vec_id AS qid, c.label AS cell,
      |    sum((e.x - c.cx) * (e.x - c.cx)) AS d2
      |  FROM ex e JOIN c ON e.dim = c.dim
      |  WHERE e.vec_id < 10
      |  GROUP BY e.vec_id, c.label),
      |assign AS (SELECT qid, cell FROM (
      |    SELECT qid, cell, row_number() OVER (PARTITION BY qid ORDER BY d2, cell) AS rn
      |    FROM qa) WHERE rn = 1),
      |p AS (SELECT a.qid, v2.vec_id AS vid,
      |    list_sum(list_transform(range(1, 65),
      |      i -> CAST(q.embedding[i] AS DOUBLE) * CAST(v2.embedding[i] AS DOUBLE))) / (q.nrm * v2.nrm) AS cos
      |  FROM assign a
      |  JOIN v q ON q.vec_id = a.qid
      |  JOIN v v2 ON v2.label = a.cell AND v2.vec_id <> a.qid),
      |r AS (SELECT qid, vid, cos,
      |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rk
      |  FROM p)
      |SELECT qid, vid, CAST(rk AS INT) AS rk, round(cos, 4) AS cosine
      |FROM r WHERE rk <= 3
      |ORDER BY qid, rk""".stripMargin

  // dot product of two double-cast float arrays — Spark side
  private val dotSpark =
    "aggregate(zip_with(qe, e, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
  private val normSpark =
    "sqrt(aggregate(transform(e, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"

  /** Cosine near-dup edge relation (v1 < v2, cos ≥ 0.4): sign-bucket LSH
    * candidates (equi-join on the 8-bit sign bucket — never all-pairs)
    * scored with the codegen'd double-accumulating float dot over
    * double-fold norms. The norm MUST be the double fold ([[normSpark]]):
    * the DuckDB oracle accumulates list_sum over doubles, and a
    * float-precision denominator can flip an edge at the threshold
    * boundary — which under connected components relabels entire
    * clusters, not one pair. Shared by dedup_cos_neardup and
    * dedup_semantic_cc (ClusterQueries). */
  private[queries] def cosineEdges(s: SparkSession, d: String): DataFrame = {
    import graft.functions.GraftFunctions.dot_f
    val v = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").as("e"))
      .withColumn("nrm", expr(normSpark))
      .withColumn("bucket", expr(
        """CAST(aggregate(transform(sequence(1, 8),
          |  i -> CASE WHEN e[i-1] > CAST(0.0 AS FLOAT) THEN CAST(pow(2, i - 1) AS BIGINT) ELSE CAST(0 AS BIGINT) END),
          |  CAST(0 AS BIGINT), (acc, v) -> acc + v) AS BIGINT)""".stripMargin))
    val a = v.select(col("vec_id").as("v1"), col("e").as("e1"),
      col("nrm").as("n1"), col("bucket"))
    val b = v.select(col("vec_id").as("v2"), col("e").as("e2"),
      col("nrm").as("n2"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("v1") < col("v2"))
      .withColumn("cos", dot_f(col("e1"), col("e2")) / (col("n1") * col("n2")))
      .filter(col("cos") >= 0.4)
      .select(col("v1"), col("v2"), col("cos"))
  }

  /** WIDTH-SCALED banded sign-LSH — the corpus-scale closure of the
    * fixed-8-bit cosineEdges class (COVERAGE.md's 100× known-class row:
    * 256 fixed buckets → density ∝ N → quadratic-within-bucket, killed
    * at 500k vectors). Three disciplines, all IN-PLAN and mirrored in
    * the DuckDB oracles:
    *
    *  1. WIDTH ∝ N (determinism rule 25 made executable): bits per
    *     band r comes from an integer CASE ladder on count(*) —
    *     2^r ≈ N/32, clamped to [8, 16] — so per-band bucket density
    *     stays ~32 at any corpus size instead of growing linearly.
    *     The ladder is pure integer comparison (no log2: libm rounding
    *     at a threshold boundary could disagree across engines).
    *  2. MEAN-CENTERED hyperplanes: bit b of band k is the sign of
    *     (e[d] − μ[d]) for dim d = (b−1)·4 + k, where μ is the per-dim
    *     corpus mean (decimal-quantized sum / n — order-free, both
    *     engines bit-identical). Raw-sign keys saturate when a corpus
    *     drifts positive (every vector lands in the all-ones bucket);
    *     centering puts the hyperplanes through the data centroid, so
    *     buckets split the corpus by geometry wherever it drifts.
    *  3. OR-construction (4 bands) + the standard hot-bucket cap
    *     (> 256 members excised, both dialects): bands multiply recall
    *     for true near-dups (1−(1−p^r)^4 > p^8 at cos ≥ 0.9) while the
    *     cap bounds any adversarial bucket at O(cap²).
    *
    * At the fixture SFs (N ≤ 8192) the ladder sits at r = 8, keeping
    * the exemplar contract the oracles check; at the 100× corpus
    * (500k vectors) r = 14 → 16,384 buckets/band where the legacy
    * 8-bit form was killed at >600 s. */
  private val bandedCap = 256

  private def bandKeySpark(k: Int): String =
    s"""CAST(aggregate(sequence(1, r), CAST(0 AS BIGINT), (acc, b) -> acc +
       |  CASE WHEN CAST(element_at(e, (b-1)*4 + $k + 1) AS DOUBLE)
       |      - element_at(mu, (b-1)*4 + $k + 1) > CAST(0 AS DOUBLE)
       |    THEN shiftleft(CAST(1 AS BIGINT), b-1)
       |    ELSE CAST(0 AS BIGINT) END) AS BIGINT)""".stripMargin

  private def bandKeySql(k: Int): String =
    s"""CAST(list_sum(list_transform(range(1, r + 1), b ->
       |      CASE WHEN CAST(embedding[(b-1)*4 + $k + 1] AS DOUBLE)
       |          - mu[(b-1)*4 + $k + 1] > 0
       |        THEN (CAST(1 AS BIGINT) << (b-1))
       |        ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS k$k""".stripMargin

  /** Shared oracle CTE prefix: corpus count, per-dim centered means,
    * width ladder, the 4 band keys, melted (vec_id, band, key), bucket
    * occupancy, and the cap-surviving membership. */
  private def bandedCtesSql: String = {
    val keys = (0 to 3).map(bandKeySql).mkString(",\n    ")
    val melt = (0 to 3)
      .map(k => s"SELECT vec_id, $k AS band, k$k AS key FROM vk")
      .mkString("\n  UNION ALL ")
    s"""nn AS (SELECT count(*) AS n FROM embeddings),
       |ex AS (SELECT CAST(generate_subscripts(embedding, 1) AS INT) AS dim,
       |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
       |mud AS (SELECT dim,
       |    CAST(sum(CAST(round(x, 10) AS DECIMAL(28,10))) AS DOUBLE)
       |      / count(*) AS mx FROM ex GROUP BY dim),
       |mua AS (SELECT list(mx ORDER BY dim) AS mu FROM mud),
       |v AS (SELECT vec_id, embedding, mu,
       |    sqrt(list_sum(list_transform(embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
       |    CASE WHEN n <= 8192 THEN 8 WHEN n <= 16384 THEN 9
       |      WHEN n <= 32768 THEN 10 WHEN n <= 65536 THEN 11
       |      WHEN n <= 131072 THEN 12 WHEN n <= 262144 THEN 13
       |      WHEN n <= 524288 THEN 14 WHEN n <= 1048576 THEN 15
       |      ELSE 16 END AS r
       |  FROM embeddings CROSS JOIN nn CROSS JOIN mua),
       |vk AS (SELECT vec_id, r,
       |    $keys
       |  FROM v),
       |m AS ($melt),
       |occ AS (SELECT band, key, count(*) AS occ FROM m GROUP BY 1, 2),
       |kept AS (SELECT m.vec_id, m.band, m.key FROM m
       |  JOIN occ ON m.band = occ.band AND m.key = occ.key
       |  WHERE occ.occ <= $bandedCap)""".stripMargin
  }

  /** Spark twin of [[bandedCtesSql]]: returns (v, melted) where v =
    * (vec_id, e, nrm, r) and melted = (vec_id, band, key). */
  private[queries] def bandedParts(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val base = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").as("e"))
    val nn = base.agg(count(lit(1)).as("n"))
    val mu = base.select(posexplode(col("e")).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg((sum(round(col("x").cast("double"), 10).cast("decimal(28,10)"))
        .cast("double") / count(lit(1))).as("mx"))
      .agg(expr(
        "transform(array_sort(collect_list(struct(dim, mx))), s -> s.mx)")
        .as("mu"))
    val v = base.crossJoin(broadcast(nn)).crossJoin(broadcast(mu))
      .withColumn("r",
        when(col("n") <= 8192, 8).when(col("n") <= 16384, 9)
          .when(col("n") <= 32768, 10).when(col("n") <= 65536, 11)
          .when(col("n") <= 131072, 12).when(col("n") <= 262144, 13)
          .when(col("n") <= 524288, 14).when(col("n") <= 1048576, 15)
          .otherwise(16))
      .withColumn("nrm", expr(normSpark))
      .withColumn("keys",
        expr(s"array(${(0 to 3).map(bandKeySpark).mkString(", ")})"))
    // melted is 3 narrow columns per (vector, band) while its lineage
    // holds the corpus scan + the nn/mu broadcasts + the 4-band r-bit
    // centered-sign fold per row — and every consumer reads it under a
    // DIFFERENT key (occupancy rollup on (band,key), both self-join
    // sides, the census rollup), so nothing shares the derivation.
    // One eager checkpoint ⇒ the fold runs once per query instead of
    // 3-4× (guide §2.4). v itself is NOT materialized: it carries the
    // full embedding payload (the "not small relative to its
    // derivation" case — r15's negative-result rule).
    val melted = v.select(col("vec_id"),
      posexplode(col("keys")).as(Seq("band", "key")))
      .localCheckpoint(true)
    (v.select(col("vec_id"), col("e"), col("nrm"), col("r")), melted)
  }

  /** Width-scaled cosine edge relation (v1 < v2, cos ≥ 0.4) over the
    * banded candidates — the 100 TB form of [[cosineEdges]]. */
  private[queries] def cosineEdgesBanded(s: SparkSession, d: String)
      : DataFrame = {
    import graft.functions.GraftFunctions.dot_f
    val (v, melted) = bandedParts(s, d)
    val occ = melted.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("occ"))
    val kept = melted.join(
      occ.filter(col("occ") <= bandedCap).select("band", "key"),
      Seq("band", "key"))
    val cand = kept.select(col("band"), col("key"), col("vec_id").as("v1"))
      .join(kept.select(col("band"), col("key"), col("vec_id").as("v2")),
        Seq("band", "key"))
      .filter(col("v1") < col("v2"))
      .select(col("v1"), col("v2")).distinct()
    cand
      .join(v.select(col("vec_id").as("v1"), col("e").as("e1"),
        col("nrm").as("n1")), Seq("v1"))
      .join(v.select(col("vec_id").as("v2"), col("e").as("e2"),
        col("nrm").as("n2")), Seq("v2"))
      .withColumn("cos",
        dot_f(col("e1"), col("e2")) / (col("n1") * col("n2")))
      .filter(col("cos") >= 0.4)
      .select(col("v1"), col("v2"), col("cos"))
  }

  def all: Seq[Q] = Seq(

    // Per-vector L2 norm — the shared building block, checked on its own.
    Q("sim_norms",
      """SELECT vec_id,
        |  round(sqrt(list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2,
        |  CAST(len(embedding) AS INT) AS dim
        |FROM embeddings
        |ORDER BY vec_id""") { (s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"),
          round(expr("sqrt(aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"), 4).as("l2"),
          size(col("embedding")).as("dim"))
        .orderBy(col("vec_id"))
    },

    // Brute-force cosine top-k: 8 query vectors against the whole corpus.
    Q("sim_knn_brute",
      """WITH v AS (SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM v WHERE vec_id < 8),
        |p AS (SELECT q.qid, v.vec_id AS vid,
        |    list_sum(list_transform(range(1, 65),
        |      i -> CAST(q.qe[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE))) / (q.qn * v.nrm) AS cos
        |  FROM q, v WHERE q.qid <> v.vec_id),
        |r AS (SELECT qid, vid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rk
        |  FROM p)
        |SELECT qid, vid, CAST(rk AS INT) AS rk, round(cos, 4) AS cosine
        |FROM r WHERE rk <= 5
        |ORDER BY qid, rk""") { (s, d) =>
      val v = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("e"))
        .withColumn("nrm", expr(normSpark))
      val q = v.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn"))
      val pairs = v.crossJoin(broadcast(q))
        .filter(col("qid") =!= col("vec_id"))
        .withColumn("cos", expr(dotSpark) / (col("qn") * col("nrm")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
      pairs.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("qid"), col("vec_id").as("vid"), col("rk").cast("int").as("rk"),
          round(col("cos"), 4).as("cosine"))
        .orderBy(col("qid"), col("rk"))
    },

    // Maximum-inner-product search (MIPS): rank by the RAW dot product,
    // no norm division — the recommendation-retrieval mode (user·item
    // score), where a long vector legitimately outranks a better-aligned
    // short one and cosine would be the wrong answer. Same broadcast
    // query set + per-row HOF fold as sim_knn_brute; only the score
    // changes.
    Q("sim_mips_brute",
      """WITH v AS (SELECT vec_id, embedding FROM embeddings),
        |q AS (SELECT vec_id AS qid, embedding AS qe FROM v WHERE vec_id < 8),
        |p AS (SELECT q.qid, v.vec_id AS vid,
        |    list_sum(list_transform(range(1, 65),
        |      i -> CAST(q.qe[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE))) AS dp
        |  FROM q, v WHERE q.qid <> v.vec_id),
        |r AS (SELECT qid, vid, dp,
        |    row_number() OVER (PARTITION BY qid ORDER BY dp DESC, vid) AS rk
        |  FROM p)
        |SELECT qid, vid, CAST(rk AS INT) AS rk, round(dp, 4) AS dot
        |FROM r WHERE rk <= 5
        |ORDER BY qid, rk""") { (s, d) =>
      val v = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("e"))
      val q = v.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("e").as("qe"))
      val pairs = v.crossJoin(broadcast(q))
        .filter(col("qid") =!= col("vec_id"))
        .withColumn("dp", expr(dotSpark))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("dp").desc, col("vec_id"))
      pairs.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("qid"), col("vec_id").as("vid"),
          col("rk").cast("int").as("rk"), round(col("dp"), 4).as("dot"))
        .orderBy(col("qid"), col("rk"))
    },

    // LSH/IVF-style bucketed ANN: sign bits of the first 8 dims form a
    // 256-cell bucket key; neighbors are scored within the query's bucket
    // only (equi-join on the bucket key — the scalable candidate cut).
    Q("sim_knn_lsh",
      """WITH v AS (SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
        |    CAST(list_sum(list_transform(range(1, 9),
        |      i -> CASE WHEN embedding[i] > 0 THEN CAST(pow(2, i - 1) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bucket
        |  FROM embeddings),
        |q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn, bucket FROM v WHERE vec_id < 50),
        |p AS (SELECT q.qid, v.vec_id AS vid,
        |    list_sum(list_transform(range(1, 65),
        |      i -> CAST(q.qe[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE))) / (q.qn * v.nrm) AS cos
        |  FROM q JOIN v ON q.bucket = v.bucket AND q.qid <> v.vec_id),
        |r AS (SELECT qid, vid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rk
        |  FROM p)
        |SELECT qid, vid, CAST(rk AS INT) AS rk, round(cos, 4) AS cosine
        |FROM r WHERE rk <= 3
        |ORDER BY qid, rk""") { (s, d) =>
      val v = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("e"))
        .withColumn("nrm", expr(normSpark))
        .withColumn("bucket", expr(
          """CAST(aggregate(transform(sequence(1, 8),
            |  i -> CASE WHEN e[i-1] > CAST(0.0 AS FLOAT) THEN CAST(pow(2, i - 1) AS BIGINT) ELSE CAST(0 AS BIGINT) END),
            |  CAST(0 AS BIGINT), (acc, v) -> acc + v) AS BIGINT)""".stripMargin))
      val q = v.filter(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("e").as("qe"),
          col("nrm").as("qn"), col("bucket").as("qbucket"))
      val pairs = v.join(broadcast(q),
          col("qbucket") === col("bucket") && col("qid") =!= col("vec_id"))
        .withColumn("cos", expr(dotSpark) / (col("qn") * col("nrm")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
      pairs.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("qid"), col("vec_id").as("vid"), col("rk").cast("int").as("rk"),
          round(col("cos"), 4).as("cosine"))
        .orderBy(col("qid"), col("rk"))
    },

    // IVF search: label centroids act as the trained coarse quantizer;
    // each query probes only its nearest centroid's cell (nprobe=1).
    // The scale path: the corpus is partitioned by cell once, a query
    // touches |corpus|/cells vectors. Assignment uses centroid L2;
    // in-cell ranking uses exact cosine on raw vectors.
    Q("sim_knn_ivf", ivfOracleSql) { (s, d) =>
      import graft.functions.GraftFunctions.dot_f
      val e = Tables.embeddings(s, d)
      val exploded = e.select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .withColumn("x", col("x").cast("double"))
      val centroids = exploded.groupBy(col("label").as("cell"), col("dim"))
        .agg(avg(col("x")).as("cx"))
      val qa = exploded.filter(col("vec_id") < 10)
        .join(broadcast(centroids), Seq("dim"))
        .withColumn("sq", (col("x") - col("cx")) * (col("x") - col("cx")))
        .groupBy(col("vec_id").as("qid"), col("cell"))
        .agg(sum(col("sq")).as("d2"))
      val wAssign = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("d2"), col("cell"))
      val assign = qa.withColumn("rn", row_number().over(wAssign))
        .filter(col("rn") === 1).select(col("qid"), col("cell"))
      val v = e.select(col("vec_id"), col("label"), col("embedding").as("ev"))
        .withColumn("nrm", sqrt(dot_f(col("ev"), col("ev"))))
      val q = assign.join(v.select(col("vec_id").as("qid"), col("ev").as("qe"),
        col("nrm").as("qn")), Seq("qid"))
      val wRank = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
      v.join(broadcast(q), col("label") === col("cell") && col("vec_id") =!= col("qid"))
        .withColumn("cos", dot_f(col("qe"), col("ev")) / (col("qn") * col("nrm")))
        .withColumn("rk", row_number().over(wRank))
        .filter(col("rk") <= 3)
        .select(col("qid"), col("vec_id").as("vid"), col("rk").cast("int").as("rk"),
          round(col("cos"), 4).as("cosine"))
        .orderBy(col("qid"), col("rk"))
    },

    // IVF with nprobe=2: probe the TWO nearest cells per query instead
    // of one — the recall/cost dial every IVF deployment tunes (cells
    // are disjoint, so candidates never duplicate; the scored set just
    // widens). Plan shape is identical: broadcast centroid assign,
    // candidate equi-join on cell, rank on candidates only.
    Q("sim_knn_ivf2",
      """WITH ex AS (SELECT vec_id, label,
        |    CAST(generate_subscripts(embedding, 1) AS INT) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |c AS (SELECT label, dim, avg(x) AS cx FROM ex GROUP BY label, dim),
        |v AS (SELECT vec_id, label, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |qa AS (SELECT e.vec_id AS qid, c.label AS cell,
        |    sum((e.x - c.cx) * (e.x - c.cx)) AS d2
        |  FROM ex e JOIN c ON e.dim = c.dim
        |  WHERE e.vec_id < 10
        |  GROUP BY e.vec_id, c.label),
        |assign AS (SELECT qid, cell FROM (
        |    SELECT qid, cell, row_number() OVER (PARTITION BY qid ORDER BY d2, cell) AS rn
        |    FROM qa) WHERE rn <= 2),
        |p AS (SELECT a.qid, v2.vec_id AS vid,
        |    list_sum(list_transform(range(1, 65),
        |      i -> CAST(q.embedding[i] AS DOUBLE) * CAST(v2.embedding[i] AS DOUBLE))) / (q.nrm * v2.nrm) AS cos
        |  FROM assign a
        |  JOIN v q ON q.vec_id = a.qid
        |  JOIN v v2 ON v2.label = a.cell AND v2.vec_id <> a.qid),
        |r AS (SELECT qid, vid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rk
        |  FROM p)
        |SELECT qid, vid, CAST(rk AS INT) AS rk, round(cos, 4) AS cosine
        |FROM r WHERE rk <= 3
        |ORDER BY qid, rk""") { (s, d) =>
      import graft.functions.GraftFunctions.dot_f
      val e = Tables.embeddings(s, d)
      val exploded = e.select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .withColumn("x", col("x").cast("double"))
      val centroids = exploded.groupBy(col("label").as("cell"), col("dim"))
        .agg(avg(col("x")).as("cx"))
      val qa = exploded.filter(col("vec_id") < 10)
        .join(broadcast(centroids), Seq("dim"))
        .withColumn("sq", (col("x") - col("cx")) * (col("x") - col("cx")))
        .groupBy(col("vec_id").as("qid"), col("cell"))
        .agg(sum(col("sq")).as("d2"))
      val wAssign = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("d2"), col("cell"))
      val assign = qa.withColumn("rn", row_number().over(wAssign))
        .filter(col("rn") <= 2).select(col("qid"), col("cell"))
      val v = e.select(col("vec_id"), col("label"), col("embedding").as("ev"))
        .withColumn("nrm", sqrt(dot_f(col("ev"), col("ev"))))
      val q = assign.join(v.select(col("vec_id").as("qid"), col("ev").as("qe"),
        col("nrm").as("qn")), Seq("qid"))
      val wRank = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
      v.join(broadcast(q), col("label") === col("cell") && col("vec_id") =!= col("qid"))
        .withColumn("cos", dot_f(col("qe"), col("ev")) / (col("qn") * col("nrm")))
        .withColumn("rk", row_number().over(wRank))
        .filter(col("rk") <= 3)
        .select(col("qid"), col("vec_id").as("vid"), col("rk").cast("int").as("rk"),
          round(col("cos"), 4).as("cosine"))
        .orderBy(col("qid"), col("rk"))
    },

    // Embedding-cosine near-duplicate pairs: candidates from the sign-bit
    // bucket equi-join (the LSH cut — never all-pairs), scored and
    // thresholded. This corpus has no planted vector near-dups (max
    // pairwise cosine ≈0.51), so the threshold sits where same-bucket
    // structure shows; the operator is the same at 0.95.
    Q("dedup_cos_neardup",
      """WITH v AS (SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
        |    CAST(list_sum(list_transform(range(1, 9),
        |      i -> CASE WHEN embedding[i] > 0 THEN CAST(pow(2, i - 1) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bucket
        |  FROM embeddings),
        |p AS (SELECT a.vec_id AS v1, b.vec_id AS v2,
        |    list_sum(list_transform(range(1, 65),
        |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) / (a.nrm * b.nrm) AS cos
        |  FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
        |SELECT v1, v2, round(cos, 4) AS cosine
        |FROM p WHERE cos >= 0.4
        |ORDER BY v1, v2""") { (s, d) =>
      cosineEdges(s, d)
        .select(col("v1"), col("v2"), round(col("cos"), 4).as("cosine"))
        .orderBy(col("v1"), col("v2"))
    },

    // Centroid distance per label (embedding aggregation — the IVF
    // "train" step shape: one shuffle keyed by label, array-wise mean).
    Q("sim_label_centroid_dist",
      """WITH ex AS (SELECT vec_id, label,
        |    CAST(generate_subscripts(embedding, 1) AS INT) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |c AS (SELECT label, dim, avg(x) AS cx FROM ex GROUP BY label, dim),
        |d AS (SELECT vec_id, ex.label AS label,
        |    sqrt(sum((x - cx) * (x - cx))) AS dist
        |  FROM ex JOIN c ON ex.label = c.label AND ex.dim = c.dim
        |  GROUP BY vec_id, ex.label)
        |SELECT vec_id, label, round(dist, 4) AS dist
        |FROM d
        |ORDER BY vec_id""") { (s, d) =>
      // Mean per dimension: explode to (label, dim, value) — the shape that
      // scales (no array-of-structs carried through the shuffle).
      val e = Tables.embeddings(s, d)
      val exploded = e.select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .withColumn("x", col("x").cast("double"))
      val centroids = exploded.groupBy(col("label"), col("dim"))
        .agg(avg(col("x")).as("cx"))
      exploded.join(centroids, Seq("label", "dim"))
        .withColumn("sq", (col("x") - col("cx")) * (col("x") - col("cx")))
        .groupBy(col("vec_id"), col("label"))
        .agg(round(sqrt(sum(col("sq"))), 4).as("dist"))
        .orderBy(col("vec_id"))
    },

    // Scalar int8 quantization — the embedding-compression step of a
    // 100 TB vector pipeline (4× smaller, SIMD-friendly dot products):
    // per-vector symmetric scale = max|x|/127, q = ⌊x/scale + 0.5⌋
    // (floor-form in BOTH engines — engine round() tie rules differ),
    // with the reconstruction error as the quality metric. Elementwise
    // higher-order functions only: no shuffle at all before the output
    // sort.
    Q("sim_quantize_int8",
      """SELECT vec_id,
        |  round(scale, 6) AS scale,
        |  CAST(list_max(list_transform(embedding,
        |    x -> abs(CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT)))) AS BIGINT) AS max_q,
        |  round(sqrt(list_sum(list_transform(embedding,
        |    x -> pow(CAST(x AS DOUBLE) - floor(CAST(x AS DOUBLE) / scale + 0.5) * scale, 2)))), 4) AS recon_err
        |FROM (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
        |  FROM embeddings)
        |ORDER BY vec_id""") { (s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("e"))
        .withColumn("scale",
          expr("array_max(transform(e, x -> abs(CAST(x AS DOUBLE)))) / 127.0"))
        .select(col("vec_id"),
          round(col("scale"), 6).as("scale"),
          expr("""CAST(array_max(transform(e,
            |  x -> abs(CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT)))) AS BIGINT)""".stripMargin)
            .as("max_q"),
          round(expr("""sqrt(aggregate(transform(e,
            |  x -> pow(CAST(x AS DOUBLE) - floor(CAST(x AS DOUBLE) / scale + 0.5) * scale, 2)),
            |  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))""".stripMargin), 4)
            .as("recon_err"))
        .orderBy(col("vec_id"))
    },

    // IVF with a MATERIALIZED index — the train-once/probe-many split
    // every production ANN deployment runs. The index is two on-disk
    // relations built at most once per corpus (see Derived):
    // centroids (tiny, broadcast at probe time) and posting lists
    // written PARTITIONED BY cell, so probing a cell is a partition-
    // pruned directory read, not a corpus scan — at 100 TB the probe
    // reads ~1/n_cells of the data by layout alone. Query time does no
    // training: assign the query to its nearest centroid, read that
    // cell's postings, rank. Same answer as sim_knn_ivf (shared oracle),
    // different physical strategy.
    Q("sim_knn_ivf_indexed", ivfOracleSql) { (s, d) =>
      // The reusable index API (graft.operators.AnnIndex): build at most
      // once per corpus, probe many times. The probe's posting read is
      // partition-pruned to the assigned cells (AnnIndexSpec pins the
      // numFiles metric); build cost amortizes across probes — the
      // production serving shape at 100 TB.
      val dir = ivfIndex(s, d)
      val queries = Tables.embeddings(s, d)
        .filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      graft.operators.AnnIndex.probe(s, dir, queries, 3)
    },

    // The same index probed at nprobe=2 — FAISS's recall knob as a
    // first-class operator: the two nearest cells are searched per
    // query, so the partition-pruned read doubles and recall can only
    // improve (candidates are a superset of nprobe=1's; AnnIndexSpec
    // pins the per-rank cosine monotonicity law). The oracle is the
    // same relational IVF with the assign cut widened to rn <= 2.
    Q("sim_knn_ivf_nprobe2", ivfOracle(2)) { (s, d) =>
      val dir = ivfIndex(s, d)
      val queries = Tables.embeddings(s, d)
        .filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      graft.operators.AnnIndex.probe(s, dir, queries, 3, nprobe = 2)
    },

    // Lloyd's k-means over the embedding corpus (k=4, 3 unrolled
    // iterations) — the "train" step a 100 TB vector pipeline runs
    // before IVF indexing / semantic bucketing. Determinism discipline:
    // init = the vectors vec_id<4 (no RNG), per-(vector, centroid)
    // squared distances are DECIMAL(28,12)-quantized sums (order-free
    // under any partitioning), ties in the argmin break on cluster id,
    // and centroid means are exact DECIMAL sums divided as doubles.
    // Scale posture: the corpus-side relation stays (vec_id, dim, x);
    // each iteration is one broadcast join against the k×dim centroid
    // table + two keyed shuffles (assign, recompute) — the textbook
    // distributed-k-means plan, no per-iteration collect.
    Q("cluster_kmeans",
      """WITH ex AS (SELECT vec_id,
        |    CAST(generate_subscripts(embedding, 1) AS INT) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |c0 AS (SELECT CAST(vec_id AS INT) AS cluster, dim, x AS cx
        |  FROM ex WHERE vec_id < 4),
        |d1 AS (SELECT e.vec_id, c.cluster,
        |    sum(CAST((e.x - c.cx) * (e.x - c.cx) AS DECIMAL(28,12))) AS d2
        |  FROM ex e JOIN c0 c ON e.dim = c.dim GROUP BY e.vec_id, c.cluster),
        |a1 AS (SELECT vec_id, cluster FROM (SELECT vec_id, cluster,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
        |  FROM d1) WHERE rn = 1),
        |c1 AS (SELECT a.cluster, e.dim,
        |    CAST(sum(CAST(e.x AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS cx
        |  FROM a1 a JOIN ex e ON e.vec_id = a.vec_id GROUP BY a.cluster, e.dim),
        |d2r AS (SELECT e.vec_id, c.cluster,
        |    sum(CAST((e.x - c.cx) * (e.x - c.cx) AS DECIMAL(28,12))) AS d2
        |  FROM ex e JOIN c1 c ON e.dim = c.dim GROUP BY e.vec_id, c.cluster),
        |a2 AS (SELECT vec_id, cluster FROM (SELECT vec_id, cluster,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
        |  FROM d2r) WHERE rn = 1),
        |c2 AS (SELECT a.cluster, e.dim,
        |    CAST(sum(CAST(e.x AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS cx
        |  FROM a2 a JOIN ex e ON e.vec_id = a.vec_id GROUP BY a.cluster, e.dim),
        |d3 AS (SELECT e.vec_id, c.cluster,
        |    sum(CAST((e.x - c.cx) * (e.x - c.cx) AS DECIMAL(28,12))) AS d2
        |  FROM ex e JOIN c2 c ON e.dim = c.dim GROUP BY e.vec_id, c.cluster),
        |a3 AS (SELECT vec_id, cluster FROM (SELECT vec_id, cluster,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
        |  FROM d3) WHERE rn = 1)
        |SELECT a.vec_id, a.cluster,
        |  CAST(count(*) OVER (PARTITION BY a.cluster) AS BIGINT) AS cluster_n
        |FROM a3 a
        |ORDER BY a.vec_id""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      // The textbook BROADCAST k-means plan (what the oracle's relational
      // join form computes, re-physicalized): the k×dim centroid table
      // rides each round as a 1-row broadcast array, the assignment is a
      // per-row HOF fold (NO dim-keyed join, NO (vec, cluster)-keyed
      // aggregation, NO argmin window — assign is completely
      // shuffle-free), and the only per-round shuffle is the centroid
      // recompute's (cluster, dim) rollup. At 100 TB this is the
      // map-side-assign shape every distributed k-means runs. Numeric
      // parity with the oracle is exact at every step: each squared-
      // difference term is the same double expression cast to
      // DECIMAL(28,12), the fold's decimal sum equals the oracle's
      // grouped decimal sum (decimal addition is exact and associative),
      // and the argmin is array_min over struct(d2, cluster) — struct
      // ordering IS "ORDER BY d2, cluster".
      // Accumulator DECIMAL(30,12) with a per-step cast: plain decimal
      // `+` widens to scale 11 at precision 38 (silent 12th-digit loss);
      // (30,12)+(28,12)→(31,12) stays exact and the cast back is exact
      // at these magnitudes (d2 << 10^18).
      val d2Fold =
        """aggregate(zip_with(embedding, c.cxs,
          |    (x, m) -> CAST((CAST(x AS DOUBLE) - m) * (CAST(x AS DOUBLE) - m)
          |              AS DECIMAL(28,12))),
          |  CAST(0 AS DECIMAL(30,12)),
          |  (acc, v) -> CAST(acc + v AS DECIMAL(30,12)))"""
          .stripMargin
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      // Init: the vectors vec_id<4, as (cluster, cxs array<double>).
      var cArr = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").cast("int").as("cluster"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("cxs"))
        .agg(expr("array_sort(collect_list(struct(cluster, cxs)))").as("cents"))
      def assignOf(cents: DataFrame): DataFrame =
        emb.crossJoin(broadcast(cents))
          .withColumn("best", expr(
            s"""array_min(transform(cents,
               |  c -> named_struct('d2', $d2Fold, 'cl', c.cluster)))""".stripMargin))
          .select(col("vec_id"), col("embedding"), col("best.cl").as("cluster"))
      for (_ <- 1 to 2) { // rounds 1-2 feed a recompute; round 3 is final
        val ct = assignOf(cArr)
          .select(col("cluster"), posexplode(col("embedding")).as(Seq("dim0", "xf")))
          .groupBy(col("cluster"), col("dim0"))
          .agg((sum(col("xf").cast("double").cast("decimal(28,12)")).cast("double") /
            count(lit(1))).as("cx"))
        cArr = ct
          .groupBy(col("cluster"))
          .agg(expr("transform(array_sort(collect_list(struct(dim0, cx))), t -> t.cx)")
            .as("cxs"))
          .agg(expr("array_sort(collect_list(struct(cluster, cxs)))").as("cents"))
          // 1-row centroid table: eager-checkpoint it so round N+1's
          // assign doesn't re-execute rounds 1..N's full lineage (the
          // CC family's per-round pattern, ClusterQueries loop stages).
          .localCheckpoint(true)
      }
      assignOf(cArr)
        .select(col("vec_id"), col("cluster"))
        .withColumn("cluster_n",
          count(lit(1)).over(Window.partitionBy(col("cluster"))))
        .orderBy(col("vec_id"))
    },

    // Product quantization with asymmetric distance computation (Jégou,
    // Douze, Schmid, "Product quantization for nearest neighbor
    // search", TPAMI 2011): the 64-dim space splits into m=4 subspaces
    // of 16 dims; each subspace has a k=16-codeword codebook (the
    // deterministic "training sample" = vectors 0..15 — swapping in
    // k-means-trained codebooks changes no plumbing); every corpus
    // vector compresses to 4 codes (= 4 bytes, a 64× compression of
    // the float payload — what makes billion-vector search RAM-
    // feasible); each query precomputes its 4×16 distance TABLE once,
    // and per-vector scoring is 4 table lookups + 3 adds, never a
    // 64-mult dot. Determinism: every subspace distance is the same
    // sequential 16-term double fold in both engines, then DECIMAL-
    // quantized at 6dp — encode argmin (strict <, earliest codeword)
    // and the ADC sum are exact from there. Scale: codebook = broadcast
    // 1-row array; encode fuses into the scan (per-row fold, NO 64×
    // candidate explode/shuffle); dtab rides the 8-row broadcast query
    // set; per-query top-5 is one window (production would swap in the
    // TopKPerGroup plan for the 8-partition skew).
    Q("sim_pq_adc",
      """WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
        |cbv AS (SELECT vec_id AS cb_id, e AS ce FROM v WHERE vec_id < 16),
        |encd AS (SELECT v.vec_id, b.b, c.cb_id AS c,
        |    CAST(round(list_sum(list_transform(range(1, 17), j ->
        |      (CAST(e[CAST(16*b.b + j AS INT)] AS DOUBLE) - CAST(ce[CAST(16*b.b + j AS INT)] AS DOUBLE)) *
        |      (CAST(e[CAST(16*b.b + j AS INT)] AS DOUBLE) - CAST(ce[CAST(16*b.b + j AS INT)] AS DOUBLE)))), 6)
        |      AS DECIMAL(18,6)) AS dq
        |  FROM v, range(0, 4) b(b), cbv c),
        |codes AS (SELECT vec_id, b, c FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, b
        |      ORDER BY dq, c) AS rk FROM encd) WHERE rk = 1),
        |q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 8),
        |dtab AS (SELECT q.qid, b.b, c.cb_id AS c,
        |    CAST(round(list_sum(list_transform(range(1, 17), j ->
        |      (CAST(qe[CAST(16*b.b + j AS INT)] AS DOUBLE) - CAST(ce[CAST(16*b.b + j AS INT)] AS DOUBLE)) *
        |      (CAST(qe[CAST(16*b.b + j AS INT)] AS DOUBLE) - CAST(ce[CAST(16*b.b + j AS INT)] AS DOUBLE)))), 6)
        |      AS DECIMAL(18,6)) AS dq
        |  FROM q, range(0, 4) b(b), cbv c),
        |adc AS (SELECT d.qid, s.vec_id AS vid, sum(d.dq) AS adc
        |  FROM codes s JOIN dtab d
        |    ON d.b = s.b AND d.c = s.c AND d.qid <> s.vec_id
        |  GROUP BY 1, 2),
        |r AS (SELECT qid, vid, adc, row_number() OVER (PARTITION BY qid
        |    ORDER BY adc, vid) AS rk FROM adc)
        |SELECT qid, vid, CAST(rk AS INT) AS rk,
        |  round(CAST(adc AS DOUBLE), 4) AS adc
        |FROM r WHERE rk <= 5
        |ORDER BY qid, rk""") { (s, d) =>
      def dsub(vec: String): String = {
        val diff = s"(CAST(element_at($vec, CAST(16*b + j AS INT)) AS DOUBLE) - " +
          s"CAST(element_at(element_at(cb, c + 1), CAST(16*b + j AS INT)) AS DOUBLE))"
        s"CAST(round(aggregate(sequence(1, 16), CAST(0.0 AS DOUBLE), " +
          s"(acc, j) -> acc + $diff * $diff), 6) AS DECIMAL(18,6))"
      }
      val v = Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("e"))
      // 1-row codebook: 16 subvector sources ordered by vec_id
      // (array_sort on the id-led struct makes collect_list order moot).
      val cbDf = v.filter(col("vec_id") < 16)
        .agg(expr("transform(array_sort(collect_list(struct(vec_id, e))), t -> t.e)")
          .as("cb"))
      // Each codeword distance is computed ONCE into a struct and the
      // argmin folds over the 16 structs — the previous fold evaluated
      // the 16-dim dsub aggregate twice per codeword (comparison +
      // selected struct), doubling the encode stage's dominant
      // expression (guide §1.2 per-task work). Traversal order and the
      // strict-< first-min tie rule are unchanged, so codes are
      // bit-identical.
      val enc = v.crossJoin(broadcast(cbDf)).withColumn("codes", expr(
        s"""transform(sequence(0, 3), b ->
           |  aggregate(
           |    transform(sequence(0, 15), c ->
           |      named_struct('d', ${dsub("e")}, 'c', c)),
           |    named_struct('d', CAST(999999 AS DECIMAL(18,6)), 'c', -1),
           |    (acc, s) -> IF(s.d < acc.d, s, acc),
           |    acc -> acc.c))""".stripMargin))
        .select(col("vec_id"), col("codes"))
      val qdtab = v.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("e").as("qe"))
        .crossJoin(broadcast(cbDf))
        .withColumn("dtab", expr(
          s"""transform(sequence(0, 3), b ->
             |  transform(sequence(0, 15), c -> ${dsub("qe")}))""".stripMargin))
        .select(col("qid"), col("dtab"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("adc"), col("vec_id"))
      enc.crossJoin(broadcast(qdtab))
        .filter(col("qid") =!= col("vec_id"))
        .withColumn("adc", expr(
          """aggregate(sequence(0, 3), CAST(0 AS DECIMAL(38,6)), (acc, b) ->
            |  CAST(acc + element_at(element_at(dtab, b + 1),
            |    element_at(codes, b + 1) + 1) AS DECIMAL(38,6)))""".stripMargin))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("qid"), col("vec_id").as("vid"), col("rk").cast("int").as("rk"),
          round(col("adc").cast("double"), 4).as("adc"))
        .orderBy(col("qid"), col("rk"))
    },

    // Scalar quantization (SQ8, the FAISS flat-compressed shape): each
    // dim maps to a 0..255 code against per-dim corpus min/max (a 1-row
    // broadcast), and distance becomes an INTEGER sum of squared code
    // deltas — fully exact in both engines, no float accumulation
    // anywhere past the quantization grid itself (whose (x−mn)/(mx−mn)
    // ·255 is one identical IEEE expression). 64 bytes/vector = 4×
    // compression with zero index build — the "just scan it" tier of
    // ANN. Scale: stats = one explode+groupBy pass; encode fuses with
    // the scan; scoring = corpus × broadcast 8-query set; per-query
    // top-5 is one window.
    Q("sim_knn_sq8",
      """WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
        |st AS (SELECT j, min(CAST(e[CAST(j AS INT)] AS DOUBLE)) AS mn,
        |    max(CAST(e[CAST(j AS INT)] AS DOUBLE)) AS mx
        |  FROM v, range(1, 65) r(j) GROUP BY 1),
        |b AS (SELECT list(mn ORDER BY j) AS mns, list(mx ORDER BY j) AS mxs FROM st),
        |codes AS (SELECT vec_id, list_transform(range(1, 65), j ->
        |    CASE WHEN mxs[CAST(j AS INT)] > mns[CAST(j AS INT)] THEN
        |      CAST(floor((CAST(e[CAST(j AS INT)] AS DOUBLE) - mns[CAST(j AS INT)]) /
        |        (mxs[CAST(j AS INT)] - mns[CAST(j AS INT)]) * 255) AS BIGINT)
        |    ELSE 0 END) AS c
        |  FROM v, b),
        |q AS (SELECT vec_id AS qid, c AS qc FROM codes WHERE vec_id < 8),
        |d AS (SELECT qid, s.vec_id AS vid,
        |    list_sum(list_transform(range(1, 65), j ->
        |      (qc[CAST(j AS INT)] - s.c[CAST(j AS INT)]) *
        |      (qc[CAST(j AS INT)] - s.c[CAST(j AS INT)]))) AS dist
        |  FROM codes s, q WHERE s.vec_id <> qid),
        |r AS (SELECT qid, vid, dist, row_number() OVER (PARTITION BY qid
        |    ORDER BY dist, vid) AS rk FROM d)
        |SELECT qid, vid, CAST(rk AS INT) AS rk, CAST(dist AS BIGINT) AS dist
        |FROM r WHERE rk <= 5 ORDER BY qid, rk""") { (s, d) =>
      val v = Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("e"))
      val st = v.select(explode(sequence(lit(1), lit(64))).as("j"), col("e"))
        .select(col("j"), expr("CAST(element_at(e, j) AS DOUBLE)").as("x"))
        .groupBy(col("j")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      val b = st.agg(
        expr("transform(array_sort(collect_list(struct(j, mn))), t -> t.mn)").as("mns"),
        expr("transform(array_sort(collect_list(struct(j, mx))), t -> t.mx)").as("mxs"))
      val codes = v.crossJoin(broadcast(b)).select(col("vec_id"), expr(
        """transform(sequence(1, 64), j ->
          |  IF(element_at(mxs, j) > element_at(mns, j),
          |    CAST(floor((CAST(element_at(e, j) AS DOUBLE) - element_at(mns, j)) /
          |      (element_at(mxs, j) - element_at(mns, j)) * 255) AS BIGINT),
          |    CAST(0 AS BIGINT)))""".stripMargin).as("c"))
      val q = codes.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("c").as("qc"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))
      codes.crossJoin(broadcast(q)).filter(col("qid") =!= col("vec_id"))
        .withColumn("dist", expr(
          """aggregate(zip_with(qc, c, (u, w) -> (u - w) * (u - w)),
            |  CAST(0 AS BIGINT), (acc, t) -> acc + t)""".stripMargin))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("qid"), col("vec_id").as("vid"),
          col("rk").cast("int").as("rk"), col("dist"))
        .orderBy(col("qid"), col("rk"))
    },

    // Top principal component by power iteration (2 unrolled rounds
    // from the exact v₀ = 1/√64 = 0.125 start): each round is ONE scan
    // — per row the projection p = x·v is a sequential 64-term double
    // fold (identical in both engines), the rank-1 contribution p·xⱼ
    // is 8dp-DECIMAL-quantized so the per-dim Σ over rows is exact and
    // partition-count-invariant, and the normalization √Σs² / division
    // are IEEE-exact (sqrt is correctly rounded), so the NEXT round's
    // v arrives bitwise identical in both engines. The unrolled-join
    // shape is the same driver-state-free iteration as PageRank; v
    // rides a 1-row broadcast between rounds. Scale: 2 scans + two
    // 64-row aggregates — 100 TB-safe.
    Q("vec_pca_power",
      """WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
        |c1 AS (SELECT j, sum(CAST(round(
        |      list_sum(list_transform(range(1, 65), k ->
        |        CAST(e[CAST(k AS INT)] AS DOUBLE) * 0.125))
        |      * CAST(e[CAST(j AS INT)] AS DOUBLE), 8) AS DECIMAL(20,8))) AS s
        |  FROM v, range(1, 65) r(j) GROUP BY 1),
        |a1 AS (SELECT list(CAST(s AS DOUBLE) ORDER BY j) AS sv FROM c1),
        |v1 AS (SELECT list_transform(sv, x ->
        |    x / sqrt(list_sum(list_transform(sv, y -> y*y)))) AS v1 FROM a1),
        |c2 AS (SELECT j, sum(CAST(round(
        |      list_sum(list_transform(range(1, 65), k ->
        |        CAST(e[CAST(k AS INT)] AS DOUBLE) * v1[CAST(k AS INT)]))
        |      * CAST(e[CAST(j AS INT)] AS DOUBLE), 8) AS DECIMAL(20,8))) AS s
        |  FROM v, v1, range(1, 65) r(j) GROUP BY 1),
        |a2 AS (SELECT list(CAST(s AS DOUBLE) ORDER BY j) AS sv FROM c2)
        |SELECT CAST(r.j AS INT) AS dim,
        |  round(sv[CAST(r.j AS INT)] /
        |    sqrt(list_sum(list_transform(sv, y -> y*y))), 4) + 0.0 AS loading
        |FROM a2, range(1, 65) r(j) ORDER BY dim""") { (s, d) =>
      val v = Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("e"))
      def sums(withP: DataFrame): DataFrame = withP
        .select(col("p"), col("e"), explode(sequence(lit(1), lit(64))).as("j"))
        .select(col("j"),
          expr("CAST(round(p * CAST(element_at(e, j) AS DOUBLE), 8) AS DECIMAL(20,8))")
            .as("c"))
        .groupBy(col("j")).agg(sum(col("c")).as("s"))
        .agg(expr(
          "transform(array_sort(collect_list(named_struct('j', j, 'sd', CAST(s AS DOUBLE)))), t -> t.sd)")
          .as("sv"))
      val a1 = sums(v.withColumn("p", expr(
        """aggregate(sequence(1, 64), CAST(0.0 AS DOUBLE),
          |  (acc, k) -> acc + CAST(element_at(e, k) AS DOUBLE) * 0.125)""".stripMargin)))
      val v1 = a1.select(expr(
        """transform(sv, x -> x / sqrt(aggregate(sv, CAST(0.0 AS DOUBLE),
          |  (acc, y) -> acc + y * y)))""".stripMargin).as("v1"))
      val a2 = sums(v.crossJoin(broadcast(v1)).withColumn("p", expr(
        """aggregate(sequence(1, 64), CAST(0.0 AS DOUBLE),
          |  (acc, k) -> acc + CAST(element_at(e, k) AS DOUBLE) * element_at(v1, k))""".stripMargin)))
      a2.select(col("sv"), explode(sequence(lit(1), lit(64))).as("dim"))
        .select(col("dim").cast("int").as("dim"),
          (round(expr(
            """element_at(sv, dim) / sqrt(aggregate(sv, CAST(0.0 AS DOUBLE),
              |  (acc, y) -> acc + y * y))""".stripMargin), 4) + 0.0).as("loading"))
        .orderBy(col("dim"))
    },

    // Two-stage retrieval (the production ANN serving shape): a cheap
    // SQ8 integer-distance scan shortlists 20 candidates per query,
    // then exact double-fold cosine re-ranks the shortlist to top-5 —
    // compressed-domain recall plus full-precision precision, without
    // ever running the exact scorer over the corpus. Stage 1 is the
    // sim_knn_sq8 plan (1-row stats broadcast, scan-fused encode,
    // integer L2 — candidate choice is EXACT integer arithmetic, so
    // the candidate sets agree across engines bit-for-bit); stage 2
    // touches only |q|×20 rows, joined back to the float vectors by
    // id. At 100 TB stage 2 is a constant-size relation — the whole
    // cost is one compressed scan.
    Q("sim_rerank",
      """WITH v AS (SELECT vec_id, embedding AS e,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |st AS (SELECT j, min(CAST(e[CAST(j AS INT)] AS DOUBLE)) AS mn,
        |    max(CAST(e[CAST(j AS INT)] AS DOUBLE)) AS mx
        |  FROM v, range(1, 65) r(j) GROUP BY 1),
        |b AS (SELECT list(mn ORDER BY j) AS mns, list(mx ORDER BY j) AS mxs FROM st),
        |codes AS (SELECT vec_id, list_transform(range(1, 65), j ->
        |    CASE WHEN mxs[CAST(j AS INT)] > mns[CAST(j AS INT)] THEN
        |      CAST(floor((CAST(e[CAST(j AS INT)] AS DOUBLE) - mns[CAST(j AS INT)]) /
        |        (mxs[CAST(j AS INT)] - mns[CAST(j AS INT)]) * 255) AS BIGINT)
        |    ELSE 0 END) AS c
        |  FROM v, b),
        |q AS (SELECT vec_id AS qid, c AS qc FROM codes WHERE vec_id < 8),
        |d AS (SELECT qid, s.vec_id AS vid,
        |    list_sum(list_transform(range(1, 65), j ->
        |      (qc[CAST(j AS INT)] - s.c[CAST(j AS INT)]) *
        |      (qc[CAST(j AS INT)] - s.c[CAST(j AS INT)]))) AS dist
        |  FROM codes s, q WHERE s.vec_id <> qid),
        |cand AS (SELECT qid, vid FROM (SELECT qid, vid, row_number() OVER
        |    (PARTITION BY qid ORDER BY dist, vid) AS crk FROM d) WHERE crk <= 20),
        |x AS (SELECT cand.qid, cand.vid,
        |    list_sum(list_transform(range(1, 65), i ->
        |      CAST(qv.e[CAST(i AS INT)] AS DOUBLE) * CAST(sv.e[CAST(i AS INT)] AS DOUBLE)))
        |      / (qv.nrm * sv.nrm) AS cos
        |  FROM cand JOIN v qv ON qv.vec_id = cand.qid
        |    JOIN v sv ON sv.vec_id = cand.vid),
        |r AS (SELECT qid, vid, cos, row_number() OVER (PARTITION BY qid
        |    ORDER BY cos DESC, vid) AS rk FROM x)
        |SELECT qid, vid, CAST(rk AS INT) AS rk, round(cos, 4) AS cosine
        |FROM r WHERE rk <= 5 ORDER BY qid, rk""") { (s, d) =>
      val v = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("e"))
        .withColumn("nrm", expr(normSpark))
      val st = v.select(explode(sequence(lit(1), lit(64))).as("j"), col("e"))
        .select(col("j"), expr("CAST(element_at(e, j) AS DOUBLE)").as("x"))
        .groupBy(col("j")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      val b = st.agg(
        expr("transform(array_sort(collect_list(struct(j, mn))), t -> t.mn)").as("mns"),
        expr("transform(array_sort(collect_list(struct(j, mx))), t -> t.mx)").as("mxs"))
      val codes = v.crossJoin(broadcast(b)).select(col("vec_id"), expr(
        """transform(sequence(1, 64), j ->
          |  IF(element_at(mxs, j) > element_at(mns, j),
          |    CAST(floor((CAST(element_at(e, j) AS DOUBLE) - element_at(mns, j)) /
          |      (element_at(mxs, j) - element_at(mns, j)) * 255) AS BIGINT),
          |    CAST(0 AS BIGINT)))""".stripMargin).as("c"))
      val q = codes.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("c").as("qc"))
      val wc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))
      val cand = codes.crossJoin(broadcast(q))
        .filter(col("qid") =!= col("vec_id"))
        .withColumn("dist", expr(
          """aggregate(zip_with(qc, c, (u, w) -> (u - w) * (u - w)),
            |  CAST(0 AS BIGINT), (acc, t) -> acc + t)""".stripMargin))
        .withColumn("crk", row_number().over(wc))
        .filter(col("crk") <= 20)
        .select(col("qid"), col("vec_id").as("vid"))
      val wr = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cos").desc, col("vid"))
      cand
        .join(v.select(col("vec_id").as("qid"), col("e").as("qe"),
          col("nrm").as("qn")), Seq("qid"))
        .join(v.select(col("vec_id").as("vid"), col("e"),
          col("nrm")), Seq("vid"))
        .withColumn("cos", expr(dotSpark) / (col("qn") * col("nrm")))
        .withColumn("rk", row_number().over(wr))
        .filter(col("rk") <= 5)
        .select(col("qid"), col("vid"), col("rk").cast("int").as("rk"),
          round(col("cos"), 4).as("cosine"))
        .orderBy(col("qid"), col("rk"))
    },

    // Per-class centroids + inter-centroid distance matrix — the
    // class-separability diagnostic of a labeled embedding table (and
    // the "nearest class mean" classifier's model build). Per-(label,
    // dim) means come from 9dp-DECIMAL-quantized sums (partition-
    // count-invariant); the centroid relation is |labels| rows, so the
    // pairwise half is a broadcast self-join over a constant-size
    // side, with the 64-term distance fold on exact centroid doubles
    // (identical IEEE sequence both engines; sqrt correctly rounded).
    // Scale: one explode+groupBy pass over the corpus, then constant
    // work — 100 TB-safe.
    Q("vec_label_centroids",
      """WITH x AS (SELECT label, j,
        |    CAST(round(CAST(e[CAST(j AS INT)] AS DOUBLE), 9) AS DECIMAL(20,9)) AS v
        |  FROM (SELECT label, embedding AS e FROM embeddings), range(1, 65) r(j)),
        |s AS (SELECT label, j, CAST(sum(v) AS DOUBLE) AS sv, count(*) AS n
        |  FROM x GROUP BY 1, 2),
        |c AS (SELECT label, list(sv / n ORDER BY j) AS cent, min(n) AS n
        |  FROM s GROUP BY 1)
        |SELECT a.label AS l1, b.label AS l2,
        |  CAST(a.n AS BIGINT) AS n1, CAST(b.n AS BIGINT) AS n2,
        |  round(sqrt(list_sum(list_transform(range(1, 65), j ->
        |    (a.cent[CAST(j AS INT)] - b.cent[CAST(j AS INT)]) *
        |    (a.cent[CAST(j AS INT)] - b.cent[CAST(j AS INT)])))), 4) AS dist
        |FROM c a JOIN c b ON a.label < b.label
        |ORDER BY l1, l2""") { (s, d) =>
      val x = Tables.embeddings(s, d)
        .select(col("label"), col("embedding").as("e"))
        .select(col("label"), explode(sequence(lit(1), lit(64))).as("j"), col("e"))
        .select(col("label"), col("j"),
          expr("CAST(round(CAST(element_at(e, j) AS DOUBLE), 9) AS DECIMAL(20,9))")
            .as("v"))
      val sdf = x.groupBy(col("label"), col("j"))
        .agg(sum(col("v")).cast("double").as("sv"), count(lit(1)).as("n"))
      val c = sdf.groupBy(col("label"))
        .agg(expr(
          "transform(array_sort(collect_list(named_struct('j', j, 'm', sv / n))), t -> t.m)")
          .as("cent"), min(col("n")).as("n"))
      c.as("a").join(broadcast(c.as("b")), col("a.label") < col("b.label"))
        .select(col("a.label").as("l1"), col("b.label").as("l2"),
          col("a.n").cast("bigint").as("n1"), col("b.n").cast("bigint").as("n2"),
          round(expr(
            """sqrt(aggregate(zip_with(a.cent, b.cent, (u, w) -> (u - w) * (u - w)),
              |  CAST(0.0 AS DOUBLE), (acc, t) -> acc + t))""".stripMargin), 4)
            .as("dist"))
        .orderBy(col("l1"), col("l2"))
    },

    // ANN quality evaluation: recall@5 of the SQ8 compressed scan
    // against exact-cosine ground truth, per query — the measurement
    // loop that gates every index/quantizer change before it ships.
    // Both retrievers are the engine's own (sim_knn_sq8 / sim_knn_brute
    // plans verbatim); the overlap join is on the (qid, vid) key of two
    // 40-row relations and recall = matched/5 is an exact ratio. The
    // LEFT join from the distinct query set keeps 0-recall queries
    // visible. Cost = the two retrievals it measures.
    Q("sim_recall_at_k",
      """WITH v AS (SELECT vec_id, embedding AS e,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |st AS (SELECT j, min(CAST(e[CAST(j AS INT)] AS DOUBLE)) AS mn,
        |    max(CAST(e[CAST(j AS INT)] AS DOUBLE)) AS mx
        |  FROM v, range(1, 65) r(j) GROUP BY 1),
        |b AS (SELECT list(mn ORDER BY j) AS mns, list(mx ORDER BY j) AS mxs FROM st),
        |codes AS (SELECT vec_id, list_transform(range(1, 65), j ->
        |    CASE WHEN mxs[CAST(j AS INT)] > mns[CAST(j AS INT)] THEN
        |      CAST(floor((CAST(e[CAST(j AS INT)] AS DOUBLE) - mns[CAST(j AS INT)]) /
        |        (mxs[CAST(j AS INT)] - mns[CAST(j AS INT)]) * 255) AS BIGINT)
        |    ELSE 0 END) AS c
        |  FROM v, b),
        |q AS (SELECT vec_id AS qid, c AS qc FROM codes WHERE vec_id < 8),
        |d AS (SELECT qid, s.vec_id AS vid,
        |    list_sum(list_transform(range(1, 65), j ->
        |      (qc[CAST(j AS INT)] - s.c[CAST(j AS INT)]) *
        |      (qc[CAST(j AS INT)] - s.c[CAST(j AS INT)]))) AS dist
        |  FROM codes s, q WHERE s.vec_id <> qid),
        |sq AS (SELECT qid, vid FROM (SELECT qid, vid, row_number() OVER
        |    (PARTITION BY qid ORDER BY dist, vid) AS rk FROM d) WHERE rk <= 5),
        |qv AS (SELECT vec_id AS qid, e AS qe, nrm AS qn FROM v WHERE vec_id < 8),
        |p AS (SELECT qv.qid, v.vec_id AS vid,
        |    list_sum(list_transform(range(1, 65), i ->
        |      CAST(qv.qe[CAST(i AS INT)] AS DOUBLE) * CAST(v.e[CAST(i AS INT)] AS DOUBLE)))
        |      / (qv.qn * v.nrm) AS cos
        |  FROM qv, v WHERE qv.qid <> v.vec_id),
        |br AS (SELECT qid, vid FROM (SELECT qid, vid, row_number() OVER
        |    (PARTITION BY qid ORDER BY cos DESC, vid) AS rk FROM p) WHERE rk <= 5),
        |ov AS (SELECT sq.qid, count(*) AS matched FROM sq
        |  JOIN br ON br.qid = sq.qid AND br.vid = sq.vid GROUP BY 1)
        |SELECT q.qid, CAST(coalesce(matched, 0) AS BIGINT) AS matched,
        |  round(coalesce(matched, 0) / 5.0, 4) AS recall
        |FROM (SELECT DISTINCT qid FROM q) q LEFT JOIN ov ON ov.qid = q.qid
        |ORDER BY q.qid""") { (s, d) =>
      val v = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("e"))
        .withColumn("nrm", expr(normSpark))
      val st = v.select(explode(sequence(lit(1), lit(64))).as("j"), col("e"))
        .select(col("j"), expr("CAST(element_at(e, j) AS DOUBLE)").as("x"))
        .groupBy(col("j")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      val b = st.agg(
        expr("transform(array_sort(collect_list(struct(j, mn))), t -> t.mn)").as("mns"),
        expr("transform(array_sort(collect_list(struct(j, mx))), t -> t.mx)").as("mxs"))
      val codes = v.crossJoin(broadcast(b)).select(col("vec_id"), expr(
        """transform(sequence(1, 64), j ->
          |  IF(element_at(mxs, j) > element_at(mns, j),
          |    CAST(floor((CAST(element_at(e, j) AS DOUBLE) - element_at(mns, j)) /
          |      (element_at(mxs, j) - element_at(mns, j)) * 255) AS BIGINT),
          |    CAST(0 AS BIGINT)))""".stripMargin).as("c"))
      // 8 query codes feed the scoring broadcast and the final id frame —
      // each would re-run the SQ8 stats + encode; pin the 8 rows once.
      val q = codes.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("c").as("qc"))
        .localCheckpoint(true)
      val wd = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))
      val sq = codes.crossJoin(broadcast(q))
        .filter(col("qid") =!= col("vec_id"))
        .withColumn("dist", expr(
          """aggregate(zip_with(qc, c, (u, w) -> (u - w) * (u - w)),
            |  CAST(0 AS BIGINT), (acc, t) -> acc + t)""".stripMargin))
        .withColumn("rk", row_number().over(wd))
        .filter(col("rk") <= 5)
        .select(col("qid"), col("vec_id").as("vid"))
      val qv = v.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn"))
      val wb = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
      val br = v.crossJoin(broadcast(qv))
        .filter(col("qid") =!= col("vec_id"))
        .withColumn("cos", expr(dotSpark) / (col("qn") * col("nrm")))
        .withColumn("rk", row_number().over(wb))
        .filter(col("rk") <= 5)
        .select(col("qid"), col("vec_id").as("vid"))
      val ov = sq.join(br, Seq("qid", "vid"))
        .groupBy(col("qid")).agg(count(lit(1)).as("matched"))
      q.select(col("qid")).distinct()
        .join(ov, Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("matched"), lit(0L)).as("matched"),
          round(coalesce(col("matched"), lit(0L)) / 5.0, 4).as("recall"))
        .orderBy(col("qid"))
    },

    // Embedding-space anisotropy profile: the cosine of DETERMINISTIC
    // fixed-lag pairs (vec v with vec v+1000) samples the pairwise
    // distribution linearly — the collapse check (mean cosine → 1 under
    // representation collapse, ≈0 for a healthy isotropic space) run
    // before any ANN index is trusted. The pairing is an equi-join on
    // the shifted id (keyed, never all-pairs), each cosine term is the
    // same double expression both engines fold, the mean is
    // DECIMAL-quantized, and the spread is the exact interpolated
    // p05/p50/p95.
    Q("vec_cosine_profile",
      """WITH v AS (SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |p AS (SELECT a.vec_id AS v1,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        |      / (a.nrm * b.nrm) AS DECIMAL(18,10)) AS cos
        |  FROM v a JOIN v b ON b.vec_id = a.vec_id + 1000)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |  round(CAST(avg(cos) AS DOUBLE), 4) AS mean_cos,
        |  round(quantile_cont(CAST(cos AS DOUBLE), 0.05), 4) AS p05,
        |  round(quantile_cont(CAST(cos AS DOUBLE), 0.50), 4) AS p50,
        |  round(quantile_cont(CAST(cos AS DOUBLE), 0.95), 4) AS p95
        |FROM p ORDER BY n_pairs""") { (s, d) =>
      val v = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("e"))
        .withColumn("nrm", expr(normSpark))
      val a = v.select(col("vec_id").as("v1"), col("e").as("qe"),
        col("nrm").as("qn"))
      val b = v.select((col("vec_id") - 1000L).as("v1"), col("e"),
        col("nrm"))
      a.join(b, Seq("v1"))
        .withColumn("cos",
          (expr(dotSpark) / (col("qn") * col("nrm"))).cast("decimal(18,10)"))
        .agg(count(lit(1)).as("n_pairs"),
          round(avg(col("cos")).cast("double"), 4).as("mean_cos"),
          round(expr("percentile(CAST(cos AS DOUBLE), 0.05)"), 4).as("p05"),
          round(expr("percentile(CAST(cos AS DOUBLE), 0.50)"), 4).as("p50"),
          round(expr("percentile(CAST(cos AS DOUBLE), 0.95)"), 4).as("p95"))
        .orderBy(col("n_pairs"))
    },

    // Per-dimension variance profile of the embedding space — the
    // dead-dimension / scale-imbalance screen run before choosing a
    // quantizer or PCA rank (a near-zero-variance dim carries no
    // signal; a dominant one breaks product-quantizer balance).
    // posexplode → ONE (dim)-keyed hash aggregate of DECIMAL-quantized
    // power sums; output is dim-sized (constant), partition-invariant.
    Q("vec_dim_variance",
      """WITH x AS (SELECT unnest(range(0, len(embedding))) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |a AS (SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS sxx
        |  FROM x GROUP BY 1)
        |SELECT CAST(dim AS INT) AS dim, n,
        |  round(sx / n, 4) AS mean,
        |  round((sxx - sx * sx / n) / n, 4) AS variance
        |FROM a ORDER BY dim""") { (s, d) =>
      Tables.embeddings(s, d)
        .select(posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("dim"), col("x").cast("double").as("x"))
        .groupBy(col("dim"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("x").cast("decimal(28,12)")).cast("double").as("sx"),
          sum((col("x") * col("x")).cast("decimal(28,12)"))
            .cast("double").as("sxx"))
        .select(col("dim").cast("int").as("dim"), col("n"),
          round(col("sx") / col("n"), 4).as("mean"),
          round((col("sxx") - col("sx") * col("sx") / col("n"))
            / col("n"), 4).as("variance"))
        .orderBy(col("dim"))
    },

    // Per-dimension STANDARDIZATION (z-score whitening) of the embedding
    // space — the preprocessing step before cosine-based semantic dedup
    // or PQ training when dimensions carry unequal scales. The per-dim
    // (μ, σ) profile is a 64-row aggregate (broadcast back); per vector
    // we emit the whitened L2 norm and the max |z| — the two scalars
    // that screen for outlier vectors after standardization. Each z²
    // quantizes to DECIMAL(28,12) before the order-free per-vector sum,
    // so the result is partition-invariant; corpus-scale work is one
    // explode + one vec-keyed rollup.
    Q("vec_standardize",
      """WITH x AS (SELECT vec_id, unnest(range(0, len(embedding))) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |a AS (SELECT dim, count(*) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS sxx
        |  FROM x GROUP BY 1),
        |m AS (SELECT dim, sx / n AS mu,
        |    sqrt((sxx - sx * sx / n) / n) AS sd FROM a),
        |z AS (SELECT vec_id,
        |    CAST(((x - mu) / sd) * ((x - mu) / sd) AS DECIMAL(28,12)) AS z2,
        |    CAST(abs((x - mu) / sd) AS DECIMAL(28,12)) AS az
        |  FROM x JOIN m USING (dim))
        |SELECT vec_id,
        |  round(sqrt(CAST(sum(z2) AS DOUBLE)), 4) AS wnorm,
        |  round(CAST(max(az) AS DOUBLE), 4) AS max_abs_z
        |FROM z GROUP BY 1 ORDER BY vec_id""") { (s, d) =>
      val x = Tables.embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "xf")))
        .select(col("vec_id"), col("dim"), col("xf").cast("double").as("x"))
      val a = x.groupBy(col("dim"))
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast("decimal(28,12)")).cast("double").as("sx"),
          sum((col("x") * col("x")).cast("decimal(28,12)"))
            .cast("double").as("sxx"))
      val m = a.select(col("dim"), (col("sx") / col("n")).as("mu"),
        sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / col("n"))
          .as("sd"))
      x.join(broadcast(m), Seq("dim"))
        .select(col("vec_id"),
          (((col("x") - col("mu")) / col("sd")) *
            ((col("x") - col("mu")) / col("sd")))
            .cast("decimal(28,12)").as("z2"),
          abs((col("x") - col("mu")) / col("sd"))
            .cast("decimal(28,12)").as("az"))
        .groupBy(col("vec_id"))
        .agg(round(sqrt(sum(col("z2")).cast("double")), 4).as("wnorm"),
          round(max(col("az")).cast("double"), 4).as("max_abs_z"))
        .orderBy(col("vec_id"))
    },

    // Embedding-drift detector: split the corpus into two deterministic
    // halves (vec_id parity — in production, two ingest windows) and
    // measure the per-label cosine between half centroids. A healthy
    // feature space keeps label centroids stable (cos ≈ 1); drift shows
    // up as a falling cosine long before recall drops. Cosine is
    // scale-invariant, so the "centroids" stay per-(label, half, dim)
    // exact-DECIMAL SUMS from ONE explode pass (the 1/n factors cancel
    // — no division, no float rounding until the final sqrt); everything
    // after runs on label×dim-sized relations.
    Q("vec_centroid_shift",
      """WITH x AS (SELECT label, vec_id % 2 AS half,
        |    unnest(range(0, len(embedding))) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |c AS (SELECT label, half, dim,
        |    CAST(sum(CAST(x AS DECIMAL(28,12))) AS DECIMAL(18,8)) AS m
        |  FROM x GROUP BY 1, 2, 3),
        |p AS (SELECT a.label, a.dim, a.m AS ma, b.m AS mb
        |  FROM c a JOIN c b ON a.label = b.label AND a.dim = b.dim
        |    AND a.half = 0 AND b.half = 1),
        |s AS (SELECT label,
        |    CAST(sum(CAST(ma * mb AS DECIMAL(38,12))) AS DOUBLE) AS dot,
        |    CAST(sum(CAST(ma * ma AS DECIMAL(38,12))) AS DOUBLE) AS na,
        |    CAST(sum(CAST(mb * mb AS DECIMAL(38,12))) AS DOUBLE) AS nb
        |  FROM p GROUP BY 1)
        |SELECT label, round(dot / (sqrt(na) * sqrt(nb)), 4) AS centroid_cos
        |FROM s ORDER BY label""") { (s, d) =>
      val x = Tables.embeddings(s, d)
        .select(col("label"), (col("vec_id") % 2).as("half"),
          posexplode(col("embedding")).as(Seq("dim", "xf")))
        .select(col("label"), col("half"), col("dim"),
          col("xf").cast("double").as("x"))
      val c = x.groupBy(col("label"), col("half"), col("dim"))
        .agg(sum(col("x").cast("decimal(28,12)"))
          .cast("decimal(18,8)").as("m"))
      val a = c.filter(col("half") === 0)
        .select(col("label"), col("dim"), col("m").as("ma"))
      val b = c.filter(col("half") === 1)
        .select(col("label"), col("dim"), col("m").as("mb"))
      a.join(b, Seq("label", "dim"))
        .groupBy(col("label"))
        .agg(
          sum((col("ma") * col("mb")).cast("decimal(38,12)"))
            .cast("double").as("dot"),
          sum((col("ma") * col("ma")).cast("decimal(38,12)"))
            .cast("double").as("na"),
          sum((col("mb") * col("mb")).cast("decimal(38,12)"))
            .cast("double").as("nb"))
        .select(col("label"),
          round(col("dot") / (sqrt(col("na")) * sqrt(col("nb"))), 4)
            .as("centroid_cos"))
        .orderBy(col("label"))
    },

    // MATRYOSHKA truncation evaluation (Kusupati 2022's MRL serving
    // trick: rank with a PREFIX of the embedding, pay prefix-sized
    // compute/storage): recall@5 of cosine top-5 using only the first
    // 16 of 64 dimensions against full-dimension ground truth, per
    // query. This is the measurement that licenses a truncated serving
    // tier — if prefix recall holds, the ANN index stores 4× fewer
    // bytes. Both retrievals are sequential-fold cosines over the same
    // broadcast query set (the sim_knn_brute machinery, once on
    // slice(e, 1, 16)); the overlap join compares two 40-row relations.
    Q("vec_matryoshka_eval",
      """WITH v AS (SELECT vec_id, embedding AS e,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
        |    sqrt(list_sum(list_transform(embedding[1:16],
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS n16
        |  FROM embeddings),
        |qv AS (SELECT vec_id AS qid, e AS qe, nrm AS qn, n16 AS qn16
        |  FROM v WHERE vec_id < 8),
        |pf AS (SELECT qv.qid, v.vec_id AS vid,
        |    list_sum(list_transform(range(1, 65), i ->
        |      CAST(qv.qe[CAST(i AS INT)] AS DOUBLE)
        |        * CAST(v.e[CAST(i AS INT)] AS DOUBLE))) / (qv.qn * v.nrm)
        |      AS cos
        |  FROM qv, v WHERE qv.qid <> v.vec_id),
        |full_k AS (SELECT qid, vid FROM (SELECT qid, vid, row_number()
        |    OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rk FROM pf)
        |  WHERE rk <= 5),
        |pt AS (SELECT qv.qid, v.vec_id AS vid,
        |    list_sum(list_transform(range(1, 17), i ->
        |      CAST(qv.qe[CAST(i AS INT)] AS DOUBLE)
        |        * CAST(v.e[CAST(i AS INT)] AS DOUBLE))) / (qv.qn16 * v.n16)
        |      AS cos
        |  FROM qv, v WHERE qv.qid <> v.vec_id),
        |trunc_k AS (SELECT qid, vid FROM (SELECT qid, vid, row_number()
        |    OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rk FROM pt)
        |  WHERE rk <= 5),
        |ov AS (SELECT f.qid, count(*) AS matched FROM full_k f
        |  JOIN trunc_k t ON t.qid = f.qid AND t.vid = f.vid GROUP BY 1)
        |SELECT q.qid, CAST(coalesce(ov.matched, 0) AS BIGINT) AS matched,
        |  round(coalesce(ov.matched, 0) / 5.0, 4) AS recall
        |FROM (SELECT DISTINCT qid FROM qv) q
        |LEFT JOIN ov ON ov.qid = q.qid
        |ORDER BY q.qid""") { (s, d) =>
      val n16Spark =
        """sqrt(aggregate(transform(slice(e, 1, 16),
          |  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
          |  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))""".stripMargin
      val dot16Spark =
        """aggregate(zip_with(slice(qe, 1, 16), slice(e, 1, 16),
          |  (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
          |  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin
      val v = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("e"))
        .withColumn("nrm", expr(normSpark))
        .withColumn("n16", expr(n16Spark))
      val qv = v.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("e").as("qe"),
          col("nrm").as("qn"), col("n16").as("qn16"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
      val fullK = v.crossJoin(broadcast(qv))
        .filter(col("qid") =!= col("vec_id"))
        .withColumn("cos", expr(dotSpark) / (col("qn") * col("nrm")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("qid"), col("vec_id").as("vid"))
      val truncK = v.crossJoin(broadcast(qv))
        .filter(col("qid") =!= col("vec_id"))
        .withColumn("cos", expr(dot16Spark) / (col("qn16") * col("n16")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("qid"), col("vec_id").as("vid"))
      val ov = fullK.join(truncK, Seq("qid", "vid"))
        .groupBy(col("qid")).agg(count(lit(1)).as("matched"))
      qv.select(col("qid")).distinct()
        .join(ov, Seq("qid"), "left_outer")
        .select(col("qid"),
          coalesce(col("matched"), lit(0L)).as("matched"),
          round(coalesce(col("matched"), lit(0L)) / 5.0, 4).as("recall"))
        .orderBy(col("qid"))
    },

    // IVF RECALL CURVE — recall@3 of the materialized IVF index
    // against exact-cosine ground truth at nprobe ∈ {1, 2}, per query:
    // the measurement that picks the serving nprobe (FAISS's recall
    // knob) before an index ships. Ground truth is the brute-force
    // broadcast-query scan; both probe tiers hit the SAME on-disk
    // index (partition-pruned posting reads — the build amortizes
    // across the curve); recall at nprobe=2 can only improve since its
    // candidate cells are a superset. Output is the per-(qid, nprobe)
    // overlap of two 30-row relations.
    Q("vec_ivf_recall_curve",
      s"""WITH v AS (SELECT vec_id, embedding AS e,
         |    sqrt(list_sum(list_transform(embedding,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
         |  FROM embeddings),
         |qv AS (SELECT vec_id AS qid, e AS qe, nrm AS qn
         |  FROM v WHERE vec_id < 10),
         |pf AS (SELECT qv.qid, v.vec_id AS vid,
         |    list_sum(list_transform(range(1, 65), i ->
         |      CAST(qv.qe[CAST(i AS INT)] AS DOUBLE)
         |        * CAST(v.e[CAST(i AS INT)] AS DOUBLE))) / (qv.qn * v.nrm)
         |      AS cos
         |  FROM qv, v WHERE qv.qid <> v.vec_id),
         |truth AS (SELECT qid, vid FROM (SELECT qid, vid, row_number()
         |    OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rk FROM pf)
         |  WHERE rk <= 3),
         |ivf1 AS (SELECT qid, vid FROM (${ivfOracle(1)}) t1),
         |ivf2 AS (SELECT qid, vid FROM (${ivfOracle(2)}) t2),
         |o1 AS (SELECT t.qid, count(*) AS m FROM truth t
         |  JOIN ivf1 i ON i.qid = t.qid AND i.vid = t.vid GROUP BY 1),
         |o2 AS (SELECT t.qid, count(*) AS m FROM truth t
         |  JOIN ivf2 i ON i.qid = t.qid AND i.vid = t.vid GROUP BY 1),
         |u AS (SELECT q.qid, 1 AS nprobe, coalesce(o1.m, 0) AS matched
         |  FROM (SELECT DISTINCT qid FROM qv) q
         |  LEFT JOIN o1 ON o1.qid = q.qid
         |  UNION ALL
         |  SELECT q.qid, 2 AS nprobe, coalesce(o2.m, 0) AS matched
         |  FROM (SELECT DISTINCT qid FROM qv) q
         |  LEFT JOIN o2 ON o2.qid = q.qid)
         |SELECT qid, CAST(nprobe AS INT) AS nprobe,
         |  CAST(matched AS BIGINT) AS matched,
         |  round(matched / 3.0, 4) AS recall
         |FROM u ORDER BY qid, nprobe""") { (s, d) =>
      val dir = ivfIndex(s, d)
      val v = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("e"))
        .withColumn("nrm", expr(normSpark))
      val qv = v.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("e").as("qe"),
          col("nrm").as("qn"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
      // Ground truth (a full-corpus dot-product pass reduced to
      // 3 rows/query) feeds BOTH nprobe tiers — checkpoint it so the
      // brute-force pass runs once, not once per tier (guide §2.4).
      val truth = v.crossJoin(broadcast(qv))
        .filter(col("qid") =!= col("vec_id"))
        .withColumn("cos", expr(dotSpark) / (col("qn") * col("nrm")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("qid"), col("vec_id").as("vid"))
        .localCheckpoint(true)
      val queries = Tables.embeddings(s, d)
        .filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      def tier(np: Int): DataFrame = {
        val got = graft.operators.AnnIndex.probe(s, dir, queries, 3, np)
          .select(col("qid"), col("vid"))
        val ov = truth.join(got, Seq("qid", "vid"))
          .groupBy(col("qid")).agg(count(lit(1)).as("m"))
        queries.select(col("qid")).distinct()
          .join(ov, Seq("qid"), "left_outer")
          .select(col("qid"), lit(np).as("nprobe"),
            coalesce(col("m"), lit(0L)).as("matched"))
      }
      tier(1).unionByName(tier(2))
        .select(col("qid"), col("nprobe").cast("int").as("nprobe"),
          col("matched"),
          round(col("matched") / 3.0, 4).as("recall"))
        .orderBy(col("qid"), col("nprobe"))
    },

    // IVF CELL-BALANCE audit — the layout check run before freezing an
    // ANN index: per cell, posting count and share, plus the skew
    // factor vs the ideal N/k. A hot cell is the probe-side straggler
    // (every query assigned there scans it all) and the partition-size
    // ceiling at write time; past ~2-3× ideal the cell wants splitting
    // (train more centroids) exactly like any hot shuffle key. One
    // vocab-sized rollup + a 1-row broadcast of (N, k).
    Q("sim_index_balance",
      """WITH c AS (SELECT label AS cell, CAST(count(*) AS BIGINT) AS n
        |  FROM embeddings GROUP BY 1),
        |t AS (SELECT sum(n) AS total, count(*) AS k FROM c)
        |SELECT cell, n,
        |  round(n / CAST(t.total AS DOUBLE), 4) AS share,
        |  round(n * t.k / CAST(t.total AS DOUBLE), 4) AS skew_vs_ideal
        |FROM c CROSS JOIN t ORDER BY cell""") { (s, d) =>
      val c = Tables.embeddings(s, d)
        .groupBy(col("label").as("cell")).agg(count(lit(1)).as("n"))
      val t = c.agg(sum(col("n")).as("total"), count(lit(1)).as("k"))
      c.crossJoin(broadcast(t))
        .select(col("cell"), col("n"),
          round(col("n") / col("total").cast("double"), 4).as("share"),
          round(col("n") * col("k") / col("total").cast("double"), 4)
            .as("skew_vs_ideal"))
        .orderBy(col("cell"))
    },

    // PER-DIMENSION CLIPPING AUDIT — exact p05/p95 per embedding
    // dimension plus the fraction of values falling outside the band:
    // the preprocessing report behind quantile-clipping (winsorizing)
    // an embedding space before SQ8/PQ quantization, where a single
    // heavy-tailed dimension wrecks the codebook range. Exact
    // percentile is safe cross-engine here because both implement the
    // same (n−1)·p linear interpolation over identical float-exact
    // doubles, and the clip comparison is against that interpolated
    // value — strict inequalities can't straddle adjacent sorted
    // values. Scale: explode + 64-group percentile; at 100 TB the
    // exact percentile swaps for the KLL/approx sketch (sketch_kll
    // _quantiles) with the same downstream algebra.
    Q("vec_clip_outliers",
      """WITH x AS (SELECT unnest(range(0, len(embedding))) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |q AS (SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |    quantile_cont(x, 0.05) AS p05,
        |    quantile_cont(x, 0.95) AS p95
        |  FROM x GROUP BY 1)
        |SELECT CAST(q.dim AS INT) AS dim, q.n,
        |  round(q.p05, 4) AS p05, round(q.p95, 4) AS p95,
        |  CAST(sum(CASE WHEN x.x < q.p05 OR x.x > q.p95
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
        |  round(sum(CASE WHEN x.x < q.p05 OR x.x > q.p95
        |    THEN 1 ELSE 0 END) / CAST(q.n AS DOUBLE), 4) AS clip_frac
        |FROM x JOIN q ON q.dim = x.dim
        |GROUP BY q.dim, q.n, q.p05, q.p95
        |ORDER BY dim""") { (s, d) =>
      val x = Tables.embeddings(s, d)
        .select(posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("dim"), col("x").cast("double").as("x"))
      val q = x.groupBy(col("dim"))
        .agg(count(lit(1)).cast("long").as("n"),
          expr("percentile(x, 0.05)").as("p05"),
          expr("percentile(x, 0.95)").as("p95"))
      x.join(broadcast(q), Seq("dim"))
        .groupBy(col("dim"), col("n"), col("p05"), col("p95"))
        .agg(sum(when(col("x") < col("p05") || col("x") > col("p95"), 1)
            .otherwise(0)).cast("long").as("n_clipped"),
          round(sum(when(col("x") < col("p05") || col("x") > col("p95"), 1)
            .otherwise(0)) / col("n").cast("double"), 4).as("clip_frac"))
        .select(col("dim").cast("int").as("dim"), col("n"),
          round(col("p05"), 4).as("p05"), round(col("p95"), 4).as("p95"),
          col("n_clipped"), col("clip_frac"))
        .orderBy(col("dim"))
    },

    // EMBEDDING NORM CENSUS — the first audit run on any vector drop:
    // are these normalized (cosine-ready), and are there zero/degenerate
    // vectors that will NaN a cosine or collapse an IVF cell? Per-vector
    // L2 norm (one aggregate HOF pass, per-term squares quantized to
    // DECIMAL before the order-free sum so the norm is bit-stable on
    // any partitioning), bucketed to a 0.25-wide histogram, plus the
    // unit-norm fraction (|‖v‖−1| ≤ 0.01) and the zero-vector count —
    // the three numbers that decide whether sim_* queries may skip
    // re-normalization. One corpus pass; output bounded by the norm
    // range.
    Q("vec_norm_census",
      """WITH n AS (SELECT vec_id, label,
        |    sqrt(CAST(list_sum(list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE), 12)
        |        AS DECIMAL(28,12)))) AS DOUBLE)) AS nrm
        |  FROM embeddings),
        |b AS (SELECT CAST(floor(nrm / 0.25) AS BIGINT) AS bucket,
        |    count(*) AS c,
        |    sum(CASE WHEN abs(nrm - 1) <= 0.01 THEN 1 ELSE 0 END) AS u,
        |    sum(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS z
        |  FROM n GROUP BY 1),
        |t AS (SELECT sum(c) AS tc FROM b)
        |SELECT bucket, CAST(round(bucket * 0.25, 2) AS DOUBLE) AS norm_lo,
        |  CAST(c AS BIGINT) AS n_vectors,
        |  round(c / CAST(t.tc AS DOUBLE), 4) AS frac,
        |  CAST(u AS BIGINT) AS n_unit, CAST(z AS BIGINT) AS n_zero
        |FROM b CROSS JOIN t ORDER BY bucket""") { (s, d) =>
      val n = s.read.parquet(graft.Tables.path(d, "embeddings"))
        .select(col("vec_id"), col("label"),
          sqrt(expr(
            """CAST(aggregate(embedding, CAST(0 AS DECIMAL(28,12)),
              |  (acc, x) -> CAST(acc + CAST(round(CAST(x AS DOUBLE)
              |    * CAST(x AS DOUBLE), 12) AS DECIMAL(28,12))
              |    AS DECIMAL(28,12)),
              |  acc -> acc) AS DOUBLE)""".stripMargin)).as("nrm"))
      val b = n.groupBy(floor(col("nrm") / 0.25).cast("long").as("bucket"))
        .agg(count(lit(1)).as("c"),
          sum(when(abs(col("nrm") - 1) <= 0.01, 1).otherwise(0)).as("u"),
          sum(when(col("nrm") === 0, 1).otherwise(0)).as("z"))
      val t = b.agg(sum(col("c")).as("tc"))
      b.crossJoin(broadcast(t))
        .select(col("bucket"),
          round(col("bucket") * 0.25, 2).as("norm_lo"),
          col("c").cast("long").as("n_vectors"),
          round(col("c") / col("tc").cast("double"), 4).as("frac"),
          col("u").cast("long").as("n_unit"),
          col("z").cast("long").as("n_zero"))
        .orderBy(col("bucket"))
    },

    // CLIP-SCORE pair filtering (the LAION/DataComp admission gate for
    // image-text pairs): every candidate pair gets a cross-modal
    // alignment score — cosine between the text-tower and image-tower
    // embeddings — and the corpus keeps only pairs above a threshold.
    // The IMAGE tower is the embeddings table (first 8 dims); the TEXT
    // tower is STUBBED deterministically from md5 bytes of the text
    // (this container ships no encoder — the stub preserves the real
    // dataflow: one embedding per row, join on pair id, per-row cosine,
    // threshold histogram; a production run swaps the stub for a batch
    // encoder behind the same column). Cosine is a FIXED-ORDER 8-term
    // sum (written out, not aggregated), so both engines produce the
    // identical double. Output: the score histogram (0.2-wide cells)
    // with the running keep-fraction a threshold sweep reads off.
    Q("mm_clip_score_filter",
      """WITH tpair AS (SELECT d.doc_id,
        |    list_transform(range(0, 8), k ->
        |      CAST(('0x' || substr(md5(d.text), CAST(2 * k + 1 AS INT), 2))
        |        ::BIGINT - 128 AS DOUBLE) / 128) AS t,
        |    list_transform(range(0, 8), k ->
        |      CAST(e.embedding[CAST(k + 1 AS INT)] AS DOUBLE)) AS v
        |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
        |sc AS (SELECT doc_id,
        |    (t[1]*v[1] + t[2]*v[2] + t[3]*v[3] + t[4]*v[4]
        |     + t[5]*v[5] + t[6]*v[6] + t[7]*v[7] + t[8]*v[8])
        |    / nullif(sqrt(t[1]*t[1] + t[2]*t[2] + t[3]*t[3] + t[4]*t[4]
        |        + t[5]*t[5] + t[6]*t[6] + t[7]*t[7] + t[8]*t[8])
        |      * sqrt(v[1]*v[1] + v[2]*v[2] + v[3]*v[3] + v[4]*v[4]
        |        + v[5]*v[5] + v[6]*v[6] + v[7]*v[7] + v[8]*v[8]), 0)
        |      AS score
        |  FROM tpair),
        |b AS (SELECT CAST(floor(score * 5) AS BIGINT) AS bucket,
        |    count(*) AS n
        |  FROM sc WHERE score IS NOT NULL GROUP BY 1),
        |t2 AS (SELECT sum(n) AS total FROM b)
        |SELECT CAST(bucket AS INT) AS bucket,
        |  round(bucket / 5.0, 1) AS score_lo,
        |  CAST(n AS BIGINT) AS n_pairs,
        |  round(sum(n) OVER (ORDER BY bucket DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    / CAST(t2.total AS DOUBLE), 4) AS keep_frac_at_lo
        |FROM b CROSS JOIN t2
        |ORDER BY bucket""") { (s, d) =>
      // Both tower projections are computed BEFORE the join (lambda
      // expressions resolved against their own source relation — also
      // the production shape: encode per modality, then join pairs).
      val docsT = Tables.documents(s, d).select(col("doc_id"),
        expr("""transform(sequence(0, 7), k ->
          |  CAST(CAST(conv(substr(md5(text), 2 * k + 1, 2), 16, 10)
          |    AS BIGINT) - 128 AS DOUBLE) / 128)""".stripMargin).as("t"))
      val embV = Tables.embeddings(s, d).select(col("vec_id"),
        expr("transform(sequence(0, 7), k -> CAST(embedding[k] AS DOUBLE))")
          .as("v"))
      val pair = docsT.join(embV, col("vec_id") === col("doc_id"))
        .select(col("doc_id"), col("t"), col("v"))
      def dot8(a: String, b: String) = expr(
        (1 to 8).map(i => s"element_at($a, $i) * element_at($b, $i)")
          .mkString(" + "))
      val sc = pair.select(col("doc_id"),
        (dot8("t", "v") /
          nullif(sqrt(dot8("t", "t")) * sqrt(dot8("v", "v")), lit(0d)))
          .as("score"))
      val b = sc.filter(col("score").isNotNull)
        .groupBy(floor(col("score") * 5).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))
      val t2 = b.agg(sum(col("n")).as("total"))
      val wk = Window.orderBy(col("bucket").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      b.crossJoin(broadcast(t2))
        .select(col("bucket").cast("int").as("bucket"),
          round(col("bucket") / 5.0, 1).as("score_lo"),
          col("n").cast("long").as("n_pairs"),
          round(sum(col("n")).over(wk) / col("total").cast("double"), 4)
            .as("keep_frac_at_lo"))
        .orderBy(col("bucket"))
    },

    // EMBEDDING-DISTRIBUTION TWO-SAMPLE TEST — MMD with the quadratic
    // polynomial kernel k(x,y) = (x·y)², which admits a closed moment
    // form: MMD² = ||E_A[xxᵀ] − E_B[xxᵀ]||²_F. So instead of any pair
    // join over vectors (n² and dead at corpus scale), each group
    // reduces to its d×d second-moment matrix — n·d² linear work,
    // constant d² state — and the statistic is the Frobenius distance
    // between two 64×64 matrices. Per-cell products are
    // DECIMAL(28,10)-quantized before the order-free sums, so the
    // matrices (and hence the statistic) are partition-invariant and
    // engine-exact; no libm anywhere. Groups are the label parity
    // halves of the embedding corpus (a same-distribution null — the
    // expected answer is "small"); frob_a/frob_b give the scale
    // context. The final step crosses the d² moment grid with the
    // 1-row group counts (hygiene-whitelisted).
    Q("vec_mmd_poly",
      """WITH v AS (SELECT vec_id, label % 2 AS grp, embedding
        |  FROM embeddings),
        |cnt AS (SELECT
        |    CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS na,
        |    CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nb
        |  FROM v),
        |u AS (SELECT vec_id, grp,
        |    CAST(generate_subscripts(embedding, 1) AS INT) AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS xi
        |  FROM v),
        |pr AS (SELECT a.grp, a.i AS i, b.i AS j,
        |    CAST(round(a.xi * b.xi, 10) AS DECIMAL(28,10)) AS prod
        |  FROM u a JOIN u b ON a.vec_id = b.vec_id AND a.grp = b.grp),
        |m AS (SELECT grp, i, j, CAST(sum(prod) AS DOUBLE) AS sp
        |  FROM pr GROUP BY 1, 2, 3),
        |f AS (SELECT i, j,
        |    max(CASE WHEN grp = 0 THEN sp END) AS sa,
        |    max(CASE WHEN grp = 1 THEN sp END) AS sb
        |  FROM m GROUP BY 1, 2),
        |z AS (SELECT
        |    count(*) AS cells,
        |    CAST(sum(CAST(round(
        |      (sa / na - sb / nb) * (sa / na - sb / nb), 12)
        |      AS DECIMAL(28,12))) AS DOUBLE) AS mmd2,
        |    CAST(sum(CAST(round(sa / na * (sa / na), 12)
        |      AS DECIMAL(28,12))) AS DOUBLE) AS fa,
        |    CAST(sum(CAST(round(sb / nb * (sb / nb), 12)
        |      AS DECIMAL(28,12))) AS DOUBLE) AS fb,
        |    max(na) AS na, max(nb) AS nb
        |  FROM f CROSS JOIN cnt)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  CAST(cells AS BIGINT) AS n_cells,
        |  round(mmd2, 8) AS mmd2_poly2,
        |  round(fa, 6) AS frob_a, round(fb, 6) AS frob_b
        |FROM z""") { (s, d) =>
      val v = Tables.embeddings(s, d).select(col("vec_id"),
        (col("label") % 2).as("grp"), col("embedding"))
      val cnt = v.agg(
        sum(when(col("grp") === 0, 1).otherwise(0)).cast("long")
          .as("na"),
        sum(when(col("grp") === 1, 1).otherwise(0)).cast("long")
          .as("nb"))
      val u = v.select(col("vec_id"), col("grp"),
          posexplode(col("embedding")).as(Seq("i", "xi")))
        .withColumn("xi", col("xi").cast("double"))
      val pr = u.alias("a").join(u.alias("b"), Seq("vec_id", "grp"))
        .select(col("grp"), col("a.i").as("i"), col("b.i").as("j"),
          round(col("a.xi") * col("b.xi"), 10).cast("decimal(28,10)")
            .as("prod"))
      val m = pr.groupBy(col("grp"), col("i"), col("j"))
        .agg(sum(col("prod")).cast("double").as("sp"))
      val f = m.groupBy(col("i"), col("j"))
        .agg(max(when(col("grp") === 0, col("sp"))).as("sa"),
          max(when(col("grp") === 1, col("sp"))).as("sb"))
      val ma = col("sa") / col("na"); val mb = col("sb") / col("nb")
      val z = f.crossJoin(broadcast(cnt)).agg(
        count(lit(1)).as("cells"),
        sum(round((ma - mb) * (ma - mb), 12).cast("decimal(28,12)"))
          .cast("double").as("mmd2"),
        sum(round(ma * ma, 12).cast("decimal(28,12)")).cast("double")
          .as("fa"),
        sum(round(mb * mb, 12).cast("decimal(28,12)")).cast("double")
          .as("fb"),
        max(col("na")).as("na"), max(col("nb")).as("nb"))
      z.select(col("na").cast("long").as("n_a"),
        col("nb").cast("long").as("n_b"),
        col("cells").cast("long").as("n_cells"),
        round(col("mmd2"), 8).as("mmd2_poly2"),
        round(col("fa"), 6).as("frob_a"), round(col("fb"), 6).as("frob_b"))
    },

    // JOHNSON–LINDENSTRAUSS DISTORTION CENSUS — does a 64→16 random
    // sign projection (R_ij = ±1/4, the exact-dyadic 1/√16 scale,
    // sign = the md5(i:j) nibble coin) preserve pairwise distances
    // well enough to run downstream dedup/ANN in the cheap space?
    // Each vector folds its 16 projections IN-ROW via a left-to-right
    // HOF fold (no shuffle, no grid join — at production scale the
    // sign matrix would be materialized once; the HOF form keeps the
    // exemplar self-contained), pairs are a deterministic linear ring
    // (vec_id + 1, vec_id + 7 — 2n pairs, never n²), and the census
    // reports the squared-distance ratio ||Rx−Ry||²/||x−y||²: mean,
    // extremes, and the fraction inside [0.5, 2]. Fold order is fixed
    // (dims ascending), +,−,×,/ are IEEE-correctly-rounded, so both
    // engines agree exactly; the mean's pair terms are
    // DECIMAL(28,10)-quantized before the order-free sum.
    Q("vec_jl_distortion",
      """WITH pv AS (SELECT vec_id,
        |    list_transform(range(0, 16), j -> 0.25 * list_sum(
        |      list_transform(range(0, 64), i ->
        |        CASE WHEN substr(md5(CAST(i AS VARCHAR) || ':' ||
        |          CAST(j AS VARCHAR)), 1, 1) < '8' THEN 1.0
        |          ELSE -1.0 END * CAST(embedding[i + 1] AS DOUBLE))))
        |      AS proj,
        |    embedding
        |  FROM embeddings),
        |pr AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
        |    list_sum(list_transform(range(0, 64), i ->
        |      (CAST(a.embedding[i + 1] AS DOUBLE) - b.embedding[i + 1])
        |      * (CAST(a.embedding[i + 1] AS DOUBLE)
        |        - b.embedding[i + 1]))) AS d2,
        |    list_sum(list_transform(range(0, 16), j ->
        |      (a.proj[j + 1] - b.proj[j + 1])
        |      * (a.proj[j + 1] - b.proj[j + 1]))) AS p2
        |  FROM (SELECT pv.*, o.off FROM pv
        |        CROSS JOIN (VALUES (1), (7)) AS o(off)) a
        |  JOIN pv b ON b.vec_id = a.vec_id + a.off),
        |r AS (SELECT id1, id2, p2 / d2 AS ratio
        |  FROM pr WHERE d2 > 0)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |  round(CAST(sum(CAST(round(ratio, 10) AS DECIMAL(28,10)))
        |    AS DOUBLE) / count(*), 4) AS mean_ratio,
        |  round(min(ratio), 4) AS min_ratio,
        |  round(max(ratio), 4) AS max_ratio,
        |  round(sum(CASE WHEN ratio >= 0.5 AND ratio <= 2 THEN 1
        |    ELSE 0 END) / CAST(count(*) AS DOUBLE), 4)
        |    AS frac_within_2x
        |FROM r""") { (s, d) =>
      val pv = Tables.embeddings(s, d).select(col("vec_id"),
        expr("""transform(sequence(0, 15), j -> 0.25D * aggregate(
            |  sequence(0, 63), 0D, (acc, i) ->
            |    acc + IF(substring(md5(concat(CAST(i AS STRING), ':',
            |      CAST(j AS STRING))), 1, 1) < '8', 1D, -1D)
            |      * CAST(embedding[i] AS DOUBLE)))""".stripMargin)
          .as("proj"),
        col("embedding"))
      val a = pv.select(col("vec_id").as("id1"),
        col("proj").as("pa"), col("embedding").as("ea"))
      val b = pv.select(col("vec_id").as("id2"),
        col("proj").as("pb"), col("embedding").as("eb"))
      val pr = a
        .withColumn("off", explode(array(lit(1), lit(7))))
        .join(b, col("id2") === col("id1") + col("off"))
        .select(col("id1"), col("id2"),
          expr("""aggregate(sequence(0, 63), 0D, (acc, i) ->
              |  acc + (CAST(ea[i] AS DOUBLE) - eb[i])
              |    * (CAST(ea[i] AS DOUBLE) - eb[i]))""".stripMargin)
            .as("d2"),
          expr("""aggregate(sequence(0, 15), 0D, (acc, j) ->
              |  acc + (pa[j] - pb[j]) * (pa[j] - pb[j]))""".stripMargin)
            .as("p2"))
      val r = pr.filter(col("d2") > 0)
        .select((col("p2") / col("d2")).as("ratio"))
      r.agg(count(lit(1)).cast("long").as("n_pairs"),
        round(sum(round(col("ratio"), 10).cast("decimal(28,10)"))
          .cast("double") / count(lit(1)), 4).as("mean_ratio"),
        round(min(col("ratio")), 4).as("min_ratio"),
        round(max(col("ratio")), 4).as("max_ratio"),
        round(sum(when(col("ratio").between(0.5, 2), 1).otherwise(0)) /
          count(lit(1)).cast("double"), 4).as("frac_within_2x"))
    },

    // MUTUAL k-NN GRAPH construction (k = 3) over the cosine-LSH
    // candidate edges — the graph SemDeDup-style semantic clustering
    // and manifold methods (UMAP, spectral) all start from. Mutuality
    // is the standard symmetrization that kills hub noise: the edge
    // survives only if u ranks in v's top-3 AND v ranks in u's top-3.
    // Shape at 100 TB: candidates come from the SHARED sign-bucket LSH
    // relation (cosineEdges — an equi-join, never all-pairs); the
    // per-node top-3 is a window PARTITIONED BY NODE over candidate
    // pairs (bounded by bucket co-membership, not the corpus); the
    // mutual check is one self-join of two ≤3·n-row relations. Label
    // agreement per surviving edge is the quality readout (a good
    // embedding's mutual-kNN edges mostly connect same-label points).
    Q("sim_knn_mutual",
      """WITH v AS (SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
        |    CAST(list_sum(list_transform(range(1, 9),
        |      i -> CASE WHEN embedding[i] > 0 THEN CAST(pow(2, i - 1) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bucket
        |  FROM embeddings),
        |p AS (SELECT a.vec_id AS v1, b.vec_id AS v2,
        |    list_sum(list_transform(range(1, 65),
        |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) / (a.nrm * b.nrm) AS cos
        |  FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
        |e AS (SELECT v1, v2, cos FROM p WHERE cos >= 0.4),
        |sym AS (SELECT v1 AS u, v2 AS v, cos FROM e
        |  UNION ALL SELECT v2, v1, cos FROM e),
        |top AS (SELECT u, v, cos FROM (SELECT u, v, cos,
        |    row_number() OVER (PARTITION BY u ORDER BY cos DESC, v) AS rk
        |  FROM sym) WHERE rk <= 3),
        |m AS (SELECT a.u, a.v, a.cos FROM top a
        |  JOIN top b ON b.u = a.v AND b.v = a.u WHERE a.u < a.v)
        |SELECT m.u, m.v, round(m.cos, 4) AS cosine,
        |  CAST(lu.label = lv.label AS BOOLEAN) AS same_label
        |FROM m JOIN embeddings lu ON lu.vec_id = m.u
        |JOIN embeddings lv ON lv.vec_id = m.v
        |ORDER BY m.u, m.v""") { (s, d) =>
      val e = cosineEdges(s, d)
      val sym = e.select(col("v1").as("u"), col("v2").as("v"), col("cos"))
        .unionByName(
          e.select(col("v2").as("u"), col("v1").as("v"), col("cos")))
      val wk = Window.partitionBy(col("u"))
        .orderBy(col("cos").desc, col("v"))
      // The mutual check self-joins top on MIRRORED keys ((a.v,a.u) vs
      // (b.u,b.v)) — two different exchanges, so without materialization
      // the whole candidate-edge derivation and top-3 window run TWICE.
      // top is <=3 rows per vertex: checkpoint it once (guide §2.4).
      val top = sym.withColumn("rk", row_number().over(wk))
        .filter(col("rk") <= 3).select(col("u"), col("v"), col("cos"))
        .localCheckpoint(true)
      val m = top.as("a").join(top.as("b"),
          col("b.u") === col("a.v") && col("b.v") === col("a.u"))
        .filter(col("a.u") < col("a.v"))
        .select(col("a.u").as("u"), col("a.v").as("v"), col("a.cos")
          .as("cos"))
      val lab = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
      m.join(lab.select(col("vec_id").as("u"), col("label").as("lu")),
          Seq("u"))
        .join(lab.select(col("vec_id").as("v"), col("label").as("lv")),
          Seq("v"))
        .select(col("u"), col("v"), round(col("cos"), 4).as("cosine"),
          (col("lu") === col("lv")).as("same_label"))
        .orderBy(col("u"), col("v"))
    },

    // IVF-PQ WITH ADC — the composed index structure production ANN
    // systems actually ship (FAISS IVFPQ): the IVF coarse quantizer
    // (label centroids, as sim_knn_ivf) prunes the search to ONE cell,
    // and product quantization runs on the RESIDUAL e − centroid(cell)
    // (residuals are near-zero-mean, so the shared 16-codeword book
    // spends its bits on local structure instead of re-encoding the
    // centroid — the whole point of the composition). Encoding is the
    // sim_pq_adc argmin fold per 16-dim block; the query builds its
    // residual against the ASSIGNED cell's centroid, a 4×16 distance
    // table, and ADC scans only the probed cell's codes: at 100 TB
    // that is a broadcast dtab × one cell partition — never the
    // corpus. Distances quantize to DECIMAL(18,6) before every argmin
    // / sum — INCLUDING the IVF coarse-assignment d2, so a near-tie
    // between cells cannot flip the probed cell across engines or
    // partitionings (the centroids themselves stay DOUBLE avg(x):
    // they feed subtraction, not an argmin).
    Q("sim_ivfpq_adc",
      """WITH ex AS (SELECT vec_id, label,
        |    CAST(generate_subscripts(embedding, 1) AS INT) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |c AS (SELECT label, dim, avg(x) AS cx FROM ex GROUP BY label, dim),
        |cl AS (SELECT label, list(cx ORDER BY dim) AS cv FROM c GROUP BY label),
        |v AS (SELECT vec_id, label, embedding AS e FROM embeddings),
        |res AS (SELECT v.vec_id, v.label,
        |    list_transform(range(1, 65),
        |      i -> CAST(e[i] AS DOUBLE) - cv[i]) AS rv
        |  FROM v JOIN cl ON cl.label = v.label),
        |cbv AS (SELECT vec_id AS cb_id, rv AS ce FROM res WHERE vec_id < 16),
        |encd AS (SELECT res.vec_id, res.label, b.b, cbv.cb_id AS c,
        |    CAST(round(list_sum(list_transform(range(1, 17), j ->
        |      (rv[CAST(16*b.b + j AS INT)] - ce[CAST(16*b.b + j AS INT)]) *
        |      (rv[CAST(16*b.b + j AS INT)] - ce[CAST(16*b.b + j AS INT)]))), 6)
        |      AS DECIMAL(18,6)) AS dq
        |  FROM res, range(0, 4) b(b), cbv),
        |codes AS (SELECT vec_id, label, b, c FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, b
        |      ORDER BY dq, c) AS rk FROM encd) WHERE rk = 1),
        |qa AS (SELECT e.vec_id AS qid, c.label AS cell,
        |    CAST(round(sum((e.x - c.cx) * (e.x - c.cx)), 6)
        |      AS DECIMAL(18,6)) AS d2
        |  FROM ex e JOIN c ON e.dim = c.dim
        |  WHERE e.vec_id < 8 GROUP BY 1, 2),
        |assign AS (SELECT qid, cell FROM (SELECT qid, cell,
        |    row_number() OVER (PARTITION BY qid ORDER BY d2, cell) AS rn
        |  FROM qa) WHERE rn = 1),
        |qres AS (SELECT a.qid, a.cell,
        |    list_transform(range(1, 65),
        |      i -> CAST(v.e[i] AS DOUBLE) - cl.cv[i]) AS qrv
        |  FROM assign a JOIN v ON v.vec_id = a.qid
        |  JOIN cl ON cl.label = a.cell),
        |dtab AS (SELECT q.qid, q.cell, b.b, cbv.cb_id AS c,
        |    CAST(round(list_sum(list_transform(range(1, 17), j ->
        |      (qrv[CAST(16*b.b + j AS INT)] - ce[CAST(16*b.b + j AS INT)]) *
        |      (qrv[CAST(16*b.b + j AS INT)] - ce[CAST(16*b.b + j AS INT)]))), 6)
        |      AS DECIMAL(18,6)) AS dq
        |  FROM qres q, range(0, 4) b(b), cbv),
        |adc AS (SELECT d.qid, s.vec_id AS vid, sum(d.dq) AS adc
        |  FROM codes s JOIN dtab d ON d.b = s.b AND d.c = s.c
        |    AND d.cell = s.label AND d.qid <> s.vec_id
        |  GROUP BY 1, 2),
        |r AS (SELECT qid, vid, adc, row_number() OVER (PARTITION BY qid
        |    ORDER BY adc, vid) AS rk FROM adc)
        |SELECT qid, vid, CAST(rk AS INT) AS rk,
        |  round(CAST(adc AS DOUBLE), 4) AS adc
        |FROM r WHERE rk <= 3
        |ORDER BY qid, rk""") { (s, d) =>
      val e = Tables.embeddings(s, d)
      val exploded = e.select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .withColumn("x", col("x").cast("double"))
      val centroids = exploded.groupBy(col("label").as("cell"), col("dim"))
        .agg(avg(col("x")).as("cx"))
      val cl = centroids.groupBy(col("cell"))
        .agg(expr(
          "transform(array_sort(collect_list(struct(dim, cx))), s -> s.cx)")
          .as("cv"))
      val v = e.select(col("vec_id"), col("label"), col("embedding").as("e"))
      val res = v.join(broadcast(cl), col("label") === col("cell"))
        .withColumn("rv", expr(
          """transform(sequence(1, 64),
            |  i -> CAST(element_at(e, i) AS DOUBLE) - element_at(cv, i))"""
            .stripMargin))
        .select(col("vec_id"), col("label"), col("rv"))
      val cbDf = res.filter(col("vec_id") < 16)
        .agg(expr(
          "transform(array_sort(collect_list(struct(vec_id, rv))), t -> t.rv)")
          .as("cb"))
      def dsub(vec: String): String = {
        val diff = s"(element_at($vec, CAST(16*b + j AS INT)) - " +
          s"element_at(element_at(cb, c + 1), CAST(16*b + j AS INT)))"
        s"CAST(round(aggregate(sequence(1, 16), CAST(0.0 AS DOUBLE), " +
          s"(acc, j) -> acc + $diff * $diff), 6) AS DECIMAL(18,6))"
      }
      // Distances once per codeword, argmin over structs — halves the
      // residual-encode fold (see sim_pq_adc); identical tie semantics.
      val enc = res.crossJoin(broadcast(cbDf)).withColumn("codes", expr(
        s"""transform(sequence(0, 3), b ->
           |  aggregate(
           |    transform(sequence(0, 15), c ->
           |      named_struct('d', ${dsub("rv")}, 'c', c)),
           |    named_struct('d', CAST(999999 AS DECIMAL(18,6)), 'c', -1),
           |    (acc, s) -> IF(s.d < acc.d, s, acc),
           |    acc -> acc.c))""".stripMargin))
        .select(col("vec_id"), col("label"), col("codes"))
      val qa = exploded.filter(col("vec_id") < 8)
        .join(broadcast(centroids), Seq("dim"))
        .withColumn("sq", (col("x") - col("cx")) * (col("x") - col("cx")))
        .groupBy(col("vec_id").as("qid"), col("cell"))
        .agg(expr("CAST(round(sum(sq), 6) AS DECIMAL(18,6))").as("d2"))
      val wA = Window.partitionBy(col("qid")).orderBy(col("d2"), col("cell"))
      val assign = qa.withColumn("rn", row_number().over(wA))
        .filter(col("rn") === 1).select(col("qid"), col("cell"))
      val qres = assign
        .join(v.select(col("vec_id").as("qid"), col("e").as("qe")),
          Seq("qid"))
        .join(broadcast(cl), Seq("cell"))
        .withColumn("qrv", expr(
          """transform(sequence(1, 64),
            |  i -> CAST(element_at(qe, i) AS DOUBLE) - element_at(cv, i))"""
            .stripMargin))
        .select(col("qid"), col("cell"), col("qrv"))
      val qdtab = qres.crossJoin(broadcast(cbDf))
        .withColumn("dtab", expr(
          s"""transform(sequence(0, 3), b ->
             |  transform(sequence(0, 15), c -> ${dsub("qrv")}))"""
            .stripMargin))
        .select(col("qid"), col("cell"), col("dtab"))
      val w = Window.partitionBy(col("qid")).orderBy(col("adc"), col("vec_id"))
      enc.join(broadcast(qdtab),
          col("label") === col("cell") && col("qid") =!= col("vec_id"))
        .withColumn("adc", expr(
          """aggregate(sequence(0, 3), CAST(0 AS DECIMAL(38,6)), (acc, b) ->
            |  CAST(acc + element_at(element_at(dtab, b + 1),
            |    element_at(codes, b + 1) + 1) AS DECIMAL(38,6)))"""
            .stripMargin))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("qid"), col("vec_id").as("vid"),
          col("rk").cast("int").as("rk"),
          round(col("adc").cast("double"), 4).as("adc"))
        .orderBy(col("qid"), col("rk"))
    },

    // WIDTH-LAW CENSUS for the banded sign-LSH (see the scaladoc on
    // [[bandedCap]]) — the readout that PROVES the scale contract on
    // any corpus: per band, the realized bucket count, the max
    // occupancy, how many hot buckets the cap excised, and the
    // surviving candidate-pair mass Σ occ·(occ−1)/2 (exact integers);
    // the 'union' row adds the de-duplicated cross-band candidate
    // count and the actual cos ≥ 0.4 edges among them. At 100 TB this
    // census is the cheap pre-flight a pipeline runs BEFORE the pair
    // join: cand_pairs is the join's exact cost, so a mis-sized width
    // ladder is caught from the occupancy table, not a dead executor.
    Q("vec_cosine_lsh_banded", {
      s"""WITH $bandedCtesSql,
         |rr AS (SELECT max(r) AS bits FROM vk),
         |bs AS (SELECT band, count(*) AS n_buckets, max(occ) AS max_occ,
         |    sum(CASE WHEN occ > $bandedCap THEN 1 ELSE 0 END) AS n_excised,
         |    sum(CASE WHEN occ <= $bandedCap
         |      THEN CAST(occ * (occ - 1) / 2 AS BIGINT)
         |      ELSE 0 END) AS cand_pairs
         |  FROM occ GROUP BY 1),
         |cand AS (SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
         |  FROM kept a JOIN kept b
         |  ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
         |sc AS (SELECT
         |    list_sum(list_transform(range(1, 65),
         |      i -> CAST(x.embedding[i] AS DOUBLE)
         |         * CAST(y.embedding[i] AS DOUBLE))) / (x.nrm * y.nrm) AS cos
         |  FROM cand c JOIN v x ON x.vec_id = c.v1
         |  JOIN v y ON y.vec_id = c.v2),
         |un AS (SELECT count(*) AS cand_pairs,
         |    sum(CASE WHEN cos >= 0.4 THEN 1 ELSE 0 END) AS edges FROM sc)
         |SELECT 'band' || CAST(band AS VARCHAR) AS scope,
         |  CAST((SELECT bits FROM rr) AS INT) AS bits,
         |  CAST(n_buckets AS BIGINT) AS n_buckets,
         |  CAST(max_occ AS BIGINT) AS max_occ,
         |  CAST(n_excised AS BIGINT) AS n_excised,
         |  CAST(cand_pairs AS BIGINT) AS cand_pairs,
         |  CAST(0 AS BIGINT) AS edges
         |FROM bs
         |UNION ALL
         |SELECT 'union', CAST((SELECT bits FROM rr) AS INT),
         |  (SELECT CAST(sum(n_buckets) AS BIGINT) FROM bs),
         |  (SELECT CAST(max(max_occ) AS BIGINT) FROM bs),
         |  (SELECT CAST(sum(n_excised) AS BIGINT) FROM bs),
         |  CAST(cand_pairs AS BIGINT), CAST(edges AS BIGINT)
         |FROM un
         |ORDER BY scope""".stripMargin
    }) { (s, d) =>
      import graft.functions.GraftFunctions.dot_f
      val (v, melted) = bandedParts(s, d)
      val occ = melted.groupBy(col("band"), col("key"))
        .agg(count(lit(1)).as("occ"))
      val bits = v.agg(max(col("r")).as("bits"))
      val bs = occ.groupBy(col("band"))
        .agg(count(lit(1)).as("n_buckets"), max(col("occ")).as("max_occ"),
          sum(when(col("occ") > bandedCap, 1L).otherwise(0L))
            .as("n_excised"),
          sum(when(col("occ") <= bandedCap,
            (col("occ") * (col("occ") - 1) / 2).cast("long"))
            .otherwise(0L)).as("cand_pairs"))
      val kept = melted.join(
        occ.filter(col("occ") <= bandedCap).select("band", "key"),
        Seq("band", "key"))
      val cand = kept
        .select(col("band"), col("key"), col("vec_id").as("v1"))
        .join(kept.select(col("band"), col("key"), col("vec_id").as("v2")),
          Seq("band", "key"))
        .filter(col("v1") < col("v2"))
        .select(col("v1"), col("v2")).distinct()
      val sc = cand
        .join(v.select(col("vec_id").as("v1"), col("e").as("e1"),
          col("nrm").as("n1")), Seq("v1"))
        .join(v.select(col("vec_id").as("v2"), col("e").as("e2"),
          col("nrm").as("n2")), Seq("v2"))
        .select((dot_f(col("e1"), col("e2")) / (col("n1") * col("n2")))
          .as("cos"))
      val un = sc.agg(count(lit(1)).as("cand_pairs"),
        sum(when(col("cos") >= 0.4, 1L).otherwise(0L)).as("edges"))
      val bandRows = bs.crossJoin(broadcast(bits))
        .select(concat(lit("band"), col("band").cast("string")).as("scope"),
          col("bits").cast("int").as("bits"),
          col("n_buckets").cast("long").as("n_buckets"),
          col("max_occ").cast("long").as("max_occ"),
          col("n_excised").cast("long").as("n_excised"),
          col("cand_pairs").cast("long").as("cand_pairs"),
          lit(0L).as("edges"))
      val unionRow = bs
        .agg(sum(col("n_buckets")).as("nb"), max(col("max_occ")).as("mo"),
          sum(col("n_excised")).as("ne"))
        .crossJoin(broadcast(un)).crossJoin(broadcast(bits))
        .select(lit("union").as("scope"), col("bits").cast("int").as("bits"),
          col("nb").cast("long").as("n_buckets"),
          col("mo").cast("long").as("max_occ"),
          col("ne").cast("long").as("n_excised"),
          col("cand_pairs").cast("long").as("cand_pairs"),
          col("edges").cast("long").as("edges"))
      bandRows.unionByName(unionRow).orderBy(col("scope"))
    },

    // MUTUAL top-k kNN graph over the WIDTH-SCALED banded candidates —
    // the 100× survivor twin of sim_knn_mutual (same downstream
    // semantics: per-node top-3 by cosine over the edge relation,
    // mutual = both directions agree; same_label audits the planted
    // geometry). sim_knn_mutual keeps the fixed-8-bit exemplar its
    // oracle pins; THIS form is the one a 500k+-vector corpus runs —
    // the banded relation's bucket density stays ~32 per band at any
    // N, where the fixed form's self-join went quadratic (killed at
    // >600 s in COVERAGE.md's 100× table).
    Q("sim_knn_mutual_banded", {
      s"""WITH $bandedCtesSql,
         |cand AS (SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
         |  FROM kept a JOIN kept b
         |  ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
         |p AS (SELECT c.v1, c.v2,
         |    list_sum(list_transform(range(1, 65),
         |      i -> CAST(x.embedding[i] AS DOUBLE)
         |         * CAST(y.embedding[i] AS DOUBLE))) / (x.nrm * y.nrm) AS cos
         |  FROM cand c JOIN v x ON x.vec_id = c.v1
         |  JOIN v y ON y.vec_id = c.v2),
         |e AS (SELECT v1, v2, cos FROM p WHERE cos >= 0.4),
         |sym AS (SELECT v1 AS u, v2 AS v, cos FROM e
         |  UNION ALL SELECT v2, v1, cos FROM e),
         |top AS (SELECT u, v, cos FROM (SELECT u, v, cos,
         |    row_number() OVER (PARTITION BY u ORDER BY cos DESC, v) AS rk
         |  FROM sym) WHERE rk <= 3),
         |mm AS (SELECT a.u, a.v, a.cos FROM top a
         |  JOIN top b ON b.u = a.v AND b.v = a.u WHERE a.u < a.v)
         |SELECT mm.u, mm.v, round(mm.cos, 4) AS cosine,
         |  CAST(lu.label = lv.label AS BOOLEAN) AS same_label
         |FROM mm JOIN embeddings lu ON lu.vec_id = mm.u
         |JOIN embeddings lv ON lv.vec_id = mm.v
         |ORDER BY mm.u, mm.v""".stripMargin
    }) { (s, d) =>
      val e = cosineEdgesBanded(s, d)
      val sym = e.select(col("v1").as("u"), col("v2").as("v"), col("cos"))
        .unionByName(
          e.select(col("v2").as("u"), col("v1").as("v"), col("cos")))
      val wk = Window.partitionBy(col("u"))
        .orderBy(col("cos").desc, col("v"))
      // The mutual check self-joins top on MIRRORED keys ((a.v,a.u) vs
      // (b.u,b.v)) — two different exchanges, so without materialization
      // the whole candidate-edge derivation and top-3 window run TWICE.
      // top is <=3 rows per vertex: checkpoint it once (guide §2.4).
      val top = sym.withColumn("rk", row_number().over(wk))
        .filter(col("rk") <= 3).select(col("u"), col("v"), col("cos"))
        .localCheckpoint(true)
      val m = top.as("a").join(top.as("b"),
          col("b.u") === col("a.v") && col("b.v") === col("a.u"))
        .filter(col("a.u") < col("a.v"))
        .select(col("a.u").as("u"), col("a.v").as("v"), col("a.cos")
          .as("cos"))
      val lab = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
      m.join(lab.select(col("vec_id").as("u"), col("label").as("lu")),
          Seq("u"))
        .join(lab.select(col("vec_id").as("v"), col("label").as("lv")),
          Seq("v"))
        .select(col("u"), col("v"), round(col("cos"), 4).as("cosine"),
          (col("lu") === col("lv")).as("same_label"))
        .orderBy(col("u"), col("v"))
    })
}
