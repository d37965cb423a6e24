package graft.queries

import graft.{Q, Tables}
import graft.functions.{ArgMaxAggregator, GraftFunctions}
import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Queries exercising the engine's extension points (SURVEY.md §2.2 UDF
  * table + §4.3): the codegen'd custom expressions, the exemplar typed
  * UDAF, grouping sets, the multimodal decode path, and file-format
  * source/sink round-trips (NDJSON+gzip, CSV, partitioned parquet —
  * the K1/K2 sink family as batch operators).
  */
object ExtensionQueries {

  /** DuckDB CTE body (no WITH prefix, so callers can prepend WITH or
    * WITH RECURSIVE) for the perceptual-hash near-dup relation shared
    * by mm_phash_pairs and mm_dedup_phash_cc: stubbed 64-pixel decode
    * (md5 bytes — deterministic in both engines), integer aHash bit
    * rule, 8×8-bit band candidates, popcount verify. Final relation
    * `h` = (m1, m2, hamming). */
  private val phashCtes: String =
    """p AS (SELECT doc_id AS media_id,
      |    md5(text || '#0') AS h0, md5(text || '#1') AS h1,
      |    md5(text || '#2') AS h2, md5(text || '#3') AS h3
      |  FROM documents),
      |px AS (SELECT media_id, list_concat(list_concat(list_concat(
      |    list_transform(range(0, 16), k -> ('0x' || substr(h0, CAST(2*k + 1 AS INT), 2))::BIGINT),
      |    list_transform(range(0, 16), k -> ('0x' || substr(h1, CAST(2*k + 1 AS INT), 2))::BIGINT)),
      |    list_transform(range(0, 16), k -> ('0x' || substr(h2, CAST(2*k + 1 AS INT), 2))::BIGINT)),
      |    list_transform(range(0, 16), k -> ('0x' || substr(h3, CAST(2*k + 1 AS INT), 2))::BIGINT)) AS pix
      |  FROM p),
      |bd AS (SELECT media_id, pix, list_sum(pix) AS total FROM px),
      |bands AS (SELECT media_id, list_transform(range(0, 8), b ->
      |    list_sum(list_transform(range(0, 8), j ->
      |      CASE WHEN 64 * pix[CAST(8*b + j + 1 AS INT)] > total
      |           THEN CAST(1 AS BIGINT) << j ELSE 0 END))) AS bs
      |  FROM bd),
      |e0 AS (SELECT media_id, r.b AS b, bs[CAST(r.b + 1 AS INT)] AS v
      |  FROM bands, range(0, 8) r(b)),
      |keepb AS (SELECT b, v FROM e0 GROUP BY 1, 2
      |  HAVING count(*) <= 256),
      |e AS (SELECT e0.* FROM e0 JOIN keepb USING (b, v)),
      |cand AS (SELECT DISTINCT a.media_id AS m1, b.media_id AS m2
      |  FROM e a JOIN e b
      |    ON a.b = b.b AND a.v = b.v AND a.media_id < b.media_id),
      |h AS (SELECT m1, m2, list_sum(list_transform(range(1, 9), i ->
      |    bit_count(xor(x.bs[CAST(i AS INT)], y.bs[CAST(i AS INT)])))) AS hamming
      |  FROM cand JOIN bands x ON x.media_id = m1
      |             JOIN bands y ON y.media_id = m2)""".stripMargin

  /** Spark twin of [[phashCtes]]: the verified near-dup pair relation
    * (m1, m2, hamming ≤ 24). The band relation is cached internally
    * (it feeds both candidate sides plus two verify lookups); the
    * per-query cache is released by the harness's clearCache. */
  /** Verified phash near-dup pair relation (m1, m2, hamming ≤ 24) as a
    * derive-once artifact: the stubbed decode → aHash → banded
    * candidate join → popcount verify chain is deterministic per
    * corpus, and both mm_phash_pairs and mm_dedup_phash_cc consume the
    * same edges — the LSH candidate-edge memo discipline. */
  private def phashPairsOf(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Derived.memo(s, d, "documents", "phash-pairs")(phashPairsBuild(s, d))

  private def phashPairsBuild(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    def grp(h: String): String =
      s"transform(sequence(0, 15), k -> CAST(conv(substr($h, 2*k + 1, 2), 16, 10) AS BIGINT))"
    val p = Tables.documents(s, d)
      .select(col("doc_id").as("media_id"),
        md5(concat(col("text"), lit("#0"))).as("h0"),
        md5(concat(col("text"), lit("#1"))).as("h1"),
        md5(concat(col("text"), lit("#2"))).as("h2"),
        md5(concat(col("text"), lit("#3"))).as("h3"))
    val px = p
      .withColumn("pix",
        expr(s"concat(${grp("h0")}, ${grp("h1")}, ${grp("h2")}, ${grp("h3")})"))
      .withColumn("total",
        expr("aggregate(pix, CAST(0 AS BIGINT), (acc, x) -> acc + x)"))
    val bands = px.select(col("media_id"), expr(
      """transform(sequence(0, 7), b ->
        |  aggregate(sequence(0, 7), CAST(0 AS BIGINT), (acc, j) ->
        |    acc + IF(64 * element_at(pix, CAST(8*b + j + 1 AS INT)) > total,
        |      shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT))))"""
        .stripMargin).as("bs"))
      .cache() // hash relation feeds both candidate sides + 2 verify lookups
    val e0 = bands.select(col("media_id"), posexplode(col("bs")))
      .withColumnRenamed("pos", "b").withColumnRenamed("col", "v")
    // BAND-BUCKET CAP (the wedge-cap discipline applied to LSH
    // buckets): a (band, value) bucket holding d media emits C(d,2)
    // candidate pairs, so a degenerate bucket — value shared by more
    // media than any real near-dup cluster — is excised BEFORE the
    // self-join (buckets > 256 members; exact duplicates are handled
    // UPSTREAM by dedup_exact, so a true 256+-clone bucket has already
    // collapsed by the time near-dup runs). On the shipped fixtures
    // the cap never binds (max bucket ~40 at sf0.1); on the 30×
    // uniform-stub fixture it is what keeps the family sub-quadratic
    // (uniform random "pixels" make EVERY bucket n/256-dense — the
    // degenerate regime by construction; real corpora are sparse with
    // clustered collisions). Mirrored in [[phashCtes]].
    val keepB = e0.groupBy(col("b"), col("v"))
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= 256).select(col("b"), col("v"))
    val e = e0.join(keepB, Seq("b", "v"), "left_semi")
    val cand = e.as("a").join(e.as("b"),
        col("a.b") === col("b.b") && col("a.v") === col("b.v") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("m1"), col("b.media_id").as("m2"))
      .distinct()
    cand
      .join(bands.as("x"), col("x.media_id") === col("m1"))
      .join(bands.as("y"), col("y.media_id") === col("m2"))
      .withColumn("hamming", expr(
        """CAST(aggregate(zip_with(x.bs, y.bs,
          |  (u, w) -> CAST(bit_count(u ^ w) AS BIGINT)),
          |  CAST(0 AS BIGINT), (acc, t) -> acc + t) AS INT)""".stripMargin))
      .filter(col("hamming") <= 24)
      .select(col("m1"), col("m2"), col("hamming"))
  }

  def all: Seq[Q] = Seq(

    // OBSERVED SCAN METRICS (Dataset.observe / Observation API) — the
    // 100 TB observability posture: pipeline health metrics (row
    // count, exact value sum, extrema, null count) accumulate ON the
    // production scan itself, not via a second pass over the corpus —
    // observe() metrics ride the task completion path (an
    // AccumulatorV2 under the hood), so a 100 TB filter job emits its
    // own audit row for free. The query materializes the scan through
    // the noop sink (columnar decode, nothing written), then returns
    // the observation as a 1-row frame; the oracle recomputes the
    // same aggregates declaratively — parity proves the piggybacked
    // metrics equal the ground truth. Sum rides DECIMAL before the
    // final double cast (order-free exactness, DETERMINISM.md §2).
    Q("obs_scan_metrics",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST("value" AS DECIMAL(18,4))) AS DOUBLE) AS val_sum,
        |  CAST(min("value") AS DOUBLE) AS val_min,
        |  CAST(max("value") AS DOUBLE) AS val_max,
        |  CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS null_props
        |FROM events WHERE event_type = 'purchase'""") { (s, d) =>
      val obs = org.apache.spark.sql.Observation()
      Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .observe(obs,
          count(lit(1)).as("n_rows"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("val_sum"),
          min(col("value")).cast("double").as("val_min"),
          max(col("value")).cast("double").as("val_max"),
          sum(when(col("props").isNull, 1).otherwise(0)).cast("long")
            .as("null_props"))
        .write.mode("overwrite").format("noop").save()
      val m = obs.get
      import s.implicits._
      Seq((m("n_rows").asInstanceOf[Long],
        m("val_sum").asInstanceOf[Double],
        m("val_min").asInstanceOf[Double],
        m("val_max").asInstanceOf[Double],
        m("null_props").asInstanceOf[Long]))
        .toDF("n_rows", "val_sum", "val_min", "val_max", "null_props")
    },

    // Typed UDAF arg-max per group (deterministic tie-break: smaller key).
    Q("udaf_argmax",
      """SELECT o_orderpriority,
        |  CAST(k AS BIGINT) AS top_order
        |FROM (SELECT o_orderpriority, o_orderkey AS k,
        |        row_number() OVER (PARTITION BY o_orderpriority
        |          ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |      FROM orders)
        |WHERE rn = 1
        |ORDER BY o_orderpriority""") { (s, d) =>
      val argmax = udaf(ArgMaxAggregator)
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(argmax(col("o_orderkey"), col("o_totalprice")).as("top_order"))
        .orderBy(col("o_orderpriority"))
    },

    // Custom codegen expression on the similarity hot path: identical
    // semantics to sim_knn_brute (same oracle shape), dot product as one
    // generated loop.
    Q("sim_knn_expr",
      """WITH v AS (SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM v WHERE vec_id >= 8 AND vec_id < 12),
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
      import graft.functions.GraftFunctions.dot_f
      val v = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("e"))
        .withColumn("nrm", sqrt(dot_f(col("e"), col("e"))))
      val q = v.filter(col("vec_id") >= 8 && col("vec_id") < 12)
        .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
      v.crossJoin(broadcast(q))
        .filter(col("qid") =!= col("vec_id"))
        .withColumn("cos", dot_f(col("qe"), col("e")) / (col("qn") * col("nrm")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("qid"), col("vec_id").as("vid"), col("rk").cast("int").as("rk"),
          round(col("cos"), 4).as("cosine"))
        .orderBy(col("qid"), col("rk"))
    },

    // Custom Generator (UDTF): word 3-shingles emitted directly as rows
    // by ShingleGenerator — the third extension-point kind next to the
    // codegen scalar expressions and the typed UDAF. Oracle recomputes
    // the same (non-distinct) shingle multiset relationally.
    Q("udtf_shingles",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id,
        |    unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        |  FROM t)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_shingles,
        |  CAST(count(DISTINCT sh) AS BIGINT) AS n_unique,
        |  min(sh) AS first_shingle
        |FROM s
        |GROUP BY doc_id
        |ORDER BY doc_id""") { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          GraftFunctions.shingle_gen(col("text"), lit(3)).as("sh"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          countDistinct(col("sh")).as("n_unique"),
          min(col("sh")).as("first_shingle"))
        .orderBy(col("doc_id"))
    },

    // Whole-operator extension point: the custom TopKPerGroup logical
    // node (strategy-planned partial+final bounded-heap execs, filter
    // pushdown rule — graft.plans). Same answer as the row_number window
    // form, but the shuffle carries ≤ k rows per group per input
    // partition instead of the whole table (TopKSpec proves both).
    Q("topk_custom_plan",
      """SELECT c_nationkey, c_custkey, round(c_acctbal, 4) AS bal
        |FROM (SELECT c_nationkey, c_custkey, c_acctbal,
        |        row_number() OVER (PARTITION BY c_nationkey
        |          ORDER BY c_acctbal DESC, c_custkey) AS rn
        |      FROM customer)
        |WHERE rn <= 3
        |ORDER BY c_nationkey, c_custkey""") { (s, d) =>
      graft.plans.TopK.perGroup(
          Tables.customer(s, d).select(col("c_nationkey"), col("c_custkey"), col("c_acctbal")),
          Seq(col("c_nationkey")),
          Seq(col("c_acctbal").desc, col("c_custkey")), 3)
        .select(col("c_nationkey"), col("c_custkey"), round(col("c_acctbal"), 4).as("bal"))
        .orderBy(col("c_nationkey"), col("c_custkey"))
    },

    // GROUPING SETS (beyond rollup/cube): one Expand + single shuffle.
    Q("agg_groupingsets",
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(count(*) AS BIGINT) AS cnt,
         |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""") { (s, d) =>
      Tables.lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"),
          expr("CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)").as("qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },

    // Multimodal decode path: binary payload + metadata → mapPartitions
    // feature extraction (stubbed decode — features derived from bytes;
    // corpus is ASCII so the oracle can recompute them from codepoints).
    Q("mm_decode",
      """WITH f AS (SELECT doc_id AS media_id,
        |    octet_length(text::BLOB) AS n_bytes,
        |    list_sum(list_transform(range(1, length(text) + 1),
        |      i -> ord(substring(text, CAST(i AS INT), 1)))) AS byte_sum
        |  FROM documents)
        |SELECT media_id,
        |  CAST(n_bytes AS INT) AS n_bytes,
        |  CAST(byte_sum AS BIGINT) AS byte_sum,
        |  round(CAST(byte_sum AS DOUBLE) / n_bytes, 4) AS mean_byte,
        |  CAST(greatest(1, n_bytes // 64) AS INT) AS frames
        |FROM f
        |ORDER BY media_id""") { (s, d) =>
      import s.implicits._
      val media = Multimodal.attachPayload(Tables.documents(s, d))
        .as[Multimodal.MediaRecord]
      Multimodal.decodeStub(media).toDF()
        .select(col("media_id"), col("n_bytes"), col("byte_sum"),
          round(col("mean_byte"), 4).as("mean_byte"), col("frames"))
        .orderBy(col("media_id"))
    },

    // Binary-column fingerprints (hash features over the payload itself).
    Q("mm_features",
      """SELECT doc_id AS media_id,
        |  CAST(octet_length(text::BLOB) AS INT) AS n_bytes,
        |  sha256(text) AS payload_sha,
        |  lower(hex(substring(text, 1, 8)::BLOB)) AS head_hex
        |FROM documents
        |ORDER BY media_id""") { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id").as("media_id"),
          octet_length(col("text").cast("binary")).as("n_bytes"),
          sha2(col("text").cast("binary"), 256).as("payload_sha"),
          lower(hex(substring(col("text"), 1, 8).cast("binary"))).as("head_hex"))
        .orderBy(col("media_id"))
    },

    // Frame sampling: metadata-driven explode of each payload into up
    // to 4 evenly-spaced 64-byte "frames" with per-frame hashes — the
    // video-frame-sampling shape (decode stays stubbed as a byte slice;
    // the relational plumbing is the real part). Oracle slices the same
    // ASCII text (byte == char here, both engines md5 the same bytes).
    Q("mm_framesample",
      """WITH m AS (SELECT doc_id AS media_id, text,
        |    greatest(1, length(text) // 64) AS frames
        |  FROM documents),
        |x AS (SELECT media_id, text,
        |    unnest(range(0, frames, greatest(1, frames // 4))) AS frame_idx
        |  FROM m)
        |SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
        |  md5(substring(text, CAST(frame_idx * 64 + 1 AS INT), 64)) AS frame_hash
        |FROM x
        |ORDER BY media_id, frame_idx""") { (s, d) =>
      Multimodal.sampleFrames(
          Multimodal.attachPayload(Tables.documents(s, d)),
          frameBytes = 64, maxSamples = 4)
        .orderBy(col("media_id"), col("frame_idx"))
    },

    // VIDEO SCENE-CUT detection on the stubbed decode path: each
    // media's payload is frame-sampled (16 × 64-byte "frames" — the
    // same byte-slice decode stub as mm_framesample), every frame gets
    // an integer luma signature (byte sum — a real pipeline uses the
    // decoded frame's luma histogram; the comparison dataflow is
    // identical), and a cut fires where consecutive frames differ by
    // more than 32/byte on average. The lag window partitions PER
    // MEDIA over ≤ 16 frame rows — no global window, no shuffle wider
    // than the media key — so scene segmentation stays scan-shaped at
    // video-corpus scale. Output: per-media scene profile.
    Q("mm_video_scene_cut",
      """WITH m AS (SELECT doc_id AS media_id, text,
        |    least(greatest(1, length(text) // 64), 16) AS frames
        |  FROM documents),
        |f AS (SELECT media_id, CAST(w AS INT) AS frame_idx,
        |    substring(text, CAST(w * 64 + 1 AS INT), 64) AS sl
        |  FROM m, unnest(range(0, frames)) t(w)),
        |sig AS (SELECT media_id, frame_idx,
        |    CAST(coalesce(list_sum(list_transform(
        |      range(1, length(sl) + 1),
        |      i -> ord(substring(sl, CAST(i AS INT), 1)))), 0)
        |      AS BIGINT) AS luma
        |  FROM f),
        |dd AS (SELECT media_id, frame_idx, luma,
        |    luma - lag(luma) OVER (PARTITION BY media_id
        |      ORDER BY frame_idx) AS diff
        |  FROM sig)
        |SELECT media_id,
        |  CAST(count(*) AS BIGINT) AS n_frames,
        |  CAST(sum(CASE WHEN abs(diff) > 2048 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_cuts,
        |  CAST(sum(CASE WHEN abs(diff) > 2048 THEN 1 ELSE 0 END) + 1
        |    AS BIGINT) AS n_scenes,
        |  CAST(min(CASE WHEN abs(diff) > 2048 THEN frame_idx END)
        |    AS INT) AS first_cut_idx
        |FROM dd GROUP BY media_id
        |ORDER BY media_id""") { (s, d) =>
      val m = Tables.documents(s, d)
        .select(col("doc_id").as("media_id"), col("text"),
          least(greatest(lit(1), expr("length(text) div 64")), lit(16))
            .as("frames"))
      val f = m.select(col("media_id"),
          explode(expr("sequence(0, frames - 1)")).as("frame_idx"),
          col("text"))
        .select(col("media_id"), col("frame_idx").cast("int").as("frame_idx"),
          expr("substring(text, frame_idx * 64 + 1, 64)").as("sl"))
      val sig = f.select(col("media_id"), col("frame_idx"),
        expr("""CAST(coalesce(aggregate(transform(sequence(1, length(sl)),
          |  i -> ascii(substring(sl, i, 1))), 0L,
          |  (a, x) -> a + x), 0L) AS BIGINT)""".stripMargin).as("luma"))
      val w = Window.partitionBy(col("media_id")).orderBy(col("frame_idx"))
      val dd = sig.withColumn("diff", col("luma") - lag(col("luma"), 1).over(w))
      dd.groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_frames"),
          sum(when(abs(col("diff")) > 2048, 1).otherwise(0)).as("n_cuts"),
          (sum(when(abs(col("diff")) > 2048, 1).otherwise(0)) + 1)
            .as("n_scenes"),
          min(when(abs(col("diff")) > 2048, col("frame_idx")))
            .as("first_cut_idx"))
        .select(col("media_id"),
          col("n_frames").cast("long").as("n_frames"),
          col("n_cuts").cast("long").as("n_cuts"),
          col("n_scenes").cast("long").as("n_scenes"),
          col("first_cut_idx").cast("int").as("first_cut_idx"))
        .orderBy(col("media_id"))
    },

    // Audio windowing: the payload bytes as 8-bit PCM samples cut into
    // 128-sample analysis windows with per-window energy (sum of
    // squares) and peak — the feature-extraction shape a real audio
    // pipeline runs after decode (decode itself stays the stubbed
    // byte-read; the windowing, schema and integer feature math are the
    // real part). Pure per-row generation + HOF arithmetic: fuses with
    // the scan, nothing shuffles until the final sort.
    Q("mm_audio_window",
      """WITH m AS (SELECT doc_id AS media_id, text,
        |    CAST(ceil(length(text) / 128.0) AS INT) AS wins
        |  FROM documents),
        |x AS (SELECT media_id,
        |    substring(text, CAST(w * 128 + 1 AS INT), 128) AS sl,
        |    CAST(w AS INT) AS win_idx
        |  FROM m, unnest(range(0, wins)) t(w))
        |SELECT media_id, win_idx,
        |  CAST(length(sl) AS INT) AS n_samples,
        |  CAST(list_sum(list_transform(range(1, length(sl) + 1),
        |    i -> ord(substring(sl, CAST(i AS INT), 1))
        |       * ord(substring(sl, CAST(i AS INT), 1)))) AS BIGINT) AS energy,
        |  CAST(list_max(list_transform(range(1, length(sl) + 1),
        |    i -> ord(substring(sl, CAST(i AS INT), 1)))) AS INT) AS peak
        |FROM x
        |ORDER BY media_id, win_idx""") { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id").as("media_id"), col("text"),
          expr("CAST(ceil(length(text) / 128.0) AS INT)").as("wins"))
        .select(col("media_id"),
          explode(expr("sequence(0, wins - 1)")).as("win_idx"),
          col("text"))
        .select(col("media_id"), col("win_idx").cast("int").as("win_idx"),
          expr("substring(text, win_idx * 128 + 1, 128)").as("sl"))
        .select(col("media_id"), col("win_idx"),
          length(col("sl")).cast("int").as("n_samples"),
          expr("""CAST(aggregate(transform(sequence(1, length(sl)),
            |  i -> ascii(substring(sl, i, 1))), 0L,
            |  (a, x) -> a + CAST(x AS BIGINT) * x) AS BIGINT)""".stripMargin)
            .as("energy"),
          expr("""CAST(array_max(transform(sequence(1, length(sl)),
            |  i -> ascii(substring(sl, i, 1)))) AS INT)""".stripMargin)
            .as("peak"))
        .orderBy(col("media_id"), col("win_idx"))
    },

    // Resize planning: aspect-preserving fit of each media's (width,
    // height) metadata into a 224×224 budget — the preprocessing step
    // before a real decoder resize. Pure integer arithmetic on the
    // metadata struct (the payload is untouched): scale = min over
    // axes, floor to pixels, never upscale. At 100 TB this runs in the
    // scan projection; the actual pixel work happens in the partition-
    // wise decode stage (Multimodal.decodeStub's slot).
    Q("mm_resize",
      """WITH m AS (SELECT doc_id AS media_id,
        |    CAST(64 + doc_id % 64 AS INT) AS width,
        |    CAST(64 + doc_id % 32 AS INT) AS height
        |  FROM documents)
        |SELECT media_id, width, height,
        |  CAST(floor(width * least(least(224.0 / width, 224.0 / height), 1.0)) AS INT) AS out_w,
        |  CAST(floor(height * least(least(224.0 / width, 224.0 / height), 1.0)) AS INT) AS out_h,
        |  (width * height > 224 * 224) AS oversized
        |FROM m
        |ORDER BY media_id""") { (s, d) =>
      Multimodal.attachPayload(Tables.documents(s, d))
        .withColumn("__scale",
          least(least(lit(224.0) / col("width"), lit(224.0) / col("height")), lit(1.0)))
        .select(col("media_id"), col("width"), col("height"),
          floor(col("width") * col("__scale")).cast("int").as("out_w"),
          floor(col("height") * col("__scale")).cast("int").as("out_h"),
          (col("width") * col("height") > 224 * 224).as("oversized"))
        .orderBy(col("media_id"))
    },

    // Perceptual-hash (average-hash) near-duplicate pairs over the
    // binary payload — image dedup's shape: decode → 64 "pixels" →
    // 64-bit aHash → banded candidate join → Hamming verify. The
    // decode stays STUBBED deterministically (pixels are md5 bytes of
    // the payload, computed identically in both engines — the real
    // image decoder is the only swap point); everything downstream is
    // the production plumbing. The bit rule is integer-exact
    // (64·pixel > Σpixels, no float mean), the hash travels as 8×8-bit
    // bands so candidates come from a band equi-join (the same
    // bucketed shape as SimHash — never all-pairs), and the popcount
    // verify runs only on candidates. Scale: one self-equi-join on
    // (band, value) + two hash-keyed lookups — 100 TB-safe.
    Q("mm_phash_pairs",
      s"""WITH $phashCtes
        |SELECT m1, m2, CAST(hamming AS INT) AS hamming
        |FROM h WHERE hamming <= 24
        |ORDER BY m1, m2""") { (s, d) =>
      phashPairsOf(s, d)
        .select(col("m1"), col("m2"), col("hamming"))
        .orderBy(col("m1"), col("m2"))
    },

    // Image NEAR-DUP CLUSTER RESOLUTION — SemDeDup's image half: the
    // verified phash pair relation becomes the edge set and the same
    // large-star/small-star contraction the text-dedup family uses
    // resolves transitive media clusters (keep-one-per-cluster is then
    // a trivial rep filter). Shares [[phashCtes]]/[[phashPairsOf]] with
    // mm_phash_pairs and ClusterQueries.starLabels with the CC family —
    // one operator, zero new scale machinery. The oracle reaches the
    // identical labeling by recursive transitive closure.
    Q("mm_dedup_phash_cc",
      s"""WITH RECURSIVE $phashCtes,
        |ed AS (SELECT m1 AS u, m2 AS v FROM h WHERE hamming <= 24),
        |sym AS (SELECT u, v FROM ed UNION SELECT v AS u, u AS v FROM ed),
        |reach(u, v) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u),
        |lab AS (SELECT u AS media_id, min(v) AS rep FROM reach GROUP BY 1),
        |sz AS (SELECT rep, count(*) AS n_members FROM lab GROUP BY 1)
        |SELECT lab.media_id, lab.rep AS cluster_rep,
        |  CAST(sz.n_members AS BIGINT) AS n_members
        |FROM lab JOIN sz USING (rep)
        |ORDER BY media_id""") { (s0, d) =>
      val s = graft.Sessions.withShufflePartitions(s0, 8)
      val edges = phashPairsOf(s, d)
        .select(col("m2").as("u"), col("m1").as("v")) // v < u for starLabels
        .localCheckpoint(true)
      val labels = ClusterQueries.starLabels(edges)
      val all = Tables.documents(s, d).select(col("doc_id").as("media_id"))
        .join(labels.withColumnRenamed("doc_id", "media_id"),
          Seq("media_id"), "left_outer")
        .select(col("media_id"),
          coalesce(col("rep"), col("media_id")).as("cluster_rep"))
      val sz = all.groupBy(col("cluster_rep")).agg(count(lit(1)).as("n_members"))
      all.join(sz, Seq("cluster_rep"))
        .select(col("media_id"), col("cluster_rep"), col("n_members"))
        .orderBy(col("media_id"))
    },

    // NDJSON + gzip sink → schema'd NDJSON source round-trip (K1/K2/W2 as
    // batch operators); oracle computes the same aggregate off parquet.
    Q("src_ndjson_roundtrip",
      s"""SELECT event_type,
         |  CAST(count(*) AS BIGINT) AS cnt,
         |  CAST(sum(CAST("value" AS DECIMAL(18,4))) AS DOUBLE) AS val_sum,
         |  CAST(sum(ts_us) AS BIGINT) AS ts_sum
         |FROM (SELECT event_type, "value", epoch_us(ts) AS ts_us
         |      FROM events WHERE event_id < 5000)
         |GROUP BY event_type
         |ORDER BY event_type""") { (s, d) =>
      val dir = Derived.path("rt-ndjson", d, "events")
      Tables.events(s, d)
        .filter(col("event_id") < 5000)
        .select(col("event_id"), col("event_type"), col("value"),
          unix_micros(col("ts")).as("ts_us"))
        .write.mode("overwrite").option("compression", "gzip").json(dir)
      s.read.schema("event_id BIGINT, event_type STRING, value DOUBLE, ts_us BIGINT")
        .json(dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          expr("CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)").as("val_sum"),
          sum(col("ts_us")).as("ts_sum"))
        .orderBy(col("event_type"))
    },

    // Same round-trip through the custom DataSourceV2 writer (gzip
    // NDJSON with staged-commit publish — graft.sources.ndjson): rows
    // serialize with to_json upstream, land as part-*.log.gz via the
    // task-commit protocol, and read back through the builtin schema'd
    // json source. The oracle is the plain relational answer — the
    // connector must be invisible in the result.
    Q("sink_ndjson_v2",
      """SELECT n_name,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(n_regionkey) AS BIGINT) AS rk_sum
        |FROM nation
        |GROUP BY n_name
        |ORDER BY n_name""") { (s, d) =>
      val dir = Derived.path("rt-ndjsonv2", d, "nation")
      Tables.nation(s, d)
        .select(to_json(struct(col("n_nationkey"), col("n_name"),
          col("n_regionkey"))).as("value"))
        .write.format("graft.sources.ndjson.NdjsonWriteSource")
        .option("path", dir).mode("overwrite").save()
      s.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .json(dir)
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("cnt"), sum(col("n_regionkey")).as("rk_sum"))
        .orderBy(col("n_name"))
    },

    // CSV sink → schema'd CSV source round-trip.
    Q("src_csv_roundtrip",
      """SELECT p_brand,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(p_size) AS BIGINT) AS size_sum
        |FROM part
        |GROUP BY p_brand
        |ORDER BY p_brand""") { (s, d) =>
      val dir = Derived.path("rt-csv", d, "part")
      Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
        .write.mode("overwrite").option("header", "true").csv(dir)
      s.read.schema("p_partkey BIGINT, p_brand STRING, p_size INT")
        .option("header", "true").csv(dir)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("p_size")).as("size_sum"))
        .orderBy(col("p_brand"))
    },

    // binaryFile ingestion — the multimodal on-ramp: raw per-document
    // files (images/audio in production; staged text here) land as
    // (path, length, content: binary) rows WITHOUT decoding, partition
    // columns discovered from the directory layout. The oracle pins
    // byte-exact ingestion: file size and md5 of the raw bytes must
    // equal what the canonical table predicts (text writer = one row +
    // '\n'). Scale posture: binaryFile is a FileFormat — partition
    // pruning on doc_id works, `length` comes from file status (no
    // content read when pruned), and content bytes stream straight to
    // the downstream codec UDF (mm_decode) without re-encoding.
    Q("src_binaryfile",
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) + 1 AS BIGINT) AS n_bytes,
        |  md5(text || chr(10)) AS digest
        |FROM documents WHERE doc_id < 300
        |ORDER BY doc_id""") { (s, d) =>
      val dir = Derived.once("rt-binf", d, "documents")(
        Tables.documents(s, d)
          .filter(col("doc_id") < 300)
          .select(col("doc_id"), col("text"))
          .repartition(col("doc_id"))
          .write.partitionBy("doc_id").text(_))
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt").load(dir)
        .groupBy(col("doc_id").cast("bigint").as("doc_id"))
        .agg(sum(col("length")).as("n_bytes"),
          max(md5(col("content"))).as("digest"))
        .orderBy(col("doc_id"))
    },

    // Schema evolution across parquet file generations: an "old" writer
    // (2 columns) and a "new" writer (3 columns) land in the same
    // dataset; a mergeSchema read unions the schemas and back-fills the
    // missing column with NULL — the shard-merge reality of any
    // long-lived 100 TB dataset (the write path evolved, the read path
    // must not care). The oracle recomputes the expected union from the
    // canonical table; the evolution round-trip itself is what the
    // Spark side proves.
    Q("src_schema_evolution",
      """SELECT c_custkey, c_name,
        |  CASE WHEN c_custkey % 2 = 0 THEN c_mktsegment END AS c_mktsegment
        |FROM customer
        |ORDER BY c_custkey""") { (s, d) =>
      val dir = Derived.once("rt-evo", d, "customer") { stage =>
        val c = Tables.customer(s, d)
        c.filter(col("c_custkey") % 2 =!= 0)
          .select(col("c_custkey"), col("c_name"))
          .write.parquet(s"$stage/v1")
        c.filter(col("c_custkey") % 2 === 0)
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
          .write.parquet(s"$stage/v2")
      }
      s.read.option("mergeSchema", "true").parquet(s"$dir/v1", s"$dir/v2")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    },

    // ORC sink → source round-trip (the third columnar/batch format next
    // to parquet and CSV; ORC is Spark-built-in — predicate pushdown and
    // column pruning apply to its scans exactly like parquet's). DuckDB
    // cannot read ORC, so the oracle recomputes off the parquet table —
    // the round-trip itself is what the Spark side proves.
    Q("src_orc_roundtrip",
      """SELECT n_nationkey, n_name,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_nationkey, n_name
        |ORDER BY n_nationkey""") { (s, d) =>
      val dir = Derived.path("rt-orc", d, "supplier")
      Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey"))
        .write.mode("overwrite").orc(dir)
      s.read.orc(dir)
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_nationkey"), col("n_name"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("n_nationkey"))
    },

    // Partitioned parquet write → partition-pruned read-back. The scan of
    // one partition must prune at the directory level (the partitioned-
    // sink row of §2.2's source/sink table).
    Q("sink_partitioned",
      """SELECT o_orderstatus,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_orderstatus IN ('F', 'O')
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""") { (s, d) =>
      val dir = Derived.path("rt-part", d, "orders")
      Tables.orders(s, d)
        .write.mode("overwrite").partitionBy("o_orderstatus").parquet(dir)
      s.read.parquet(dir)
        .filter(col("o_orderstatus").isin("F", "O"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"),
          expr("CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)").as("total"))
        .orderBy(col("o_orderstatus"))
    },

    // Multimodal METADATA audit — the pre-decode sanity pass every
    // media pipeline runs before paying for codecs: per (format,
    // orientation) bucket, payload byte budget, dimension envelope,
    // and mean aspect ratio. Decode never runs (metadata + byte length
    // are scan-resident columns), so this is a pure projection +
    // vocab-sized rollup at any corpus size — the report that decides
    // which buckets are worth the GPU decode pass. Aspect terms are
    // DECIMAL-quantized before the mean so the rollup is
    // partition-invariant. The oracle reconstructs the same
    // deterministic metadata the stub attaches (width/height derived
    // from doc_id, payload = text bytes).
    Q("mm_metadata_audit",
      """WITH m AS (SELECT doc_id AS media_id,
        |    octet_length(text::BLOB) AS n_bytes, 'fake/raw' AS format,
        |    64 + doc_id % 64 AS width, 64 + doc_id % 32 AS height
        |  FROM documents),
        |o AS (SELECT *, CASE WHEN width > height THEN 'landscape'
        |    WHEN width < height THEN 'portrait' ELSE 'square' END
        |      AS orientation,
        |    CAST(round(width / CAST(height AS DOUBLE), 9) AS DECIMAL(18,9))
        |      AS aspq
        |  FROM m)
        |SELECT format, orientation, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
        |  round(sum(n_bytes) / CAST(count(*) AS DOUBLE), 4) AS avg_bytes,
        |  CAST(min(width) AS INT) AS min_w, CAST(max(width) AS INT) AS max_w,
        |  CAST(min(height) AS INT) AS min_h, CAST(max(height) AS INT) AS max_h,
        |  round(CAST(sum(aspq) AS DOUBLE) / count(*), 4) AS avg_aspect
        |FROM o GROUP BY 1, 2 ORDER BY format, orientation""") { (s, d) =>
      val m = graft.multimodal.Multimodal
        .attachPayload(Tables.documents(s, d))
        .select(col("media_id"), col("format"), col("width"), col("height"),
          octet_length(col("payload")).as("n_bytes"))
      m.select(col("format"), col("n_bytes"), col("width"), col("height"),
          when(col("width") > col("height"), "landscape")
            .when(col("width") < col("height"), "portrait")
            .otherwise("square").as("orientation"),
          round(col("width") / col("height").cast("double"), 9)
            .cast("decimal(18,9)").as("aspq"))
        .groupBy(col("format"), col("orientation"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_bytes")).cast("long").as("total_bytes"),
          round(sum(col("n_bytes")) / count(lit(1)).cast("double"), 4)
            .as("avg_bytes"),
          min(col("width")).cast("int").as("min_w"),
          max(col("width")).cast("int").as("max_w"),
          min(col("height")).cast("int").as("min_h"),
          max(col("height")).cast("int").as("max_h"),
          round(sum(col("aspq")).cast("double") / count(lit(1)), 4)
            .as("avg_aspect"))
        .orderBy(col("format"), col("orientation"))
    },

    // AUDIO FINGERPRINT MATCHING (Shazam-style constellation hashing,
    // Wang 2003 semantics) — the audio-dedup shape: spectrogram peaks
    // → (f_anchor, f_target, Δt) landmark hashes → inverted-index join
    // → shared-hash match scores. The "dominant frequency" per
    // 32-sample analysis window stays a DETERMINISTIC STUB (window
    // byte-sum mod 61 — a real FFT peak-picker swaps in with the same
    // (media, win) → freq signature); everything downstream is the
    // production plumbing. Scale shape: landmarks are per-media local
    // (anchor joins only its next 3 windows — an equi-join on
    // (media, idx+Δt), O(3) fan-out per window); matching is a hash
    // equi-join with the family's HOT-BUCKET CAP (hashes shared by
    // > 64 media are dropped — a hash half the corpus emits carries no
    // match signal, and caps the join fan-out exactly like WedgeCap);
    // the ≥ 18 shared-hash floor sits far above the chance-collision
    // band (≤ 15 on this corpus at every SF — see Round13eOpsSpec's
    // separation law). Never all-pairs. SIZING LAW: the landmark hash
    // space (1021² freqs × 4 Δt ≈ 4.2M) must dwarf the corpus'
    // landmark volume, or the birthday effect floods every bucket
    // past the hot cap and matching collapses to zero — a 61-value
    // freq stub did exactly that on the 10× fixture (Shazam's
    // production landmarks are ~30-bit for the same reason); with
    // this space, match volume grows linearly in replicas at 10×.
    Q("mm_audio_fingerprint",
      """WITH m AS (SELECT doc_id AS media_id, text,
        |    CAST(length(text) // 32 AS INT) AS wins FROM documents),
        |f AS (SELECT media_id, CAST(w AS INT) AS idx,
        |    CAST(list_sum(list_transform(
        |      range(1, length(substring(text, CAST(w * 32 + 1 AS INT), 32))
        |        + 1),
        |      i -> ord(substring(substring(text, CAST(w * 32 + 1 AS INT),
        |        32), CAST(i AS INT), 1)))) AS BIGINT) % 1021 AS fr
        |  FROM m, unnest(range(0, wins)) t(w) WHERE wins >= 4),
        |h AS (SELECT a.media_id,
        |    a.fr * 4084 + b.fr * 4 + (b.idx - a.idx) AS hash
        |  FROM f a JOIN f b ON b.media_id = a.media_id
        |    AND b.idx - a.idx BETWEEN 1 AND 3),
        |hd AS (SELECT DISTINCT media_id, hash FROM h),
        |hot AS (SELECT hash, count(*) AS c FROM hd GROUP BY 1),
        |pairs AS (SELECT a.media_id AS u, b.media_id AS v,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM hd a JOIN hd b ON a.hash = b.hash
        |    AND a.media_id < b.media_id
        |  JOIN hot ON hot.hash = a.hash AND hot.c <= 64
        |  GROUP BY 1, 2 HAVING count(*) >= 18)
        |SELECT u, v, n_shared FROM pairs ORDER BY u, v""") { (s, d) =>
      val m = Tables.documents(s, d)
        .select(col("doc_id").as("media_id"), col("text"),
          expr("CAST(length(text) div 32 AS INT)").as("wins"))
        .filter(col("wins") >= 4)
      val f = m
        .select(col("media_id"),
          explode(expr("sequence(0, wins - 1)")).as("idx"), col("text"))
        .select(col("media_id"), col("idx").cast("int").as("idx"),
          expr("substring(text, idx * 32 + 1, 32)").as("sl"))
        .select(col("media_id"), col("idx"),
          (expr("""CAST(aggregate(transform(sequence(1, length(sl)),
            |  i -> ascii(substring(sl, i, 1))), 0L,
            |  (a, x) -> a + x) AS BIGINT)""".stripMargin) % 1021).as("fr"))
      // anchor → {+1,+2,+3} targets. Window indices are contiguous
      // (0..wins-1 by construction), so the dt-offset partner of a
      // window IS lead(fr, dt) over (media, idx) — ONE media-keyed sort
      // instead of three self-joins (each of which re-derived the whole
      // per-window fingerprint relation on both sides: 6 document scans
      // + 12 exchanges in the old plan). Tail windows with no dt-partner
      // surface as NULL leads and are filtered — exactly the rows the
      // equi-join dropped.
      val wl = Window.partitionBy(col("media_id")).orderBy(col("idx"))
      val h = f
        .select(col("media_id"), col("fr"),
          lead(col("fr"), 1).over(wl).as("f1"),
          lead(col("fr"), 2).over(wl).as("f2"),
          lead(col("fr"), 3).over(wl).as("f3"))
        .select(col("media_id"), explode(expr(
          """filter(array(named_struct('fb', f1, 'dt', 1),
            |  named_struct('fb', f2, 'dt', 2),
            |  named_struct('fb', f3, 'dt', 3)), x -> x.fb IS NOT NULL)"""
            .stripMargin)).as("t"), col("fr"))
        .select(col("media_id"),
          (col("fr") * 4084 + col("t.fb") * 4 + col("t.dt")).as("hash"))
      // The distinct landmark relation is 2 narrow longs per row while
      // its lineage holds the whole per-window fingerprint derivation
      // (scan → window explode → 32-char byte-sum per window → lead
      // window → landmark explode). It feeds FOUR consumers — the hot-
      // bucket rollup and both self-join sides each rebuild it (the
      // join keys differ from the distinct's grouping, so exchange
      // reuse cannot fire: 4 scans / 4 windows in the r16 before-plan).
      // One eager checkpoint ⇒ the derivation runs once (guide §2.4 —
      // the winnowing/top-list rule: materialize only when the relation
      // is far smaller than its derivation).
      val hd = h.distinct().localCheckpoint(true)
      val hot = hd.groupBy(col("hash")).agg(count(lit(1)).as("c"))
        .filter(col("c") <= 64).select(col("hash"))
      val hdk = hd.join(hot, Seq("hash"), "left_semi")
      hdk.as("a").join(
          hdk.select(col("hash").as("hb"), col("media_id").as("v")),
          col("hb") === col("a.hash") && col("v") > col("a.media_id"))
        .groupBy(col("a.media_id").as("u"), col("v"))
        .agg(count(lit(1)).cast("long").as("n_shared"))
        .filter(col("n_shared") >= 18)
        .orderBy(col("u"), col("v"))
    })
}
