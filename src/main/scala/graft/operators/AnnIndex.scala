package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reusable IVF index for approximate nearest-neighbor search — the
  * train-once / probe-many split every production ANN deployment runs
  * (FAISS IVF-Flat re-expressed as Spark relations; Jégou et al.,
  * TPAMI 2011 for the IVF framing).
  *
  * The index is two on-disk relations:
  *   - `centroids`  (cell, dim, cx): one row per cell×dimension — tiny,
  *     broadcast at probe time.
  *   - `postings`   (vec_id, ev, nrm, cell): the corpus with
  *     precomputed L2 norms, written PARTITIONED BY cell so each cell
  *     is its own directory.
  *
  * Probe cost model (the reason this shape survives 100 TB): assigning
  * a query to its nearest cell touches only the broadcast centroid
  * table; the posting read is a PARTITION-PRUNED directory read — the
  * assigned cells are a bounded set (≤ one per probe query), pushed as
  * a static `cell IN (...)` filter, so the scan lists and reads
  * ~n_probed/n_cells of the corpus BY LAYOUT, no corpus-wide shuffle or
  * scan. The only driver-side materialization is that cell set —
  * bounded by the probe-set size (the serving contract), never
  * corpus-scale. AnnIndexSpec pins the pruning mechanically via the
  * scan's numFiles metric.
  *
  * Cell assignment at build time is caller-supplied (`cellCol`) — the
  * fixture uses the deterministic `label`; a production build swaps in
  * cluster_kmeans assignments with no plumbing change.
  */
object AnnIndex {

  /** Build (or rebuild) the index from an embeddings frame
    * (vec_id, embedding array<float>, cellCol). One pass for centroids
    * (keyed avg), one for postings (norm fused into the write). */
  def build(e: DataFrame, dir: String, cellCol: String = "label"): Unit = {
    import graft.functions.GraftFunctions.dot_f
    e.select(col("vec_id"), col(cellCol).as("cell"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .withColumn("x", col("x").cast("double"))
      .groupBy(col("cell"), col("dim"))
      .agg(avg(col("x")).as("cx"))
      .write.mode("overwrite").parquet(s"$dir/centroids")
    e.select(col("vec_id"), col("embedding").as("ev"),
        sqrt(dot_f(col("embedding"), col("embedding"))).as("nrm"),
        col(cellCol).as("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/postings")
  }

  /** The `nprobe` nearest-centroid cells per probe query (FAISS's
    * recall knob — more cells searched, higher recall, linearly more
    * postings read): one broadcast join against the centroid relation +
    * a per-query top-nprobe window. `queries` carries
    * (qid, qe array<float>). */
  def assignCells(s: SparkSession, dir: String, queries: DataFrame,
      nprobe: Int = 1): DataFrame = {
    val centroids = s.read.parquet(s"$dir/centroids")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("d2"), col("cell"))
    queries
      .select(col("qid"), posexplode(col("qe")).as(Seq("dim", "x")))
      .withColumn("x", col("x").cast("double"))
      .join(broadcast(centroids), Seq("dim"))
      .withColumn("sq", (col("x") - col("cx")) * (col("x") - col("cx")))
      .groupBy(col("qid"), col("cell"))
      .agg(sum(col("sq")).as("d2"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= nprobe)
      .select(col("qid"), col("cell"))
  }

  /** Probe: cosine top-k per query over the assigned cells only.
    * Returns (qid, vid, rk, cosine 4dp). The postings scan carries a
    * static partition filter over the assigned cell set, so only those
    * directories are listed/read. Candidates never duplicate across
    * probed cells (each vector lives in exactly one cell). */
  def probe(s: SparkSession, dir: String, queries: DataFrame, k: Int,
      nprobe: Int = 1): DataFrame = {
    import graft.functions.GraftFunctions.dot_f
    val assign = assignCells(s, dir, queries, nprobe)
    // Bounded by the probe-set size (one cell per query) — the static
    // IN-list is what turns the posting read into partition pruning.
    val cells = assign.select(col("cell")).distinct()
      .collect().map(_.get(0)).toSeq
    val post = s.read.parquet(s"$dir/postings")
      .filter(col("cell").isin(cells: _*))
    val q = assign.join(
      queries.select(col("qid"), col("qe"),
        sqrt(dot_f(col("qe"), col("qe"))).as("qn")), Seq("qid"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    post.join(broadcast(q), post("cell") === q("cell") && col("vec_id") =!= col("qid"))
      .withColumn("cos", dot_f(col("qe"), col("ev")) / (col("qn") * col("nrm")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("vec_id").as("vid"), col("rk").cast("int").as("rk"),
        round(col("cos"), 4).as("cosine"))
      .orderBy(col("qid"), col("rk"))
  }
}
