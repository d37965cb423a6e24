package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** The engine's executable entry — the analog of `k8stream --config
  * file.json` (reference main.go:20-60): load + validate the JSON
  * config, open the watch source (file replay or live API server),
  * load the enrichment dimensions, and run the full streaming pipeline
  * (filter → dedup → enrich → project → count-capped NDJSON sink)
  * until terminated (or the heartbeat's HTTP-426 remote kill stops it).
  *
  *   runMain graft.Main --config cfg.json --watch events.ndjson \
  *     [--objects objects.parquet] [--nodes nodes.parquet] \
  *     [--checkpoint dir]   (default: <file_sink_dir>/_checkpoints/<uid>)
  *   runMain graft.Main --config cfg.json --endpoint https://apiserver \
  *     [--token t] [--namespace ns] ...   (relists every resync_interval,
  *                                          as the config-only live path does)
  *
  * Dimensions default to EMPTY relations when not provided — enrichment
  * left-joins then pass every event through with null enrichment, the
  * reference's cache-miss behavior (k8sclient.go:124-159).
  */
object Main {

  private def parseArgs(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap

  /** Testable core: builds and STARTS the query, returns it.
    * With neither `--watch` nor `--endpoint`, the config file ALONE
    * stands up the live path (kubeconfig / in-cluster resolution) —
    * the reference's primary contract (main.go:28-97). */
  def run(spark: SparkSession, opts: Map[String, String]): StreamingQuery = {
    val configPath = opts.getOrElse("config",
      throw new IllegalArgumentException("--config <file.json> is required"))
    import spark.implicits._
    def dim(key: String, empty: => DataFrame): DataFrame =
      opts.get(key).map(spark.read.parquet(_)).getOrElse(empty)
    val objects = dim("objects",
      Seq.empty[graft.k8s.KubeObject].toDF())
    val nodes = dim("nodes", Seq.empty[graft.k8s.KubeNode].toDF())
    val checkpoint = opts.getOrElse("checkpoint", defaultCheckpoint(configPath))
    if (!opts.contains("watch") && !opts.contains("endpoint"))
      return graft.streaming.StreamPipeline.runLive(
        configPath, spark, objects, nodes, checkpoint)
    val src = opts.get("watch") match {
      case Some(w) => spark.readStream
        .format("graft.sources.k8s.K8sEventSource").option("path", w).load()
      case None => graft.streaming.StreamPipeline.liveReader(spark,
        "K8sEventSource", graft.sources.k8s.Kubeconfig.KubeContext(
          opts("endpoint"), opts.get("token"), opts.get("namespace")),
        graft.k8s.GraftConfig.load(configPath)).load()
    }
    graft.streaming.StreamPipeline.runFromConfig(
      configPath, src, objects, nodes, checkpoint)
  }

  /** A file or s3 config checkpoints under its own sink directory,
    * `<fileSinkDir>/_checkpoints/<uid>`, so a rerun or restart of the
    * same config resumes its batch ids instead of starting again at 0
    * and overwriting the earlier `<uid>_<batchId>` directories. The
    * in-process memory sink does not outlive the JVM, so it takes a
    * fresh temp directory. */
  private def defaultCheckpoint(configPath: String): String = {
    val conf = graft.k8s.GraftConfig.load(configPath)
    if (conf.sink == "memory")
      java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    else s"${conf.fileSinkDir.stripSuffix("/")}/_checkpoints/${conf.uid}"
  }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    val spark = GraftSession.configure(SparkSession.builder())
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val q = run(spark, opts)
    q.awaitTermination()
  }
}
