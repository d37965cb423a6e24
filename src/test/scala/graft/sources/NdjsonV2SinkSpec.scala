package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.sinks.NoLogRenameFileSystem
import org.apache.spark.sql.functions._

/** Commit-protocol behavior of the DataSourceV2 gzip-NDJSON writer:
  * only committed files become visible, overwrite truncates, aborts
  * leave no debris, and the one-string-column contract is enforced. */
class NdjsonV2SinkSpec extends SparkSpec {
  import spark.implicits._

  private val fmt = "graft.sources.ndjson.NdjsonWriteSource"

  private def listNames(dir: String): Seq[String] = {
    val f = new java.io.File(dir)
    if (!f.exists) Seq.empty
    else f.listFiles.map(_.getName).toSeq.sorted
  }

  test("round-trip: rows survive, part-*.log.gz + _SUCCESS, no _temporary") {
    val dir = Files.createTempDirectory("ndjv2").toString + "/out"
    val df = (1 to 100).map(i => (i.toLong, s"name_$i"))
      .toDF("id", "name")
      .select(to_json(struct(col("id"), col("name"))).as("value"))
      .repartition(4)
    df.write.format(fmt).option("path", dir).mode("overwrite").save()
    val names = listNames(dir)
    assert(names.contains("_SUCCESS"))
    assert(!names.contains("_temporary"))
    assert(names.count(n => n.startsWith("part-") && n.endsWith(".log.gz")) == 4)
    val back = spark.read.schema("id BIGINT, name STRING").json(dir)
    assert(back.count() == 100)
    assert(back.agg(sum("id")).as[Long].head() == 5050L)
  }

  test("overwrite truncates previous output (no stale parts)") {
    val dir = Files.createTempDirectory("ndjv2").toString + "/out"
    def write(n: Int, parts: Int): Unit =
      (1 to n).map(_.toLong).toDF("id")
        .select(to_json(struct(col("id"))).as("value"))
        .repartition(parts)
        .write.format(fmt).option("path", dir).mode("overwrite").save()
    write(50, 8)
    write(10, 2) // fewer parts: stale part-00005 must not survive
    assert(listNames(dir).count(_.startsWith("part-")) == 2)
    assert(spark.read.schema("id BIGINT").json(dir).count() == 10)
  }

  test("an overwrite that fails mid-commit keeps the previous output") {
    val dir = Files.createTempDirectory("ndjv2").toString + "/out"
    def write(path: String, n: Int, opts: Map[String, String]): Unit =
      (1 to n).map(_.toLong).toDF("id")
        .select(to_json(struct(col("id"))).as("value"))
        .repartition(3)
        .write.format(fmt).options(opts).option("path", path).mode("overwrite").save()
    write(s"file://$dir", 30, Map.empty)
    val before = listNames(dir).filter(_.startsWith("part-"))
    assert(before.size == 3, s"first write: $before")
    // Every rename to a .log name reports failure, so the commit fails
    // once the new files are staged and before any of them is in place.
    val e = intercept[java.io.IOException] {
      write(s"norename://$dir", 5, Map("fs.norename.impl" -> classOf[NoLogRenameFileSystem].getName))
    }
    val names = listNames(dir)
    assert(names.filter(_.startsWith("part-")) == before, s"left: $names")
    assert(!names.contains("_SUCCESS"), s"left: $names")
    assert(!names.contains("_temporary"), s"left: $names")
    assert(e.getMessage.contains(s"$dir/part-"), e.getMessage)
    val back = spark.read.schema("id BIGINT").json(dir).as[Long].collect().sorted
    assert(back.toSeq == (1L to 30L))
  }

  test("two append jobs coexist: query-id-tagged names never collide") {
    val dir = Files.createTempDirectory("ndjv2").toString + "/out"
    def append(lo: Int, hi: Int): Unit =
      (lo to hi).map(_.toLong).toDF("id")
        .select(to_json(struct(col("id"))).as("value"))
        .repartition(2)
        .write.format(fmt).option("path", dir).mode("append").save()
    append(1, 50)
    append(51, 80) // same part indexes; would be silent loss without tags
    assert(listNames(dir).count(_.startsWith("part-")) == 4)
    val back = spark.read.schema("id BIGINT").json(dir)
    assert(back.count() == 80)
    assert(back.agg(sum("id")).as[Long].head() == (1 to 80).sum.toLong)
  }

  test("failed job publishes nothing and cleans its staging") {
    val dir = Files.createTempDirectory("ndjv2").toString + "/out"
    // The BOOM row fails the write task itself (repartition keeps the
    // projection out of local-relation folding on the driver), so the
    // writer's abort path runs.
    val df = Seq("ok1", "BOOM", "ok2").toDF("value").repartition(1)
      .select(when(col("value") === "BOOM", raise_error(lit("injected failure")))
        .otherwise(col("value")).as("value"))
    intercept[Exception] {
      df.write.format(fmt).option("path", dir).mode("overwrite").save()
    }
    val names = listNames(dir)
    assert(!names.exists(_.startsWith("part-")), s"published: $names")
    assert(!names.contains("_SUCCESS"))
    // abort() removed the staged attempts
    assert(listNames(s"$dir/_temporary").isEmpty)
  }

  test("maxRecordsPerFile rolls chunks: no published file exceeds the cap") {
    val dir = Files.createTempDirectory("ndjv2").toString + "/out"
    (1 to 25).map(_.toLong).toDF("id")
      .select(to_json(struct(col("id"))).as("value"))
      .coalesce(1) // one task: the cap, not partitioning, must chunk
      .write.format(fmt).option("path", dir)
      .option("maxRecordsPerFile", "10").mode("overwrite").save()
    val parts = listNames(dir).filter(_.startsWith("part-"))
    assert(parts.size == 3, s"expected 3 chunks: $parts") // 10+10+5
    // Every individual file respects the reference batch_size cap.
    for (p <- parts) {
      val n = spark.read.schema("id BIGINT").json(s"$dir/$p").count()
      assert(n <= 10, s"$p holds $n rows > cap")
    }
    assert(spark.read.schema("id BIGINT").json(dir).count() == 25)
  }

  test("Hadoop conf reaches every getFileSystem call: write options (the " +
    "s3a credential/endpoint path) resolve a custom fs scheme end-to-end") {
    // An fs.<scheme>.impl write option is only honored if the option-
    // layered session conf reaches the EXECUTOR writer, the driver
    // commit, and the staging cleanup. With the pre-fix
    // `new Configuration()` at any of those sites the probe:// scheme
    // is unknown there and the write throws — so a clean round-trip IS
    // the passthrough proof. s3a deployments ride exactly this path
    // (fs.s3a.endpoint / credentials as options or spark.hadoop.*).
    val tmp = Files.createTempDirectory("probefs").toString
    val dir = s"probe://$tmp/out"
    val df = (1 to 10).map(i => (i.toLong, s"n$i")).toDF("id", "name")
      .select(to_json(struct(col("id"), col("name"))).as("value"))
      .repartition(2)
    df.write.format(fmt)
      .option("path", dir)
      .option("fs.probe.impl", classOf[ProbeFileSystem].getName)
      .mode("overwrite").save()
    val names = listNames(s"$tmp/out")
    assert(names.contains("_SUCCESS") && !names.contains("_temporary"))
    assert(names.count(n => n.startsWith("part-") && n.endsWith(".log.gz")) == 2)
  }

  test("storageClass/acl options land on the S3A object-attribute keys " +
    "(reference io/flush_s3.go:76-80 parity)") {
    // The conf-capturing probe FS records what an s3a uploader would
    // see: the friendly options must arrive as fs.s3a.create.storage
    // .class / fs.s3a.acl.default in the SAME conf every
    // getFileSystem call receives (driver commit + executor writers).
    val tmp = Files.createTempDirectory("aclfs").toString
    ConfProbeFileSystem.seen.clear()
    Seq("{\"id\":1}").toDF("value")
      .write.format(fmt)
      .option("path", s"cprobe://$tmp/out")
      .option("fs.cprobe.impl", classOf[ConfProbeFileSystem].getName)
      .option("storageClass", "STANDARD_IA")
      .option("acl", "Private")
      .mode("overwrite").save()
    assert(ConfProbeFileSystem.seen.get("fs.s3a.create.storage.class")
      .contains("STANDARD_IA"))
    assert(ConfProbeFileSystem.seen.get("fs.s3a.acl.default")
      .contains("Private"))
  }

  test("session Hadoop conf (spark.hadoop.* / hadoopConfiguration) reaches " +
    "the connector without per-write options") {
    val tmp = Files.createTempDirectory("sprobefs").toString
    spark.sparkContext.hadoopConfiguration
      .set("fs.sprobe.impl", classOf[SessionProbeFileSystem].getName)
    try {
      val df = Seq("{\"id\":1}").toDF("value")
      df.write.format(fmt).option("path", s"sprobe://$tmp/out")
        .mode("overwrite").save()
      assert(listNames(s"$tmp/out").contains("_SUCCESS"))
    } finally spark.sparkContext.hadoopConfiguration.unset("fs.sprobe.impl")
  }

  test("schema contract: more than one column is rejected") {
    val dir = Files.createTempDirectory("ndjv2").toString + "/out"
    val e = intercept[Exception] {
      Seq((1, "a")).toDF("x", "y")
        .write.format(fmt).option("path", dir).mode("append").save()
    }
    // Spark's analyzer rejects the arity mismatch against the table's
    // one-column schema before the builder's own require can fire.
    assert(e.getMessage.contains("TOO_MANY_DATA_COLUMNS") ||
      e.getMessage.contains("STRING column"))
  }
}

/** Local FS masquerading under a custom scheme — the standard probe for
  * "does my conf reach the FileSystem lookup": resolvable ONLY through
  * the fs.probe.impl conf key the test injects as a write option. */
class ProbeFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("probe:///")
}

/** Same probe for the session-conf (no per-write options) path. */
class SessionProbeFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("sprobe:///")
}

/** Probe that RECORDS the object-attribute conf keys it is initialized
  * with — standing in for the s3a uploader that would read them. */
class ConfProbeFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("cprobe:///")
  override def initialize(uri: java.net.URI,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    super.initialize(uri, conf)
    for (k <- Seq("fs.s3a.create.storage.class", "fs.s3a.acl.default"))
      Option(conf.get(k)).foreach(v => ConfProbeFileSystem.seen.put(k, v))
  }
}
object ConfProbeFileSystem {
  import scala.jdk.CollectionConverters._
  val seen: scala.collection.concurrent.Map[String, String] =
    new java.util.concurrent.ConcurrentHashMap[String, String]().asScala
}
