package graft.sinks

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** W1/W2/K1 semantics: the count-or-time batch law from the reference's
  * io/batch_test.go:37-48 — 14 records with batch_size 5 flush as
  * {5, 5, 4} — applied to the file layout. */
class NdjsonSinkSpec extends SparkSpec {
  import spark.implicits._

  private def lineCounts(dir: String): Seq[Int] = {
    val d = Paths.get(dir)
    Files.list(d).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.startsWith("part-"))
      .map(p => Files.readAllLines(p).size())
      .filter(_ > 0)
  }

  private def gunzipLines(f: java.io.File): Seq[String] = {
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      new java.util.zip.GZIPInputStream(new java.io.FileInputStream(f)), "UTF-8"))
    try Iterator.continually(in.readLine()).takeWhile(_ != null).toList
    finally in.close()
  }

  /** Jobs that `f` starts, counted by a SparkListener. */
  private def jobsOf[T](f: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graft.ListenerBusFlush.drain(spark.sparkContext, 30000L)
    spark.sparkContext.addSparkListener(l)
    try {
      val r = f
      org.apache.spark.graft.ListenerBusFlush.drain(spark.sparkContext, 30000L)
      (r, jobs.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("count cap: 14 records at batchSize 5 → files of {5,5,4}") {
    val tmp = Files.createTempDirectory("ndjson").toString
    val df = (1 to 14).map(i => (i.toLong, s"rec-$i")).toDF("id", "payload")
    val files = NdjsonSink.write(df, tmp, "u1", 7L, batchSize = 5)
    assert(files == 3)
    val counts = lineCounts(s"$tmp/u1_7").sorted
    assert(counts == Seq(4, 5, 5))
    // A re-run of the same batch with fewer rows leaves only its own file.
    assert(NdjsonSink.write(df.limit(4), tmp, "u1", 7L, batchSize = 5) == 1)
    val names = new java.io.File(s"$tmp/u1_7").list().filterNot(_.startsWith(".")).sorted
    assert(names.toSeq == Seq("_SUCCESS", "part-00000.log"), names.mkString(", "))
    assert(lineCounts(s"$tmp/u1_7") == Seq(4))
  }

  test("W2: every line is a standalone JSON object with the row's fields") {
    val tmp = Files.createTempDirectory("ndjson").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "payload")
    NdjsonSink.write(df, tmp, "u2", 0L, batchSize = 10)
    val lines = lineCounts(s"$tmp/u2_0")
    assert(lines.sum == 2)
    val read = spark.read.json(s"$tmp/u2_0")
    assert(read.columns.sorted.toSeq == Seq("id", "payload"))
    assert(read.count() == 2)
  }

  test("K2 semantics: gzip-compressed NDJSON round-trips") {
    val tmp = Files.createTempDirectory("ndjson").toString
    val df = (1 to 6).map(i => (i.toLong, s"z-$i")).toDF("id", "payload")
    NdjsonSink.write(df, tmp, "u3", 1L, batchSize = 3, gzip = true)
    val d = Paths.get(s"$tmp/u3_1")
    val gz = Files.list(d).iterator().asScala
      .count(_.getFileName.toString.endsWith(".gz"))
    assert(gz == 2)
    assert(spark.read.json(s"$tmp/u3_1").count() == 6)
  }


  test("exact cap over unaligned partitions: ceil(n/bs) multi-member gzip " +
    "files, each ≤ bs, every line once, in 2 jobs") {
    val tmp = Files.createTempDirectory("ndjson").toString
    // 23 rows over 4 partitions of 7, 1, 5 and 10 rows: no partition
    // boundary falls on a multiple of 4, so chunks span partitions.
    val df = spark.sparkContext
      .parallelize(Seq(0 -> 7, 7 -> 1, 8 -> 5, 13 -> 10), 4)
      .flatMap { case (from, n) => (from until from + n).map(i => (i.toLong, s"r-$i")) }
      .toDF("id", "payload")
    assert(df.rdd.getNumPartitions == 4)
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val (files, jobs) = jobsOf(NdjsonSink.write(df, tmp, "u6", 4L, batchSize = 4, gzip = true))
    assert(files == 6)
    assert(jobs == 2, s"jobs per write: $jobs")
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted, "pinned lines left behind")
    val d = new java.io.File(s"$tmp/u6_4")
    val parts = d.listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName)
    assert(parts.map(_.getName).toSeq == (0 until 6).map(k => f"part-$k%05d.log.gz"))
    assert(!d.listFiles().exists(_.getName == "_temporary"), "staging left behind")
    // File k holds global indexes [4k, 4k + 4): the exact routing, read
    // through GZIPInputStream across the members of each file.
    val id = "\"id\":(\\d+)".r.unanchored
    def ids(lines: Seq[String]) = lines.map { case id(i) => i.toInt }
    assert(parts.toSeq.map(f => ids(gunzipLines(f))) == (0 until 23).grouped(4).toSeq)
    // Hadoop's codec (spark.read.text) reads the same files whole.
    assert(ids(spark.read.text(d.getPath).as[String].collect().toSeq).sorted == (0 until 23))
  }

  test("empty batch writes nothing") {
    val tmp = Files.createTempDirectory("ndjson").toString
    val df = Seq.empty[(Long, String)].toDF("id", "payload").repartition(4)
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    // One job: the row count; no write job runs.
    assert(jobsOf(NdjsonSink.write(df, tmp, "u4", 2L, batchSize = 5)) == (0, 1))
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted, "pinned lines left behind")
    assert(!Files.exists(Paths.get(s"$tmp/u4_2")))
  }

  test("a failed publish rename fails the write, naming the path") {
    val tmp = Files.createTempDirectory("ndjson").toString
    val df = Seq((1L, "a")).toDF("id", "payload")
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.norename.impl", classOf[NoLogRenameFileSystem].getName)
    try {
      val e = intercept[java.io.IOException] {
        NdjsonSink.write(df, s"norename://$tmp", "u5", 3L, batchSize = 5)
      }
      assert(e.getMessage.contains(s"$tmp/u5_3/part-"), e.getMessage)
      assert(!Files.exists(Paths.get(s"$tmp/u5_3/_temporary")), "staging left behind")
    } finally conf.unset("fs.norename.impl")
  }

  test("a re-run replaces its files where rename refuses an existing file (HDFS)") {
    val tmp = Files.createTempDirectory("ndjson").toString
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.nooverwrite.impl", classOf[NoOverwriteRenameFileSystem].getName)
    try {
      val dir = s"nooverwrite://$tmp"
      NdjsonSink.write((1 to 6).map(i => (i.toLong, s"a-$i")).toDF("id", "payload"), dir, "u7", 0L, batchSize = 5)
      NdjsonSink.write((1 to 7).map(i => (i.toLong, s"b-$i")).toDF("id", "payload"), dir, "u7", 0L, batchSize = 5)
      val back = spark.read.json(s"$tmp/u7_0").select("payload").as[String].collect().sorted
      assert(back.toSeq == (1 to 7).map(i => s"b-$i").sorted)
      assert(new java.io.File(s"$tmp/u7_0/_SUCCESS").exists)
    } finally conf.unset("fs.nooverwrite.impl")
  }
}

/** Local FS under its own scheme whose rename to a `.log` name reports
  * failure (returns false, as object stores may). Reaching it on the
  * executors also needs the session's Hadoop conf there. */
class NoLogRenameFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("norename:///")
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean =
    !dst.getName.contains(".log") && super.rename(src, dst)
}

/** Local FS under its own scheme whose rename onto an existing file
  * reports failure, as HDFS does (the local FS replaces the file). */
class NoOverwriteRenameFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("nooverwrite:///")
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean =
    !exists(dst) && super.rename(src, dst)
}
