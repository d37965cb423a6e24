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

  test("count cap: 14 records at batchSize 5 → files of {5,5,4}") {
    val tmp = Files.createTempDirectory("ndjson").toString
    val df = (1 to 14).map(i => (i.toLong, s"rec-$i")).toDF("id", "payload")
    val files = NdjsonSink.write(df, tmp, "u1", 7L, batchSize = 5)
    assert(files == 3)
    val counts = lineCounts(s"$tmp/u1_7").sorted
    assert(counts == Seq(4, 5, 5))
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

  test("empty batch writes nothing") {
    val tmp = Files.createTempDirectory("ndjson").toString
    val df = Seq.empty[(Long, String)].toDF("id", "payload")
    assert(NdjsonSink.write(df, tmp, "u4", 2L, batchSize = 5) == 0)
    assert(!Files.exists(Paths.get(s"$tmp/u4_2")))
  }

  test("a failed .txt→.log rename fails the write, naming the path") {
    val tmp = Files.createTempDirectory("ndjson").toString
    val df = Seq((1L, "a")).toDF("id", "payload")
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.norename.impl", classOf[NoLogRenameFileSystem].getName)
    try {
      val e = intercept[java.io.IOException] {
        NdjsonSink.write(df, s"norename://$tmp", "u5", 3L, batchSize = 5)
      }
      assert(e.getMessage.contains(s"$tmp/u5_3/part-"), e.getMessage)
    } finally conf.unset("fs.norename.impl")
  }
}

/** Local FS under its own scheme whose rename to a `.log` name reports
  * failure (returns false, as object stores may); the commit protocol's
  * own renames go through untouched. */
class NoLogRenameFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("norename:///")
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean =
    !dst.getName.contains(".log") && super.rename(src, dst)
}
