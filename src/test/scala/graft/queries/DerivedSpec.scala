package graft.queries

import graft.{SparkEntry, SparkSpec, Tables}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.functions._

/** The artifact store's publish step, and the bucketed copies keyed per
  * dataset. */
class DerivedSpec extends SparkSpec {
  import spark.implicits._

  private def stagingDirs(target: Path): Seq[String] =
    Option(target.getParent.toFile.list()).toSeq.flatten
      .filter(_.startsWith(s"${target.getFileName}.staging-"))

  test("publish serves the artifact another process published first and " +
    "leaves no staging dir") {
    val d = Files.createTempDirectory("publish").toString
    val target = Paths.get(Derived.path("rt-publish", d))
    try {
      // Another JVM publishes the same key while this build runs.
      var stage: Path = null
      val served = Derived.once("rt-publish", d) { dir =>
        stage = Paths.get(dir)
        Seq(1).toDF("v").write.parquet(dir)
        Seq(2).toDF("v").write.parquet(target.toString)
      }
      assert(served == target.toString)
      assert(spark.read.parquet(served).as[Int].collect().toSeq == Seq(2))
      assert(stage != null && !Files.exists(stage), s"staging dir left: $stage")
      assert(stagingDirs(target).isEmpty, stagingDirs(target).toString)
      // A published artifact is served without building.
      assert(Derived.once("rt-publish", d)(_ =>
        fail("built over a published artifact")) == served)
      // A failed build publishes nothing and leaves no staging dir.
      val other = Paths.get(Derived.path("rt-publish-fail", d))
      intercept[IllegalStateException](Derived.once("rt-publish-fail", d) { dir =>
        Seq(1).toDF("v").write.parquet(dir)
        throw new IllegalStateException("build failed")
      })
      assert(!Files.exists(other))
      assert(stagingDirs(other).isEmpty, stagingDirs(other).toString)
    } finally Derived.deleteTree(target)
  }

  test("join_bucketed answers each dataset from its own copies: " +
    "sf0.001, sf0.01, sf0.001 in one session") {
    def plain(d: String): Seq[String] =
      Tables.lineitem(spark, d)
        .join(Tables.orders(spark, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          expr("CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)").as("qty"))
        .orderBy(col("o_orderpriority"))
        .collect().map(_.toString).toSeq
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.001")) {
      val got = SparkEntry.queries("join_bucketed")(spark, d)
        .collect().map(_.toString).toSeq
      assert(got == plain(d), s"join_bucketed on $d")
    }
  }
}
