package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._

/** Loaders for the driver-generated testdata tables (TESTDATA.md /
  * FIXTURES.md §B). Schemas are carried by the parquet files themselves;
  * we only centralize naming so every query loads tables one way.
  *
  * Scale posture: a plain parquet scan is already the right 100 TB shape —
  * Catalyst pushes filters + column pruning into the scan, and
  * `spark.sql.files.maxPartitionBytes` controls split sizing. Nothing to
  * hand-roll here.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(path(dir, name))

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.parquet has shipped with three physical ts encodings across
    * fixture generations: TIMESTAMP(NANOS) (surfacing as LongType nanos
    * under spark.sql.legacy.parquet.nanosAsLong), tz-aware micros
    * (TimestampType), and tz-naive micros (TimestampNTZType). Normalize
    * all three to a session-local microsecond TimestampType — the
    * session is pinned UTC so the NTZ cast is value-preserving, and the
    * nanos path truncates exactly like DuckDB reading TIMESTAMP_NS. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
