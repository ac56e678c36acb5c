package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine.Fs

/** Fixture table access (TESTDATA.md): one parquet file per table under a
  * scale-factor directory. Mirrors the reference's catalog scans
  * (`spark.table(...)`, reference `dags/product.py:173`) with the transport
  * swapped to path-based parquet (SURVEY.md §7.1 — no metastore needed for
  * the driver contract; [[graft.engine.Layers]] provides the cataloged
  * bronze/silver/gold variant).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    Fs.readParquet(spark, s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame     = read(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = read(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = read(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = read(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "lineitem")
  /** `events.ts` is written as parquet TIMESTAMP(NANOS), which Spark only
    * reads as a nanosecond long (`spark.sql.legacy.parquet.nanosAsLong`,
    * set in [[Sessions.tune]]). Convert to a microsecond timestamp here —
    * truncation, matching DuckDB's `ts::TIMESTAMP` (FIXTURES.md). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = read(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer division — ns-since-epoch exceeds double's 2^53 mantissa
        raw.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // fixture vintages without parquet tz metadata arrive as NTZ;
        // session_window / unix_micros / withWatermark require LTZ
        // TIMESTAMP — with the session pinned to UTC the cast is
        // instant-preserving
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")
}
