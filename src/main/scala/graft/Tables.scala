package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetShim

/** Loaders for the driver's parquet testdata (TESTDATA.md).
  *
  * All engine queries take an `sfDir` (e.g. /root/testdata/sf0.01) and read
  * single-table parquet files from it. At cluster scale these would be
  * catalog tables over partitioned parquet; the loader indirection keeps
  * query code independent of the physical layout.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** `spark.read.parquet(path)` without its schema-inference Spark job.
    * The driver reads the one footer that inference would read in a
    * one-task job (GraftParquetShim) and hands the schema to the
    * reader; the frame's schema and rows are the inferred read's. Any
    * path the shim declines (missing, partitioned, empty, schema
    * merging on) goes to Spark's inference, errors included. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    GraftParquetShim.inferredSchema(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  /** Engine contract for events: BOTH `ts_ns: long` (exact epoch nanos,
    * for ordering/gap math) and `ts: timestamp` (µs LTZ, for calendar
    * ops; the session TZ is pinned UTC so epoch math is exact). The
    * testdata generator has shipped two physical layouts — INT64
    * TIMESTAMP(NANOS), which Spark's reader only accepts as a raw long
    * via the legacy conf every [[Session.local]] session sets, and plain
    * µs `timestamp[us]` (read as NTZ) — so normalization dispatches on
    * the loaded dtype. */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEvents(table(s, d, "events"))

  /** See [[events]]; shared with the streaming reader so batch and
    * stream frames agree column-for-column. */
  def normalizeEvents(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case _ =>
        raw
          .withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
          .withColumn("ts_ns", expr("unix_micros(ts) * 1000"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
