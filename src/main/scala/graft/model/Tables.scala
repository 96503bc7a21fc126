package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver's deterministic parquet fixtures (TESTDATA.md).
  *
  * One parquet file per table under `sfDir`. All reads go through
  * [[Tables.read]] so that the whole engine shares one scan entry point —
  * column pruning and predicate pushdown reach the parquet footer because
  * every query builds a lazy plan on top of these scans (no materialization
  * here, unlike the reference's whole-table XCom hops,
  * reference dags/etl.py:40,81,121-122,167).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def read(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$table.parquet")
    // events.ts has shipped in three parquet physical types across fixture
    // generations; normalize all of them to one microsecond TimestampType so
    // every downstream operator (unix_micros, windows, as-of) sees a single
    // schema:
    //  - TIMESTAMP(NANOS): Spark 4 reads it as a nanos-since-epoch long under
    //    spark.sql.legacy.parquet.nanosAsLong=true (Sessions.configure);
    //    convert with the same ns→µs truncation DuckDB applies.
    //  - timestamp[us] without a timezone: read as TIMESTAMP_NTZ; the session
    //    timezone is pinned to UTC, so the cast is a pure reinterpretation.
    //  - timestamp[us] with UTC: already TimestampType; pass through.
    if (table == "events") df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
    else df
  }

  def region(s: SparkSession, d: String): DataFrame = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = read(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = read(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")
}
