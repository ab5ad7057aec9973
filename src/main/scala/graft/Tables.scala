package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Uniform access to the driver testdata tables.
  *
  * `events.parquet`'s `ts` column has shipped with different physical types
  * across testdata generations, so the reader dispatches on the schema it
  * actually finds rather than hard-coding one:
  *
  *  - INT64 TIMESTAMP(NANOS): Spark's parquet reader rejects it outright
  *    ([PARQUET_TYPE_ILLEGAL]), so we read with
  *    `spark.sql.legacy.parquet.nanosAsLong=true` (the [[Sessions]] policy;
  *    set here too for a session built elsewhere — it is inert for
  *    non-nanos files) and rebuild TimestampType via integral
  *    `DIV 1000` (ns → µs truncation, matching DuckDB's narrowing).
  *    Integer division matters: ns-epoch values (~1.7e18) exceed 2^53 and
  *    would lose precision through a double.
  *  - timestamp[us] without UTC adjustment: Spark reads TIMESTAMP_NTZ; we
  *    cast to TimestampType. The cast interprets the wall clock in the
  *    session timezone, so we pin the session to UTC first (every entry
  *    point in this repo already does; this is a safety net) — then the
  *    stored instant equals the naive wall clock DuckDB sees, and parquet
  *    round-trips hash-match.
  *  - already TimestampType: pass through.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = name match {
    case "events" =>
      if (spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      if (spark.conf.get("spark.sql.session.timeZone", "") != "UTC")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
      val raw = spark.read.parquet(s"$dir/events.parquet")
      raw.schema("ts").dataType match {
        case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
        case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
        case _                => raw
      }
    case _ => spark.read.parquet(s"$dir/$name.parquet")
  }

  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame    = apply(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
