package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType,
  TimestampNTZType, TimestampType}

import graft.operators.SessionMemo

/** Loaders for the driver's parquet corpus (TESTDATA.md).
  *
  * Scale posture: each table is a parquet directory/file scan; Spark
  * parallelizes by row-group/file split (`spark.sql.files.maxPartitionBytes`).
  * At 100 TB the same call works unchanged — parquet scans with pushed
  * filters and pruned columns (verified via `.explain` in specs).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Normalize one timestamp-bearing column to TimestampType across the
    * three parquet encodings the driver's regenerations have shipped:
    * TIMESTAMP(NANOS) (read as a nanos bigint under
    * spark.sql.legacy.parquet.nanosAsLong, set in Session), timestamp[us]
    * with isAdjustedToUTC=false (read as TIMESTAMP_NTZ), and plain
    * timestamp[us] UTC. Session TZ is pinned UTC, so the NTZ->LTZ cast
    * preserves wall-clock and matches the DuckDB oracle, which reads the
    * same parquet as naive timestamps. Nanos use integer division (a
    * double division would lose precision at 1.7e18 ns). */
  private def normalizeTs(df: DataFrame, c: String): DataFrame =
    df.schema(c).dataType match {
      case LongType =>
        df.withColumn(c, timestamp_micros(expr(s"$c div 1000")))
      case TimestampNTZType => df.withColumn(c, col(c).cast(TimestampType))
      case _                => df
    }

  /** The ANALYZED DataFrame of one corpus table, memoized per (session,
    * dir, table) in the [[graft.operators.SessionMemo]] Corpus tier
    * (r17): every `spark.read.parquet` call re-lists the path and
    * re-reads parquet footers to infer the schema — driver-side metadata
    * work repeated thousands of times across a 356-query bench sweep.
    * The memo reuses the immutable logical plan; the DATA is still read
    * from parquet at every execution (this is catalog-table metadata
    * caching, not result caching). The plan pins the table's parquet
    * FileIndex snapshot, so corpus files must stay immutable for the
    * life of a session — a harness that regenerates corpus files
    * mid-session must clear the Corpus tier
    * (`SparkEntry.clearSessionArtifacts`, ADVICE r17). */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    SessionMemo(SessionMemo.Corpus, spark, dir, name)(load(spark, dir, name))

  private def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // events.ts broke the whole event-time family in r8 when a
    // regeneration switched its encoding; orders.o_orderdate and
    // lineitem.l_shipdate carry the same hazard (year()/to_date() fail
    // analysis on a nanos bigint), so all three go through the seam.
    if (name == "events") normalizeTs(df, "ts")
    else if (name == "orders") normalizeTs(df, "o_orderdate")
    else if (name == "lineitem") normalizeTs(df, "l_shipdate")
    // Same hazard class for embeddings: the engine's native kernels
    // (dot_f32, lsh_bucket_f32, i8_quantize) require array<float> — the
    // corpus's documented encoding. A regeneration that re-encodes the
    // same float32 values as list<double> (float→double is exact, so the
    // double→float cast back is lossless and the DuckDB oracle, reading
    // the identical values, stays bit-compatible) must not break every
    // ANN query at analysis time the way the r8 ts re-encoding broke the
    // event-time family.
    else if (name == "embeddings") df.schema("embedding").dataType match {
      case ArrayType(DoubleType, _) =>
        df.withColumn("embedding", col("embedding").cast("array<float>"))
      case _ => df
    }
    else df
  }
}
