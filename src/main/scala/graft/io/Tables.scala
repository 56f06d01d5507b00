package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet-backed testdata tables (TESTDATA.md). All engine queries load
  * inputs through here so scan options live in one place. */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Older testdata generations wrote events.parquet with
    * TIMESTAMP(NANOS) which Spark's parquet reader rejects; read nanos
    * as long (legacy flag) so the scan succeeds either way. Newer
    * generations write plain timestamp[us] — the flag is then inert. */
  def eventsNanosToTs(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Normalize the events `ts` column to session-zoned TimestampType
    * regardless of which testdata generation produced the file:
    * nano-longs (TIMESTAMP(NANOS) read under nanosAsLong) become
    * microsecond timestamps; timestamp[us] (read as TIMESTAMP_NTZ)
    * casts to TimestampType — identical wall-clock values under the
    * UTC session timezone every entrypoint sets. */
  def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // FLOOR division, not `div` (which truncates toward zero): a
        // pre-epoch nano value like -1500 must become -2 µs, not -1 —
        // `div` would read such a row 1 µs later than DuckDB reads the
        // same file. (ts - pmod(ts, 1000)) is exactly divisible, so
        // the remaining div is floor for any sign.
        df.withColumn("ts",
          expr("timestamp_micros((ts - pmod(ts, 1000)) div 1000)"))
      case org.apache.spark.sql.types.TimestampType => df
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      // anything else means a malformed/unknown generation: fail loudly
      // rather than let a cast silently null out every timestamp.
      case other => throw new IllegalArgumentException(
        s"events.ts has unexpected type $other: expected nano-long " +
          "(TIMESTAMP(NANOS) under nanosAsLong) or timestamp[us]")
    }

  /** Rebalance a small scan across the cluster before compute-heavy
    * per-row work. The testdata parquet is one row group per file, so a
    * scan is ONE task no matter how it's split — minhashing or
    * embedding math downstream would run on a single core. On a real
    * 100 TB table (thousands of row groups) the partition count already
    * exceeds parallelism and this is a no-op. */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = {
    eventsNanosToTs(s)
    normalizeEventsTs(table(s, d, "events"))
  }
  // documents/embeddings feed the compute-heavy operators (minhash,
  // regex batteries, cosine scans) → rebalanced at load.
  def documents(s: SparkSession, d: String): DataFrame =
    spread(table(s, d, "documents"))
  def embeddings(s: SparkSession, d: String): DataFrame =
    spread(table(s, d, "embeddings"))
}
