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

/** CSV source/sink with the reference's option semantics:
  * header row + full schema inference on read (reference: pandas
  * `pd.read_csv`, app.py:49 / etl_core.py:27); header + no index on write
  * (app.py:55, etl_core.py:68).
  *
  * The reference emits ONE object per job (app.py:53-62) — `writeSingle`
  * preserves that contract via coalesce(1). At 100 TB that contract is
  * wrong, so `write` (partitioned, the default for engine users) exists
  * alongside it.
  */
object Csv {
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .csv(path)

  /** Partitioned CSV write — the 100 TB default. */
  def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** Single-object CSV write — reference parity (one S3 object per job).
    *
    * repartition(1), NOT coalesce(1): coalesce collapses the WHOLE
    * upstream plan onto the one write task — measured at the 100×
    * corpus (SERIAL.md stage decomposition): the full-etl transform runs
    * 1.25 s on 32 threads but 25.8 s when coalesce(1) single-threads
    * it into the result write. repartition inserts a 1-partition
    * shuffle instead, so the transform keeps its parallelism and only
    * the write (plus one pass of the output bytes — which the lone
    * coalesce task would have pulled anyway) is serial. Row order
    * inside the object is not part of the contract (every consumer
    * re-sorts; the reference's pandas CSV has its own order). */
  def writeSingle(df: DataFrame, path: String): Unit =
    df.repartition(1).write.mode("overwrite").option("header", "true").csv(path)

  /** Fault-tolerant CSV scan (the engine's version of the reference's
    * try/except ingestion, etl_core.py:21-29): PERMISSIVE mode with an
    * explicit schema; malformed rows land whole in `_corrupt_record`
    * instead of failing the job, so one bad row in 100 TB doesn't kill
    * the pipeline and the rejects are queryable. */
  def readPermissive(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(schema.add("_corrupt_record", "string"))
      .csv(path)
}
