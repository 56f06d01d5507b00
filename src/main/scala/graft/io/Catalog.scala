package graft.io

import graft.functions.Exprs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's metadata plane (models.py:8-35: `users`, `jobs` in
  * PostgreSQL via SQLAlchemy) re-realized as typed, Parquet-backed
  * catalog tables. `spark.read.jdbc` covers a real RDS in production;
  * here the catalog derives deterministically from the testdata so every
  * catalog query is DuckDB-oracle-able.
  *
  * Role mapping (FIXTURES.md §B): customer → users, orders → jobs, with
  * the FK jobs.user_id → users.id (models.py:32) preserved as
  * o_custkey → c_custkey.
  */
object Catalog {
  final case class User(id: Long, username: String, password: String,
      created_at: java.sql.Timestamp)
  final case class Job(id: Long, filename: String, status: String,
      result_url: String, upload_time: java.sql.Timestamp, user_id: Long)

  val DefaultCreatedAt = "TIMESTAMP '2026-01-01 00:00:00'"

  /** users table (models.py:8-14): id, unique username, password hash,
    * created_at default. Password column = salted hash (X7 semantics,
    * app.py:88). */
  def users(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(
      col("c_custkey").as("id"),
      col("c_name").as("username"),
      Exprs.hashPassword(lit("pw"), col("c_name")).as("password"),
      expr(DefaultCreatedAt).as("created_at"))

  /** jobs table (models.py:24-32) with the reference's job-state machine
    * Pending → Processing → Completed (models.py:29, app.py:158,177)
    * mapped from order status, and result_url populated only for
    * completed jobs (app.py:177-179). */
  def jobs(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      col("o_orderkey").as("id"),
      concat(lit("file_"), col("o_orderkey").cast("string"), lit(".csv")).as("filename"),
      when(col("o_orderstatus") === "F", "Completed")
        .when(col("o_orderstatus") === "O", "Pending")
        .otherwise("Processing").as("status"),
      when(col("o_orderstatus") === "F",
        concat(lit("s3://processed/processed_file_"),
          col("o_orderkey").cast("string"), lit(".csv")))
        .otherwise(lit(null).cast("string")).as("result_url"),
      col("o_orderdate").as("upload_time"),
      col("o_custkey").as("user_id"))

  /** sink_jdbc parity — the reference's UPDATE job SET status, result_url
    * (app.py:177-179) as a declarative transform (at scale: a MERGE into
    * the catalog table, not row-at-a-time UPDATEs). */
  def completePendingJobs(jobs: DataFrame): DataFrame =
    jobs.withColumn("result_url",
        when(col("status") === "Pending",
          concat(lit("s3://processed/processed_"), col("filename")))
          .otherwise(col("result_url")))
      .withColumn("status",
        when(col("status") === "Pending", "Completed").otherwise(col("status")))

  /** sink_jdbc parity — INSERT + COMMIT (app.py:91-92,161-162) as an
    * append of new job rows. */
  def insertJobs(jobs: DataFrame, newJobs: DataFrame): DataFrame =
    jobs.unionByName(newJobs)

  /** MERGE/upsert: apply an updates batch to the catalog — on matching
    * ids each column takes the update's value WHERE NON-NULL and keeps
    * the original otherwise (per-column coalesce, NOT whole-row
    * replacement: an update row cannot null out a field, so an update
    * with a NULL upload_time keeps the insert-time value).
    * Unmatched update rows insert, everything else passes through. At
    * 100 TB this is the per-batch catalog commit (one shuffle on id),
    * replacing the reference's row-at-a-time UPDATE+COMMIT. */
  def mergeJobs(jobs: DataFrame, updates: DataFrame): DataFrame = {
    val u = updates.columns.foldLeft(updates)((df, c) =>
      df.withColumnRenamed(c, s"u_$c"))
    jobs.join(u, jobs("id") === u("u_id"), "full_outer")
      .select(jobs.columns.toIndexedSeq.map(c =>
        coalesce(col(s"u_$c"), col(c)).as(c)): _*)
  }
}
