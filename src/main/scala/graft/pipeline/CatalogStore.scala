package graft.pipeline

import java.util.Properties

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types._

/** Storage backend for the control-plane catalog (`users` / `jobs` —
  * reference models.py:8-35). Two implementations:
  *
  *  - [[ParquetCatalog]]: lake-native parquet directories with
  *    temp+swap overwrite (a failed write never truncates the table);
  *  - [[JdbcCatalog]]: a live RDBMS via `spark.read.jdbc` /
  *    `DataFrameWriter.jdbc` — the reference keeps these tables in
  *    Postgres behind SQLAlchemy (reference db.py:12-14, app.py:34-36);
  *    any JDBC url works (unit-tested against embedded Derby — no
  *    network in the test environment).
  *
  * Both implementations overwrite by staging the full new version
  * BEFORE touching the live table (the new version usually derives
  * from a read of the very table being replaced, and Spark plans are
  * lazy — dropping the target mid-read would race), then swapping via
  * rename with rollback on failure. The parquet store collects a table
  * within the driver-path cutoff ([[graft.io.LocalWrite.DriverBytes]])
  * and writes it on the driver, with no write job; a larger table, and
  * every JDBC write, is written by executors, so either store scales
  * past control-plane sizes.
  */
trait CatalogStore {
  def readUsers(): DataFrame
  def readJobs(): DataFrame
  def writeUsers(df: DataFrame): Unit
  def writeJobs(df: DataFrame): Unit
}

/** Parquet-backed catalog under `catalogDir` (the engine default).
  *
  * All filesystem surgery goes through the Hadoop FileSystem of the
  * path — bare local dirs, `file:/`, `hdfs://`, `s3a://` all behave
  * (the old java.io.File spelling silently read EVERY URI-form path as
  * "absent", turning an existing remote catalog into an empty one).
  *
  * Crash safety: a crash between the two swap renames leaves the data
  * only in `.old`. Readers fall back to `.old` when the live path is
  * missing (also covering the in-flight swap window of a concurrent
  * writer — they see the previous version, never an empty table), and
  * the next WRITE restores `.old` to the live name before staging, so
  * the backup is never dropped while it is the only copy. */
final class ParquetCatalog(spark: SparkSession, catalogDir: String)
    extends CatalogStore {
  import JobService.{JobsSchema, UsersSchema}
  import graft.io.FooterSchema
  import org.apache.hadoop.fs.Path
  import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

  private val usersPath = s"$catalogDir/users"
  private val jobsPath = s"$catalogDir/jobs"

  private def fsOf(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Opens the table with its footer schema ([[graft.io.FooterSchema]]):
    * no schema-inference job per read, and every part file of a table
    * comes from one overwrite, so the footer read is the table's schema. */
  private def readOr(path: String, schema: StructType): DataFrame = {
    val live = new Path(path); val old = new Path(s"$path.old")
    val f = fsOf(live)
    if (f.exists(live)) FooterSchema.read(spark, path)
    // mid-swap window or post-crash: the previous version IS the
    // table; reading it (not renaming — readers must not mutate under
    // a concurrent writer) keeps logins working instead of silently
    // answering from an empty frame
    else if (f.exists(old)) FooterSchema.read(spark, s"$path.old")
    // a local relation: the first write's plan is small by its own
    // size estimate, so it too is rewritten on the driver
    else spark.createDataFrame(java.util.List.of[Row](), schema)
  }

  private def overwrite(df: DataFrame, path: String): Unit = {
    val live = new Path(path)
    val old = new Path(s"$path.old")
    val stage = new Path(s"$path.tmp") // sibling → same-filesystem rename
    val f = fsOf(live)
    // The stage write EXECUTES df's lazy plan, and in the post-crash
    // state that plan reads `.old` (readOr's fallback) — so `.old`
    // must not be touched until the stage is materialized (renaming it
    // first made the staged write read files out from under itself —
    // the lineage trap this repo keeps designing out). Recovery then
    // needs no explicit step: `.old` is only deleted AFTER the new
    // live (derived from reading it) is published, so it is never
    // dropped while it is the only copy, and a failed publish rolls it
    // back into the live name.
    writeStage(df, stage.toString)
    if (f.exists(live)) {
      if (f.exists(old) && !f.delete(old, true))
        throw new IllegalStateException(
          s"catalog swap: cannot clear stale $path.old — table untouched")
      if (!f.rename(live, old))
        throw new IllegalStateException(
          s"catalog swap: cannot move $path aside — table left untouched")
    }
    if (!f.rename(stage, live)) {
      // roll the previous version back so a failed swap never leaves
      // the live path missing (a later read would rebuild from empty)
      if (f.exists(old)) f.rename(old, live)
      throw new IllegalStateException(s"catalog swap failed for $path")
    }
    if (f.exists(old) && !f.delete(old, true))
      throw new IllegalStateException(
        s"catalog swap: could not remove $path.old after publish " +
          "(next overwrite would fail on the stale backup)")
  }

  /** The new version into the stage directory. A table within the
    * driver-path cutoff ([[graft.io.LocalWrite.driverLimit]], against
    * the plan's own size estimate) is collected — the write's one Spark
    * job, which also runs any check inside the plan, such as
    * `startEtl`'s id check, before a byte is written — and its rows
    * are written by [[graft.io.LocalWrite]] on the driver, with no
    * write job. A larger table is written by a distributed job. */
  private def writeStage(df: DataFrame, stage: String): Unit = {
    val format = new ParquetFileFormat
    if (graft.io.LocalWrite.driverLimit
          .exists(df.queryExecution.optimizedPlan.stats.sizeInBytes <= _) &&
        graft.io.LocalWrite.writable(format, df.schema))
      graft.io.LocalWrite.writeRows(spark, format, Map.empty, df.schema,
        graft.io.LocalWrite.collect(df).toSeq, stage)
    else df.write.mode("overwrite").parquet(stage)
  }

  override def readUsers(): DataFrame = readOr(usersPath, UsersSchema)
  override def readJobs(): DataFrame = readOr(jobsPath, JobsSchema)
  override def writeUsers(df: DataFrame): Unit = overwrite(df, usersPath)
  override def writeJobs(df: DataFrame): Unit = overwrite(df, jobsPath)
}

/** JDBC-backed catalog — point at the reference's RDS and the same
  * JobService flows run against it unchanged. `url` is any JDBC url
  * (`jdbc:postgresql://…`, `jdbc:derby:…;create=true`); `props`
  * carries user/password/driver.
  */
final class JdbcCatalog(spark: SparkSession, url: String,
    props: Properties = new Properties()) extends CatalogStore {
  import JobService.{JobsSchema, UsersSchema}

  if (url.startsWith("jdbc:derby")) JdbcCatalog.registerDerbyVarcharDialect()

  // explicit VARCHARs: Spark's Derby dialect maps StringType to CLOB,
  // which cannot sit in a pushed-down equality predicate
  private val usersColTypes =
    "username VARCHAR(255), password VARCHAR(512)"
  private val jobsColTypes =
    "filename VARCHAR(512), status VARCHAR(32), result_url VARCHAR(1024)"

  /** True iff `table` exists — via connection metadata, so a missing
    * table is distinguishable from a connection failure: the latter
    * THROWS here and must propagate (swallowing it would make the next
    * overwrite rebuild the catalog from an empty read). */
  private def tableExists(table: String): Boolean = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try tableExistsOn(conn, table) finally conn.close()
  }

  /** Probes by NAME pattern (exact, upper, lower — dialects differ in
    * identifier folding) instead of scanning the whole database's
    * metadata with "%": one indexed lookup per variant, and a
    * same-named table in an unrelated schema can no longer shadow the
    * probe for the common case of thousands of foreign relations. */
  private def tableExistsOn(conn: java.sql.Connection,
      table: String): Boolean = {
    val md = conn.getMetaData
    Seq(table, table.toUpperCase, table.toLowerCase).distinct.exists { pat =>
      val rs = md.getTables(null, null, pat, Array("TABLE"))
      try rs.next() finally rs.close()
    }
  }

  private def readOr(table: String, schema: StructType): DataFrame = {
    def aligned(name: String) = {
      val df = spark.read.jdbc(url, name, props)
      // align nullability/order with the canonical schema
      df.select(schema.fieldNames.toIndexedSeq.map(org.apache.spark.sql.functions.col): _*)
    }
    if (tableExists(table)) aligned(table)
    // post-crash / mid-swap: `<table>_old` holds the previous version —
    // answer from it rather than from an empty frame (the writer's next
    // overwrite restores it to the live name)
    else if (tableExists(s"${table}_old")) aligned(s"${table}_old")
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  }

  /** Stage-and-swap overwrite, mirroring [[ParquetCatalog]]'s temp+swap:
    * the new version is DISTRIBUTED-written to `<table>_stage` first
    * (reading the live target while writing a different table races
    * nothing), then one connection renames target→old, stage→target,
    * rolling old back into place if the second rename throws. No
    * `collect()` — the write path stays executor-side at any size. A
    * hard crash between the two renames leaves `_old`/`_stage` behind
    * (same exposure as the parquet swap); an exception rolls back.
    */
  private def overwrite(df: DataFrame, table: String,
      colTypes: String): Unit = {
    val stage = s"${table}_stage"
    val old = s"${table}_old"
    df.write.mode(SaveMode.Overwrite)
      .option("createTableColumnTypes", colTypes)
      .jdbc(url, stage, props)
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val st = conn.createStatement()
      def rename(from: String, to: String): Unit = {
        val sql =
          if (url.startsWith("jdbc:derby")) s"RENAME TABLE $from TO $to"
          else s"ALTER TABLE $from RENAME TO $to"
        st.executeUpdate(sql); ()
      }
      // `_old` is dropped ONLY while the live table exists (a stale
      // backup) or after the new version is published — never while it
      // is the only copy (post-crash state: the stage above was built
      // from reading it, and publishing the stage IS the recovery)
      val hadTarget = tableExistsOn(conn, table)
      if (hadTarget) {
        if (tableExistsOn(conn, old)) st.executeUpdate(s"DROP TABLE $old")
        rename(table, old)
      }
      try rename(stage, table)
      catch { case e: Throwable =>
        // a failed swap must never leave the live name missing — the
        // next read would silently rebuild the catalog from empty
        if (tableExistsOn(conn, old)) rename(old, table)
        throw e
      }
      if (tableExistsOn(conn, old)) st.executeUpdate(s"DROP TABLE $old")
      ()
    } finally conn.close()
  }

  override def readUsers(): DataFrame = readOr("users", UsersSchema)
  override def readJobs(): DataFrame = readOr("jobs", JobsSchema)
  override def writeUsers(df: DataFrame): Unit =
    overwrite(df, "users", usersColTypes)
  override def writeJobs(df: DataFrame): Unit =
    overwrite(df, "jobs", jobsColTypes)
}

object JdbcCatalog {
  @volatile private var derbyDialectRegistered = false

  /** Spark's built-in Derby dialect maps StringType to CLOB, and then
    * `stmt.setNull(CLOB)` for a null string (e.g. result_url before a
    * job completes) is rejected by Derby when the actual column is the
    * VARCHAR we created (ERROR 22005). Register a VARCHAR-first
    * override for `jdbc:derby:` urls only — an aggregated dialect
    * consults it first and falls through to the built-in for every
    * other type. Idempotent.
    */
  private[pipeline] def registerDerbyVarcharDialect(): Unit =
    if (!derbyDialectRegistered) synchronized {
      if (!derbyDialectRegistered) {
        org.apache.spark.sql.jdbc.JdbcDialects.registerDialect(
          new org.apache.spark.sql.jdbc.JdbcDialect {
            override def canHandle(url: String): Boolean =
              url.startsWith("jdbc:derby")
            override def getJDBCType(dt: org.apache.spark.sql.types.DataType)
                : Option[org.apache.spark.sql.jdbc.JdbcType] = dt match {
              case org.apache.spark.sql.types.StringType =>
                Some(org.apache.spark.sql.jdbc.JdbcType(
                  "VARCHAR(4000)", java.sql.Types.VARCHAR))
              case _ => None
            }
          })
        derbyDialectRegistered = true
      }
    }
}
