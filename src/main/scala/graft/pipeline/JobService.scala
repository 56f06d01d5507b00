package graft.pipeline

import graft.functions.{Exprs, Scrypt}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.util.control.NonFatal

/** The reference's control-plane API (app.py routes) re-expressed over
  * the engine's catalog tables — so a user of the reference can switch
  * wholesale:
  *
  *  - register  → uniqueness probe (semi-join shape) + salted-hash
  *                insert              (app.py:74-94)
  *  - login     → point lookup + hash verify        (app.py:97-109)
  *  - startEtl  → job INSERT (Processing) → pipeline → UPDATE
  *                Completed/Failed with result_url  (app.py:141-189);
  *                unlike the reference, failure is recorded (the
  *                frontend already rendered a Failed badge the backend
  *                never produced, SURVEY §2 control-plane note)
  *  - listJobs  → ORDER BY upload_time DESC + 5-column projection +
  *                strftime formatting               (app.py:194-208)
  *
  * State lives behind a [[CatalogStore]]: parquet directories by
  * default, or any JDBC database via [[JdbcCatalog]] (the reference
  * keeps these tables in Postgres — db.py:12-14). Password storage:
  * the engine writes its salted-SHA-256 scheme by default and ALSO
  * verifies werkzeug `scrypt:N:r:p$salt$hex` hashes (app.py:88,102 via
  * [[Scrypt]]), so a users table migrated verbatim from the reference
  * logs in unchanged; pass `method = "scrypt"` to register in the
  * reference's own format.
  */
final class JobService(spark: SparkSession, store: CatalogStore) {
  import JobService._

  def this(spark: SparkSession, catalogDir: String) =
    this(spark, new ParquetCatalog(spark, catalogDir))

  /** The last job id minted; None until the first startEtl seeds it
    * from the catalog. Guarded by the service lock. */
  private var lastJobId: Option[Long] = None

  def users: DataFrame = store.readUsers()
  def jobs: DataFrame = store.readJobs()

  /** app.py:74-94 — duplicate username rejected (uniqueness probe),
    * password stored as salted hash. `method`: "sha256" (engine
    * default) or "scrypt" (werkzeug wire format, reference app.py:88).
    */
  def register(username: String, password: String,
      method: String = "sha256"): Boolean = synchronized {
    // synchronized: register/startEtl are read-modify-write cycles
    // (id allocation + full-table rewrite from the read) — two
    // unserialized calls would mint the same id and the second write
    // would drop the first's row (last-writer-wins). The lock makes
    // THIS service single-writer, like the reference's one DB session.
    // Several services (or processes) may share one catalog, parquet or
    // JDBC, as long as their calls take turns: each call rereads the
    // table, and startEtl's insert write rejects a job id another
    // service has already used. Calls that OVERLAP across services are
    // not serialized by either store — each write replaces the whole
    // table from its own read, so the later one drops the earlier row.
    val existing = users
    if (!existing.filter(col("username") === username).isEmpty) false
    else {
      val maxId = existing.agg(coalesce(max("id"), lit(0L))).head().getLong(0)
      val hashed = method match {
        case "scrypt" => lit(Scrypt.generate(password))
        case _ => Exprs.hashPassword(lit(password), lit(username))
      }
      val row = spark.range(1).select(
        lit(maxId + 1).as("id"),
        lit(username).as("username"),
        hashed.as("password"),
        current_timestamp().as("created_at"))
      store.writeUsers(existing.unionByName(row))
      true
    }
  }

  /** app.py:97-109 — point lookup + hash verify. Accepts both the
    * engine's sha256 scheme (verified by the SAME Exprs.checkPassword
    * expression register writes with — one source of truth) and
    * werkzeug scrypt hashes (a migrated reference users table
    * verifies as-is). No limit(1), as in [[startEtl]]'s lookup:
    * usernames are unique, and a limit's incremental take runs a second
    * job whenever the user is not in the first part file of `users`. */
  def login(username: String, password: String): Boolean = {
    val row = users.filter(col("username") === username)
      .select(col("password"),
        Exprs.checkPassword(lit(password), lit(username), col("password"))
          .as("sha_ok"))
      .collect().headOption
    row.exists { r =>
      val stored = r.getString(0)
      if (stored.startsWith("scrypt:")) Scrypt.verify(stored, password)
      else r.getBoolean(1)
    }
  }

  /** app.py:141-189 — job-state machine around the ETL pipeline.
    * Returns the job id; the job ends Completed (with result_url) or
    * Failed.
    *
    * The catalog work is the reference's one INSERT and one UPDATE:
    * the insert writes `jobs ∪ {Processing row}`, the completion writes
    * `jobs` projected with the job's `status` and `result_url`
    * replaced — every other column, `upload_time` included, passes
    * through, so the insert-time value the reference never updates
    * holds by construction, with no join.
    *
    * Job ids come from a driver-held counter, seeded from the catalog's
    * `max(id)` and advanced only after the insert's write returns. The
    * counter goes stale when another service on the same catalog has
    * inserted since (see [[register]]); the insert write then fails on
    * a stored id not below the new one — a check inside the write, no
    * extra Spark job — and the call reseeds from `max(id)` once. */
  def startEtl(username: String, inPath: String, outPath: String,
      opts: Pipelines.EtlOptions = Pipelines.EtlOptions()): Long = {
    // fail like the reference's auth check (an error naming the input),
    // not with an opaque NoSuchElementException off an empty head().
    // No limit(1): usernames are unique, and a limit's incremental take
    // runs a second job whenever the user is not in the first part file
    val userId = users.filter(col("username") === username)
      .select("id").collect().headOption
      .getOrElse(throw new IllegalArgumentException(
        s"startEtl: unknown user '$username'"))
      .getLong(0)
    val fileName = inPath.split('/').last
    // The insert: `jobs ∪ {Processing row}` with id `last + 1`, or
    // `max(id) + 1` with no counter. A stored id at or above the new
    // one fails the write, so the live table is never replaced.
    def insert(last: Option[Long]): Long = {
      val existing = jobs
      val id = last.getOrElse(
        existing.agg(coalesce(max("id"), lit(0L))).head().getLong(0)) + 1
      val row = spark.range(1).select(
        lit(id).as("id"), lit(fileName).as("filename"),
        lit("Processing").as("status"),
        lit(null).cast("string").as("result_url"),
        current_timestamp().as("upload_time"),
        lit(userId).as("user_id"))
      store.writeJobs(existing
        .withColumn("id", when(col("id") >= id,
          raise_error(lit(s"startEtl: job id $id is already taken")))
          .otherwise(col("id")))
        .unionByName(row))
      id
    }
    // under the service lock; the pipeline itself runs OUTSIDE it. The
    // counter is cleared until a write returns, and only a failure of
    // the cached counter is retried, reseeded from `max(id)`.
    val jobId = synchronized {
      val last = lastJobId
      lastJobId = None
      val id =
        try insert(last)
        catch { case NonFatal(_) if last.isDefined => insert(None) }
      lastJobId = Some(id)
      id
    }
    val ok = Pipelines.processData(spark, inPath, outPath, opts)
    val mine = col("id") === jobId
    val url = if (ok) lit(outPath) else lit(null).cast("string")
    synchronized {
      store.writeJobs(jobs
        .withColumn("status",
          when(mine, lit(if (ok) "Completed" else "Failed"))
            .otherwise(col("status")))
        .withColumn("result_url", when(mine, url).otherwise(col("result_url"))))
    }
    jobId
  }

  /** app.py:194-208 — history listing: desc sort, 5-col projection,
    * formatted timestamp. */
  def listJobs(): DataFrame =
    jobs.orderBy(col("upload_time").desc, col("id").desc)
      .select(col("id"), col("filename"), col("status"), col("result_url"),
        Exprs.formatUploadTime(col("upload_time")).as("upload_time"))
}

object JobService {
  val UsersSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("username", StringType, nullable = false),
    StructField("password", StringType, nullable = false),
    StructField("created_at", TimestampType, nullable = false)))

  val JobsSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("filename", StringType, nullable = false),
    StructField("status", StringType, nullable = false),
    StructField("result_url", StringType, nullable = true),
    StructField("upload_time", TimestampType, nullable = false),
    StructField("user_id", LongType, nullable = false)))
}
