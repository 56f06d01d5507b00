package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.pipeline.{CatalogStore, JdbcCatalog, JobService, ParquetCatalog}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** End-to-end control-plane flow: the reference's API surface
  * (register → login → upload → start ETL → job history) driven
  * against the engine. */
class JobServiceSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String) =
    s"${sys.props("java.io.tmpdir")}/graft_test_${tag}_${System.nanoTime()}"

  /** A small review upload at `path`; returns the path. */
  private def upload(path: String): String = {
    Seq(("great fast product", 5), ("slow broken thing", 1), ("fine", 3))
      .toDF("review", "rating").write.option("header", "true").csv(path)
    path
  }

  /** Forwards the four store calls and records, per `writeJobs`, the
    * jobs table by id as that write left it. The table is read back
    * after the write rather than collected from the frame before it:
    * a second execution of the frame would evaluate the insert's
    * `current_timestamp()` again and record an instant never stored. */
  private final class RecordingCatalog(inner: CatalogStore) extends CatalogStore {
    val jobWrites = mutable.ArrayBuffer.empty[Map[Long, Row]]
    override def readUsers(): DataFrame = inner.readUsers()
    override def readJobs(): DataFrame = inner.readJobs()
    override def writeUsers(df: DataFrame): Unit = inner.writeUsers(df)
    override def writeJobs(df: DataFrame): Unit = {
      inner.writeJobs(df)
      jobWrites += byId(inner.readJobs())
    }
  }

  private def byId(jobs: DataFrame): Map[Long, Row] =
    jobs.collect().map(r => r.getAs[Long]("id") -> r).toMap

  test("register/login/startEtl/listJobs full flow incl. failure path") {
    val base = s"${sys.props("java.io.tmpdir")}/graft_test_jobsvc_${System.nanoTime()}"
    val svc = new JobService(spark, s"$base/catalog")

    // register + uniqueness probe (app.py:83)
    assert(svc.register("alice", "s3cret"))
    assert(!svc.register("alice", "other"))
    assert(svc.register("bob", "hunter2"))

    // login + hash verify (app.py:97-109)
    assert(svc.login("alice", "s3cret"))
    assert(!svc.login("alice", "wrong"))
    assert(!svc.login("nobody", "x"))

    // upload + ETL job (app.py:141-189)
    val in = s"$base/upload/reviews.csv"
    Seq(("great fast product", 5), ("slow broken thing", 1))
      .toDF("review", "rating").write.option("header", "true").csv(in)
    val jobId = svc.startEtl("alice", in, s"$base/processed/reviews.csv")
    val job = svc.jobs.filter($"id" === jobId).collect().head
    assert(job.getAs[String]("status") == "Completed")
    assert(job.getAs[String]("result_url") != null)

    // a failing job is recorded as Failed, not thrown (etl_core.py:79)
    val badId = svc.startEtl("bob", s"$base/nonexistent.csv", s"$base/out2")
    val bad = svc.jobs.filter($"id" === badId).collect().head
    assert(bad.getAs[String]("status") == "Failed")
    assert(bad.getAs[String]("result_url") == null)

    // history listing: desc order, 5 projected cols, formatted ts
    val listed = svc.listJobs().collect()
    assert(listed.length == 2)
    assert(listed.head.getAs[Long]("id") == badId) // newest first
    assert(listed.head.schema.fieldNames.toSeq ==
      Seq("id", "filename", "status", "result_url", "upload_time"))
    assert(listed.head.getAs[String]("upload_time")
      .matches("\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}"))

    // the processed output has the enrichment column
    val out = graft.io.Csv.read(spark, s"$base/processed/reviews.csv")
    assert(out.columns.contains("sentiment_result"))
    assert(out.count() == 2)

    // unknown user fails with a NAMED error, not an opaque
    // NoSuchElementException off an empty head()
    val err = intercept[IllegalArgumentException] {
      svc.startEtl("nosuchuser", in, s"$base/out3")
    }
    assert(err.getMessage.contains("nosuchuser"))
  }

  test("parquet catalog survives a crash between the two swap renames") {
    // simulate a writer that died after rename(live -> old): the live
    // path is missing and `.old` holds the only copy. A read must
    // answer from `.old` (not an empty frame), and the next write must
    // RESTORE it rather than drop the last surviving copy.
    val base = s"${sys.props("java.io.tmpdir")}/graft_test_ctcrash_${System.nanoTime()}"
    val store = new pipeline.ParquetCatalog(spark, s"$base/catalog")
    val svc = new JobService(spark, store)
    assert(svc.register("carol", "pw"))
    val usersPath = java.nio.file.Paths.get(s"$base/catalog/users")
    java.nio.file.Files.move(usersPath,
      java.nio.file.Paths.get(s"$base/catalog/users.old"))
    // read-side fallback: the previous version is still the table
    assert(svc.login("carol", "pw"))
    // write-side recovery: the register rewrites users FROM the
    // recovered copy — carol must survive, dave must join
    assert(svc.register("dave", "pw2"))
    assert(svc.login("carol", "pw") && svc.login("dave", "pw2"))
    assert(java.nio.file.Files.exists(usersPath))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$base/catalog/users.old")))
  }

  test("startEtl writes jobs twice: a Processing insert, then only that " +
      "row's completion, upload_time untouched") {
    val base = tmp("jobwrites")
    val store = new RecordingCatalog(new ParquetCatalog(spark, s"$base/catalog"))
    val svc = new JobService(spark, store)
    assert(svc.register("ann", "pw"))
    val in = upload(s"$base/upload/reviews.csv")

    def run(inPath: String, status: String, url: Option[String]): Unit = {
      val prior = byId(svc.jobs)
      store.jobWrites.clear()
      val id = svc.startEtl("ann", inPath, s"$base/out_$status")
      assert(store.jobWrites.size == 2, s"$status: writeJobs calls")
      val Seq(inserted, completed) = store.jobWrites.toSeq
      // the insert adds exactly one Processing row
      assert(inserted - id == prior)
      val row = inserted(id)
      assert(row.getAs[String]("status") == "Processing")
      assert(row.getAs[String]("result_url") == null)
      // the completion changes only that row's status and result_url
      assert(completed - id == prior)
      val done = completed(id)
      assert(done.getAs[String]("status") == status)
      assert(Option(done.getAs[String]("result_url")) == url)
      for (c <- Seq("id", "filename", "upload_time", "user_id"))
        assert(done.getAs[Any](c) == row.getAs[Any](c), s"$status: $c")
    }
    run(in, "Completed", Some(s"$base/out_Completed"))
    run(s"$base/nonexistent.csv", "Failed", None)
  }

  test("job ids run 1..n and stay unique when two services take turns " +
      "on one catalog, parquet and JDBC") {
    val stores = Seq[(String, String => CatalogStore)](
      "parquet" -> (d => new ParquetCatalog(spark, s"$d/catalog")),
      "jdbc" -> (d => new JdbcCatalog(spark, s"jdbc:derby:$d/db;create=true")))
    for ((name, open) <- stores) {
      val base = tmp(s"ids_$name")
      val in = upload(s"$base/upload/reviews.csv")
      val missing = s"$base/nonexistent.csv"
      val a = new JobService(spark, open(base))
      assert(a.register("kim", "pw"))
      val ids = (1 to 3).map(i => a.startEtl("kim", in, s"$base/out_$i"))
      assert(ids == Seq(1L, 2L, 3L), name)
      // b seeds from max(id); after b's insert a's counter (3) and then
      // b's (4) are stale, and each must reseed instead of reusing an id
      val b = new JobService(spark, open(base))
      assert(b.startEtl("kim", missing, s"$base/out_4") == 4L, name)
      assert(a.startEtl("kim", in, s"$base/out_5") == 5L, name)
      assert(b.startEtl("kim", missing, s"$base/out_6") == 6L, name)
      assert(a.startEtl("kim", in, s"$base/out_7") == 7L, name)
      val stored = a.jobs.select("id", "status", "result_url").collect()
        .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2))))
        .sortBy(_._1).toSeq
      val expected = (1L to 7L).map { i =>
        if (i == 4 || i == 6) (i, "Failed", None)
        else (i, "Completed", Some(s"$base/out_$i"))
      }
      assert(stored == expected, name)
    }
  }

  test("parquet jobs table survives a crash between the two swap renames") {
    // mirror of the users case: the live `jobs` path is missing and
    // `jobs.old` holds the only copy. listJobs must answer from `.old`,
    // and the next startEtl — from a restarted service, which seeds its
    // id counter from `.old` — must keep every prior row.
    val base = tmp("jobscrash")
    val svc = new JobService(spark, s"$base/catalog")
    assert(svc.register("lee", "pw"))
    val in = upload(s"$base/upload/reviews.csv")
    val first = svc.startEtl("lee", in, s"$base/out1")
    val second = svc.startEtl("lee", in, s"$base/out2")
    val jobsPath = Paths.get(s"$base/catalog/jobs")
    val oldPath = Paths.get(s"$base/catalog/jobs.old")
    Files.move(jobsPath, oldPath)
    def listed() = svc.listJobs().collect().map(r =>
      r.getAs[Long]("id") -> r.getAs[String]("status")).toSeq
    assert(listed() == Seq(second -> "Completed", first -> "Completed"))
    val third = new JobService(spark, s"$base/catalog")
      .startEtl("lee", in, s"$base/out3")
    assert(third == second + 1)
    assert(listed() ==
      Seq(third -> "Completed", second -> "Completed", first -> "Completed"))
    assert(Files.exists(jobsPath) && !Files.exists(oldPath))
  }

  test("completion merge keeps the insert-time upload_time (reference parity)") {
    // Catalog.mergeJobs' contract (the catalog_merge query): an update
    // carrying a NULL upload_time must coalesce to the ORIGINAL insert
    // value — the reference sets upload_time once at insert and never
    // updates it.
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val jobs = Seq((1L, "f.csv", "Processing", null: String, t0, 7L))
      .toDF("id", "filename", "status", "result_url", "upload_time", "user_id")
    val done = Seq((1L, "f.csv", "Completed", "out/f.csv", null: java.sql.Timestamp, 7L))
      .toDF("id", "filename", "status", "result_url", "upload_time", "user_id")
    val merged = graft.io.Catalog.mergeJobs(jobs, done).collect().head
    assert(merged.getAs[String]("status") == "Completed")
    assert(merged.getAs[java.sql.Timestamp]("upload_time") == t0)
    assert(merged.getAs[String]("result_url") == "out/f.csv")
  }

  test("bench locale pin must be a REAL locale: US satisfies both the " +
      "dot-decimal JSON contract and Derby database creation") {
    // regression for the ROOT-pin defect: Locale.ROOT has an empty
    // language code and Derby validates the DEFAULT locale at
    // database-create ("XBM0X: Supplied locale description '' is
    // invalid") — so the original Bench pin silently failed
    // catalog_users_jdbc in every bench run while Verify (no pin)
    // kept passing. Pin both halves of the contract under US.
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.US)
      assert(f"${1234.5678}%.3f" == "1234.568") // the JSON-line half
      val base =
        s"${sys.props("java.io.tmpdir")}/graft_test_jdbc_loc_${System.nanoTime()}"
      val cat = new graft.pipeline.JdbcCatalog(spark,
        s"jdbc:derby:$base/db;create=true")
      cat.writeUsers(Seq((1L, "u", "p", new java.sql.Timestamp(0)))
        .toDF("id", "username", "password", "created_at"))
      assert(cat.readUsers().count() == 1) // the Derby half
    } finally java.util.Locale.setDefault(saved)
  }

  test("catalog behind a live JDBC database (embedded Derby)") {
    val base = s"${sys.props("java.io.tmpdir")}/graft_test_jdbc_${System.nanoTime()}"
    val url = s"jdbc:derby:$base/db;create=true"
    val svc = new JobService(spark,
      new graft.pipeline.JdbcCatalog(spark, url))

    assert(svc.register("carol", "pw1"))
    assert(!svc.register("carol", "pw2")) // uniqueness probe via JDBC read
    assert(svc.register("dan", "pw3"))
    assert(svc.login("carol", "pw1"))
    assert(!svc.login("carol", "nope"))

    // rows actually live in the database, typed per the catalog schema
    val raw = spark.read.jdbc(url, "users", new java.util.Properties())
    assert(raw.count() == 2)
    assert(raw.schema("id").dataType == org.apache.spark.sql.types.LongType)

    // job-state machine over JDBC: Failed path (no input file)
    val badId = svc.startEtl("carol", s"$base/missing.csv", s"$base/out")
    val bad = svc.jobs.filter($"id" === badId).collect().head
    assert(bad.getAs[String]("status") == "Failed")

    // the stage-and-swap overwrite (no driver collect) leaves only the
    // live tables behind — every register/startEtl above was a full
    // read-modify-overwrite cycle through the staging path
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.getMetaData.getTables(null, null, "%", Array("TABLE"))
      val names = scala.collection.mutable.Set.empty[String]
      while (rs.next()) names += rs.getString("TABLE_NAME").toLowerCase
      assert(names.contains("users") && names.contains("jobs"))
      assert(!names.exists(n => n.endsWith("_stage") || n.endsWith("_old")),
        s"staging tables left behind: $names")
    } finally conn.close()
  }

  test("a werkzeug-hashed users table logs in unchanged (scrypt interop)") {
    val base = s"${sys.props("java.io.tmpdir")}/graft_test_scrypt_${System.nanoTime()}"
    val svc = new JobService(spark, s"$base/catalog")

    // register in the reference's own wire format (app.py:88)
    assert(svc.register("erin", "s3cret", method = "scrypt"))
    val stored = svc.users.filter($"username" === "erin")
      .select("password").collect().head.getString(0)
    assert(stored.startsWith("scrypt:32768:8:1$"))
    assert(svc.login("erin", "s3cret"))
    assert(!svc.login("erin", "wrong"))

    // a literal hash produced by hashlib.scrypt (what werkzeug calls)
    // dropped straight into the table verifies too
    val migrated = "scrypt:32768:8:1$AbCdEfGhIjKlMnOp$" +
      "b71f4f9b456a647796adb3a999d3f5999f5e719c0c13460bacbe68e3e1db9aeb" +
      "20c889efaa807eeb5469ce3732e97dfe77829fe52d1ff97ecb44e88bde39a543"
    val row = spark.range(1).select(
      lit(99L).as("id"), lit("frank").as("username"),
      lit(migrated).as("password"),
      current_timestamp().as("created_at"))
    new graft.pipeline.ParquetCatalog(spark, s"$base/catalog")
      .writeUsers(svc.users.unionByName(row))
    assert(svc.login("frank", "secret123"))
    assert(!svc.login("frank", "secret124"))

    // mixed table: sha256 users still verify alongside scrypt users
    assert(svc.register("gail", "classic"))
    assert(svc.login("gail", "classic"))
  }
}
