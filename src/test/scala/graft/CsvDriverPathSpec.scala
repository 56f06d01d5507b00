package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.io.{Csv, FooterSchema, LocalWrite}
import graft.pipeline.{JobService, ParquetCatalog, Pipelines}
import graft.text.Dedup
import org.apache.spark.GraftTestBus
import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._

/** The driver path of the control plane against Spark's distributed
  * path, which `LocalWrite.distributedOnly` selects.
  *
  * For each upload shape, `Csv.read` must give the same inferred schema
  * and the same rows in the same order on both paths, and
  * `Csv.writeSingle` of what was read (and, for uploads with a text
  * column, `Pipelines.processData`) must leave a byte-identical part
  * file in a directory whose listing differs only in the part file's
  * uuid. The driver side must run no Spark job and the other side must
  * run some, so each comparison really spans the two paths. Catalog
  * tables written on the driver must read back equal to the
  * distributed write's, microsecond timestamps and nulls included.
  * Outside `distributedOnly`, the cutoff itself picks the path: an upload
  * just within it is read on the driver, one just past it by Spark's
  * scan, listed once and equal to `spark.read.csv`'s. */
class CsvDriverPathSpec extends SparkSpec {

  private val Uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"

  private val Vocab = Array("good", "bad", "great", "slow", "fast", "broken",
    "best", "worst", "the", "a", "product", "order", "ship", "box", "love",
    "hate", "fine", "okay", "win", "error", "price", "value", "quality")

  /** A seeded upload in the benchmark's shape: `doc_id,review,rating,source`
    * with 5 % of reviews and 3 % of ratings empty. */
  private def upload(rows: Int, seed: Long): String = {
    val r = new SplittableRandom(seed)
    val sb = new StringBuilder("doc_id,review,rating,source\n")
    for (i <- 0 until rows) row(sb, i, r)
    sb.toString
  }

  private def row(sb: StringBuilder, i: Int, r: SplittableRandom): Unit = {
    val review = if (r.nextInt(100) < 5) ""
      else Seq.fill(5 + r.nextInt(30))(Vocab(r.nextInt(Vocab.length))).mkString(" ")
    val rating = if (r.nextInt(100) < 3) "" else (1 + r.nextInt(5)).toString
    sb.append(i).append(',').append(review).append(',').append(rating)
      .append(",src").append(r.nextInt(20)).append('\n')
  }

  /** Seeded uploads in the same shape just within and just past the
    * driver-path cutoff: the second is the first plus one row. */
  private def nearCutoff(seed: Long): (String, String) = {
    val r = new SplittableRandom(seed)
    val sb = new StringBuilder("doc_id,review,rating,source\n")
    var within = 0
    var i = 0
    while (sb.length <= LocalWrite.DriverBytes) {
      within = sb.length
      row(sb, i, r)
      i += 1
    }
    (sb.substring(0, within), sb.toString)
  }

  private def sparkRead(path: String) =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  private def withConf[T](settings: (String, String)*)(body: => T): T = {
    val prev = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The number of Spark jobs `body` started, with its result. */
  private def counted[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    GraftTestBus.drain(sc)
    sc.addSparkListener(l)
    try {
      val out = body
      GraftTestBus.drain(sc)
      (out, n.get)
    } finally sc.removeSparkListener(l)
  }

  /** A written directory: its listing with the uuid masked, and the
    * bytes of its one part file. */
  private def written(dir: Path): (Seq[String], Seq[Byte]) = {
    val names = Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .toSeq.sorted
    val parts = names.filter(_.startsWith("part-"))
    assert(parts.size == 1, s"$dir: ${names.mkString(", ")}")
    (names.map(_.replaceAll(Uuid, "<uuid>")),
      Files.readAllBytes(dir.resolve(parts.head)).toSeq)
  }

  private final case class Side(schema: StructType, rows: Seq[Row],
      local: Boolean, out: (Seq[String], Seq[Byte]),
      pipeline: Option[(Seq[String], Seq[Byte])], jobs: Int)

  private def side(in: String, out: Path, text: Boolean): Side = {
    val ((df, local, w), jobs) = counted {
      val df = Csv.read(spark, in)
      Csv.writeSingle(df, out.resolve("copy").toString)
      (df, df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
        if (text) Some(Pipelines.processData(spark, in, out.resolve("etl").toString))
        else None)
    }
    w.foreach(ok => assert(ok, s"processData failed on $in"))
    Side(df.schema, df.collect().toSeq, local, written(out.resolve("copy")),
      w.map(_ => written(out.resolve("etl"))), jobs)
  }

  private def compare(name: String, dir: Path, content: Map[String, String],
      text: Boolean = false, conf: Seq[(String, String)] = Nil): Side = {
    val in = dir.resolve(name)
    content.foreach { case (file, body) =>
      val p = if (file.isEmpty) in else in.resolve(file)
      Files.createDirectories(p.getParent)
      Files.write(p, body.getBytes(StandardCharsets.UTF_8))
    }
    withConf(conf: _*) {
      val driver = side(in.toString, dir.resolve(s"$name.driver"), text)
      val spread = LocalWrite.distributedOnly(
        side(in.toString, dir.resolve(s"$name.spark"), text))
      assert(driver.local && driver.jobs == 0,
        s"$name: the driver path ran ${driver.jobs} jobs")
      assert(!spread.local && spread.jobs > 0, s"$name: the Spark path ran no job")
      assert(driver.schema == spread.schema, name)
      assert(driver.rows == spread.rows, name)
      assert(driver.out._1 == spread.out._1, s"$name: listing")
      assert(driver.out._2 == spread.out._2, s"$name: part file bytes")
      assert(driver.pipeline == spread.pipeline, s"$name: processData output")
      driver
    }
  }

  test("seeded 50-, 500- and 5 000-row uploads: same schema, rows and output bytes") {
    val dir = Files.createTempDirectory("graft_csv_uploads")
    try {
      for ((n, seed) <- Seq(50 -> 21L, 500 -> 22L, 5000 -> 23L)) {
        val s = compare(s"upload_$n.csv", dir, Map("" -> upload(n, seed)), text = true)
        assert(s.rows.size == n)
        assert(s.schema.map(_.dataType) == Seq(IntegerType, StringType, IntegerType, StringType))
      }
    } finally graft.io.Staging.deleteRecursively(dir)
  }

  test("malformed, header-only, CRLF and blank-line, and embedded-newline files") {
    val dir = Files.createTempDirectory("graft_csv_shapes")
    try {
      compare("malformed.csv", dir, Map("" ->
        "a,b,c\n1,2,3\n4,5\n6,7,8,9\n\"unclosed,10,11\nx,12,13\n"))
      val headerOnly = compare("header_only.csv", dir, Map("" -> "id,review,rating\n"),
        text = true)
      assert(headerOnly.rows.isEmpty && headerOnly.schema.size == 3)
      val crlf = compare("crlf.csv", dir, Map("" ->
        "id,review\r\n1,good fast\r\n\r\n2,slow broken\r\n   \r\n\n3,great\r\n"), text = true)
      assert(crlf.rows.size == 3)
      compare("embedded_newline.csv", dir, Map("" ->
        "id,review\n1,\"line one\nline two, still quoted\"\n2,plain good\n3,\"a \"\"quoted\"\" word\"\n"),
        text = true)
    } finally graft.io.Staging.deleteRecursively(dir)
  }

  test("duplicate and empty header names, and every inferred type") {
    val dir = Files.createTempDirectory("graft_csv_types")
    try {
      val dup = compare("dup_header.csv", dir, Map("" -> "a,A,,b,a,\n1,2,3,4,5,6\n7,8,9,10,11,12\n"))
      assert(dup.schema.size == 6)
      val typed = compare("types.csv", dir, Map("" -> (
        "i,l,dec,dbl,d,ts,flag,empty,mixed\n" +
        "1,1,12345678901234567890,1.5,2024-01-02,2024-01-02 03:04:05.123456,true,,1\n" +
        "2,2147483648,1,2.5e3,2024-02-29,2024-12-31 23:59:59,false,,x\n" +
        ",-9,7,-0.25,,2025-06-01 00:00:00.000001,,,3\n")))
      assert(typed.schema.map(_.dataType) == Seq(IntegerType, LongType,
        DecimalType(20, 0), DoubleType, DateType, TimestampType, BooleanType,
        StringType, StringType), typed.schema)
    } finally graft.io.Staging.deleteRecursively(dir)
  }

  test("a directory of part files, and a file cut into many splits") {
    val dir = Files.createTempDirectory("graft_csv_dirs")
    try {
      // files of different sizes, an empty one and the hidden files a
      // Spark write leaves: the scan reads the largest first
      val parts = compare("parts", dir, Map(
        "part-00000.csv" -> upload(30, 31),
        "part-00001.csv" -> upload(120, 32),
        "part-00002.csv" -> "",
        "part-00003.csv" -> upload(7, 33),
        "_SUCCESS" -> "",
        ".staging.csv" -> "not,csv\n"), text = true)
      assert(parts.rows.size == 157)
      // 4 KB partitions: splits that start mid-line skip to the next
      // line, and several splits share a partition
      val split = compare("split.csv", dir, Map("" -> upload(400, 34)), text = true,
        conf = Seq("spark.sql.files.maxPartitionBytes" -> "4096",
          "spark.sql.files.openCostInBytes" -> "1024"))
      assert(split.rows.size == 400)
    } finally graft.io.Staging.deleteRecursively(dir)
  }

  test("catalog tables written on the driver read back equal: µs timestamps and nulls") {
    val dir = Files.createTempDirectory("graft_csv_catalog")
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      val rows = Seq(
        Row(1L, "a.csv", "Completed", "s3://out/a.csv", ts("2026-01-02 03:04:05.123456"), 7L),
        Row(2L, "b.csv", "Failed", null, ts("1999-12-31 23:59:59.999999"), 7L),
        Row(3L, "c.csv", "Processing", null, ts("2026-10-20 00:00:00.000001"), 8L))
      val frame = spark.createDataFrame(rows.asJava, JobService.JobsSchema)
      def stored(name: String): (Seq[Row], StructType, Int) = {
        val cat = new ParquetCatalog(spark, dir.resolve(name).toString)
        val (_, jobs) = counted(cat.writeJobs(frame))
        val back = cat.readJobs()
        (back.orderBy("id").collect().toSeq, back.schema, jobs)
      }
      val driver = stored("driver")
      val spread = LocalWrite.distributedOnly(stored("spark"))
      assert(driver._1 == rows && spread._1 == rows)
      assert(driver._2 == spread._2)
      assert(FooterSchema.of(spark, dir.resolve("driver/jobs").toString) ==
        FooterSchema.of(spark, dir.resolve("spark/jobs").toString))
      // one part file; a local frame is collected without a job
      assert(written(dir.resolve("driver/jobs"))._1 == Seq("._SUCCESS.crc",
        ".part-00000-<uuid>-c000.snappy.parquet.crc", "_SUCCESS",
        "part-00000-<uuid>-c000.snappy.parquet"))
      assert(driver._3 == 0 && spread._3 > 0, s"${driver._3} vs ${spread._3}")
    } finally graft.io.Staging.deleteRecursively(dir)
  }

  test("0-byte and blank-only uploads: Spark's write error on both paths, " +
      "and their jobs end Failed") {
    val dir = Files.createTempDirectory("graft_csv_empty")
    try {
      // Spark's listing drops a 0-byte file, so it takes Spark's scan;
      // blank lines are read on the driver into a frame of no columns
      for ((name, body, local) <- Seq(("empty.csv", "", false),
          ("blank.csv", "\n   \n\r\n", true))) {
        val in = dir.resolve(name)
        Files.write(in, body.getBytes(StandardCharsets.UTF_8))
        def attempt(out: Path): (StructType, Boolean, String) = {
          val df = Csv.read(spark, in.toString)
          (df.schema, df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
            intercept[Exception](Csv.writeSingle(df, out.toString)).getMessage)
        }
        val driver = attempt(dir.resolve(s"$name.driver"))
        val spread = LocalWrite.distributedOnly(attempt(dir.resolve(s"$name.spark")))
        assert(driver._1.isEmpty && driver._2 == local && !spread._2, name)
        assert(driver._3 == spread._3, s"$name: $driver vs $spread")
        def job(side: String): String = {
          val svc = new JobService(spark,
            new ParquetCatalog(spark, dir.resolve(s"$name.catalog.$side").toString))
          assert(svc.register("u", "pw"))
          val id = svc.startEtl("u", in.toString, dir.resolve(s"$name.etl.$side").toString,
            Pipelines.EtlOptions(ai = false))
          svc.jobs.filter(s"id = $id").select("status").head().getString(0)
        }
        assert(job("driver") == "Failed", s"$name, driver path")
        assert(LocalWrite.distributedOnly(job("spark")) == "Failed", s"$name, Spark path")
      }
      // a frame with an empty struct at any depth goes to Spark's write
      assert(!LocalWrite.writable(new CSVFileFormat, StructType(Nil)))
      assert(!LocalWrite.writable(new ParquetFileFormat,
        StructType(Seq(StructField("s", StructType(Nil))))))
    } finally graft.io.Staging.deleteRecursively(dir)
  }

  test("the cutoff picks the path: an upload just within it is read on the " +
      "driver, one just past it by Spark's scan over one listing") {
    val dir = Files.createTempDirectory("graft_csv_cutoff")
    try {
      val (within, past) = nearCutoff(41)
      assert(within.length <= LocalWrite.DriverBytes && past.length > LocalWrite.DriverBytes)
      compare("within.csv", dir, Map("" -> within), text = true)
      val in = dir.resolve("past.csv")
      Files.write(in, past.getBytes(StandardCharsets.UTF_8))
      // files listed and jobs run: the same as spark.read.csv's
      def measured(read: => org.apache.spark.sql.DataFrame) = {
        val files = HiveCatalogMetrics.METRIC_FILES_DISCOVERED
        val before = files.getCount
        val (df, jobs) = counted(read)
        (df, files.getCount - before, jobs)
      }
      val (mine, myFiles, myJobs) = measured(Csv.read(spark, in.toString))
      val (theirs, theirFiles, theirJobs) = measured(sparkRead(in.toString))
      assert(!mine.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
      assert(myFiles == theirFiles && myJobs == theirJobs,
        s"files listed $myFiles vs $theirFiles, jobs $myJobs vs $theirJobs")
      assert(mine.schema == theirs.schema)
      assert(mine.collect().toSeq == theirs.collect().toSeq)
    } finally graft.io.Staging.deleteRecursively(dir)
  }

  test("partition directories, a compressed upload and an empty directory " +
      "read as spark.read.csv reads them") {
    val dir = Files.createTempDirectory("graft_csv_fallbacks")
    try {
      Seq("k=1" -> upload(20, 51), "k=2" -> upload(30, 52)).foreach { case (k, body) =>
        Files.createDirectories(dir.resolve(s"partitioned/$k"))
        Files.write(dir.resolve(s"partitioned/$k/part.csv"),
          body.getBytes(StandardCharsets.UTF_8))
      }
      val gz = dir.resolve("upload.csv.gz")
      val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gz))
      try out.write(upload(40, 53).getBytes(StandardCharsets.UTF_8)) finally out.close()
      for (in <- Seq(dir.resolve("partitioned"), gz).map(_.toString)) {
        val (mine, theirs) = (Csv.read(spark, in), sparkRead(in))
        assert(!mine.queryExecution.optimizedPlan.isInstanceOf[LocalRelation], in)
        assert(mine.schema == theirs.schema, in)
        assert(mine.collect().toSeq == theirs.collect().toSeq, in)
      }
      val none = Files.createDirectories(dir.resolve("none")).toString
      assert(intercept[Exception](Csv.read(spark, none)).getMessage ==
        intercept[Exception](sparkRead(none)).getMessage)
    } finally graft.io.Staging.deleteRecursively(dir)
  }
}
