package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.SplittableRandom

import scala.collection.mutable

import graft.io.Csv
import graft.pipeline.{JobService, ParquetCatalog, Pipelines}
import graft.text.Sentiment

/** The reference's control-plane flow: `JobService.startEtl` on seeded
  * CSV uploads (clean + per-row sentiment, CSV out, job rows in a
  * run-private parquet catalog), each job followed by a materialised
  * `listJobs` poll. Job sizes span two decades, so fixed per-job cost
  * (catalog rewrites, schema inference) and per-row cost both show. */
final class EtlJobs(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private val base = math.max(10, (1000 * ctx.args.scale).toInt)
  val sizes: Seq[Int] = Seq(base, base * 10, base * 100)
  private val variants = 4
  private val inDir = ctx.dir("in")
  private val outDir = ctx.dir("out")
  private val catalogDir = ctx.dir("catalog")
  private val user = "bench"

  // the timing store passes calls straight through while the tracer is off
  private val svc = new JobService(spark,
    new TimingCatalog(new ParquetCatalog(spark, catalogDir), tracer))

  /** (input path, rows without a null, input rows) per size and variant. */
  private val inputs = mutable.Map.empty[(Int, Int), (String, Long, Long)]
  /** Every job started: (job id, input, output, expected output rows). */
  private val jobs = mutable.ArrayBuffer.empty[(Long, String, String, Long)]
  private var next = 0

  private def kind(size: Int) = s"etl_$size"
  def readKinds: Set[String] = Set("list_jobs")
  def writeKinds: Set[String] = sizes.map(kind).toSet
  def tailKinds: Set[String] = writeKinds

  /** A CSV upload: documents' text as `review`, with nulls injected into
    * `review` (5%) and `rating` (3%). */
  private def writeInput(path: String, rows: Int, r: SplittableRandom): (Long, Long) = {
    val sb = new StringBuilder("doc_id,review,rating,source\n")
    var kept = 0L
    for (i <- 0 until rows) {
      val review = if (r.nextInt(100) < 5) "" else Gen.docText(r)
      val rating = if (r.nextInt(100) < 3) "" else (1 + r.nextInt(5)).toString
      if (review.nonEmpty && rating.nonEmpty) kept += 1
      sb.append(i).append(',').append(review).append(',').append(rating)
        .append(",src").append(r.nextInt(20)).append('\n')
    }
    new File(path).getParentFile.mkdirs()
    Files.write(new File(path).toPath, sb.toString.getBytes(StandardCharsets.UTF_8))
    (kept, rows.toLong)
  }

  private def startJob(size: Int, variant: Int): Unit = {
    val (in, expected, _) = inputs((size, variant))
    val out = s"$outDir/job_$next"
    next += 1
    val id = tracer.span("pipeline.start_etl")(svc.startEtl(user, in, out))
    jobs += ((id, in, out, expected))
  }

  /** Traced runs only: the job's three pipeline steps timed on their
    * own, outside the op, on the same input. */
  private def standalone(in: String): Unit = tracer.span("aux") {
    val df = tracer.span("aux.infer")(Csv.read(spark, in))
    tracer.span("aux.scan")(df.write.format("noop").mode("overwrite").save())
    val clean = Pipelines.cleanAi(df)
    tracer.span("aux.clean")(clean.write.format("noop").mode("overwrite").save())
    tracer.span("aux.write")(Csv.writeSingle(clean, s"${ctx.dir("aux")}/out"))
  }

  private def listJobs(): Unit =
    tracer.span("pipeline.list_jobs") { svc.listJobs().collect(); () }

  def setup(): Unit = {
    val r = new SplittableRandom(ctx.args.seed)
    ctx.step("inputs")(for (size <- sizes; v <- 0 until variants) {
      val p = s"$inDir/upload_${size}_$v.csv"
      val (kept, rows) = writeInput(p, size, r.split())
      inputs((size, v)) = (p, kept, rows)
    })
    ctx.step("register")(require(svc.register(user, "secret"), "register failed"))
    sizes.foreach(s => ctx.step(s"warm-up ${kind(s)}")(startJob(s, 0)))
    ctx.step("warm-up list_jobs")(listJobs())
  }

  def roundSeconds: Double = 5.0

  private var turn = 0
  def round(rng: java.util.Random): Seq[Op] = {
    val order = scala.util.Random.javaRandomToRandom(rng).shuffle(sizes)
    turn += 1
    order.flatMap { size =>
      val v = (turn + size) % variants
      Seq(Op(kind(size), inputs((size, v))._3, () => startJob(size, v),
          () => standalone(inputs((size, v))._1)),
        Op("list_jobs", 0, () => listJobs()))
    }
  }

  def check(samples: Seq[Sample]): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    val listed = svc.listJobs().collect()
    if (listed.length != jobs.size)
      bad += s"listJobs returned ${listed.length} jobs, expected ${jobs.size}"
    val ids = listed.map(_.getLong(0)).toSeq
    if (ids != jobs.map(_._1).sorted.reverse)
      bad += "listJobs is not every job, newest first"
    listed.filter(_.getString(2) != "Completed").foreach(row =>
      bad += s"job ${row.getLong(0)} ended ${row.getString(2)}")
    for ((id, _, out, expected) <- jobs) {
      val parts = Option(new File(out).listFiles()).getOrElse(Array.empty[File])
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
      if (parts.length != 1) bad += s"job $id wrote ${parts.length} CSV objects"
      else {
        val lines = Files.readAllLines(parts.head.toPath, StandardCharsets.UTF_8)
        if (lines.size - 1 != expected)
          bad += s"job $id wrote ${lines.size - 1} rows, expected $expected"
        val header = lines.get(0).split(',').toSeq
        val (rc, sc) = (header.indexOf("review"), header.indexOf("sentiment_result"))
        if (rc < 0 || sc < 0) bad += s"job $id output lacks review/sentiment_result"
        else (1 until math.min(lines.size, 51)).foreach { i =>
          val f = lines.get(i).split(",", -1)
          if (f(sc) != Sentiment.score(f(rc)))
            bad += s"job $id row $i: sentiment ${f(sc)} != ${Sentiment.score(f(rc))}"
        }
      }
    }
    bad.toSeq
  }

  def spaceAmp(): Double = {
    val inBytes = jobs.map(j => new File(j._2).length()).sum.toDouble
    (Disk.bytes(catalogDir) + Disk.bytes(outDir)) / inBytes
  }

  override def layers(samples: Seq[Sample]): Map[String, Double] = {
    val etlOps = samples.filter(s => s.traced && s.kind.startsWith("etl_"))
    val byOp = tracer.spans.groupBy(_.op)
    def per(f: Seq[Span] => Double) = etlOps.map(s => f(byOp.getOrElse(s.op, Seq.empty).toSeq))
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def sum(name: String)(ss: Seq[Span]) = ss.filter(_.name == name).map(_.seconds).sum
    val catalogS = etlOps.map(s => s.seconds -
      byOp.getOrElse(s.op, Seq.empty).filter(_.name.startsWith("catalog.")).map(_.seconds).sum)
    val infer = per(sum("aux.infer")); val scan = per(sum("aux.scan"))
    val clean = per(sum("aux.clean")); val write = per(sum("aux.write"))
    Map(
      "catalog.read_s" -> med(per(sum("catalog.read"))),
      "catalog.write_s" -> med(per(sum("catalog.write"))),
      "catalog.calls_per_job" -> med(per(_.count(_.name.startsWith("catalog.")).toDouble)),
      "catalog.bytes" -> Disk.bytes(catalogDir).toDouble,
      "pipeline.job_self_s" -> med(catalogS),
      "io.csv_read_s" -> med(infer.zip(scan).map { case (a, b) => a + b }),
      "pipeline.clean_ai_s" -> med(clean.zip(scan).map { case (c, s) => c - s }),
      "io.csv_write_s" -> med(write.zip(clean).map { case (w, c) => w - c }))
  }
}

/** Bytes on disk under a path (a file, or a directory tree). */
object Disk {
  def bytes(path: String): Long = {
    val f = new File(path)
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).getOrElse(Array.empty[File]).map(c => bytes(c.getPath)).sum
  }
}
