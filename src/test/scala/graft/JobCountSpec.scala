package graft

import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.pipeline.{JobService, ParquetCatalog}
import graft.sim.EmbIndex
import graft.text.Dedup
import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Pins the number of Spark jobs each serving-path op runs.
  *
  * Index serving: a dedup
  * screen and an accepted append of a 50-doc delta (half planted
  * near-duplicates) against a seeded 2 500-doc text index, an append
  * of a 50-doc delta the screen rejects whole (no more jobs than a
  * screen, no file written), and a
  * 50-query top-k probe, a 50-vector screen (half planted
  * near-duplicates) and a 50-vector append against a seeded
  * 1 000-vector embedding index. At this size each op's wall is its
  * job count times the per-job latency, so these ceilings are the
  * deterministic half of the serving path's cost. Each op runs once
  * unmeasured first (manifest caches, codegen), then once counted,
  * both on fresh inputs so no memo of a previous delta applies.
  *
  * Index maintenance: one `maintainIndex` pass per family over a
  * testdata index with a tenth of its ids erased — the pass probes the
  * tombstone list once and its purge takes that answer — and the
  * tombstone-aware `MmIndex.readIndex`, whose footer-schema opens run
  * no job.
  *
  * Control plane: `register`, `login`, `JobService.startEtl` on a
  * 200-row CSV upload and a `listJobs` poll over a parquet catalog of
  * three users. Their catalog work must not grow with the number of
  * jobs already recorded. The same ops with the driver path off
  * (`LocalWrite.distributedOnly`) take the distributed path, must
  * keep the same flat cost per job at any history, and must leave the
  * same listing and output files. */
class JobCountSpec extends SparkSpec {

  private val Vocab = Array("batch", "part", "spark", "line", "column",
    "order", "small", "sort", "value", "scan", "a", "hash", "slow", "group",
    "fast", "agg", "filter", "query", "big", "key", "window", "row", "table",
    "stream", "merge", "data", "customer", "join", "vector", "the", "good",
    "bad", "great", "error", "clean", "broken", "best", "worst", "win", "dup",
    "index", "shard", "cache", "page", "node", "disk", "load", "store")
  private val DocSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType)))
  private val Dim = 64
  private val VecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  private val rnd = new SplittableRandom(7L)
  private var nextId = 1000000L
  private def freshId(): Long = { nextId += 1; nextId }
  private def text(): String =
    Seq.fill(20 + rnd.nextInt(60))(Vocab(rnd.nextInt(Vocab.length))).mkString(" ")
  /** The same text with its last word swapped: Jaccard stays ≫ 0.7. */
  private def nearDup(t: String): String = {
    val w = t.split(' ')
    var repl = w.last
    while (repl == w.last) repl = Vocab(rnd.nextInt(Vocab.length))
    (w.init :+ repl).mkString(" ")
  }
  private val centres = Array.fill(10, Dim)(rnd.nextGaussian())
  private def vector(): Array[Float] = {
    val c = centres(rnd.nextInt(centres.length))
    Array.tabulate(Dim)(j => ((c(j) + 0.6 * rnd.nextGaussian()) / 8).toFloat)
  }

  private def local(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** The number of Spark jobs `body` started. */
  private def jobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    GraftTestBus.drain(sc)
    sc.addSparkListener(l)
    try {
      body
      GraftTestBus.drain(sc)
      n.get
    } finally sc.removeSparkListener(l)
  }

  test("index-serving ops stay within their Spark job ceilings") {
    val dir = java.nio.file.Files.createTempDirectory("graft_jobcount")
    try {
      val dedupRoot = dir.resolve("dedup").toString
      val embRoot = dir.resolve("emb").toString
      val docs = scala.collection.mutable.ArrayBuffer.tabulate(2500)(i =>
        i.toLong -> text())
      Dedup.writeIndex(spark.createDataFrame(spark.sparkContext.parallelize(
        docs.toSeq.map { case (id, t) => Row(id, t) }, 4), DocSchema),
        "doc_id", "text", dedupRoot)
      val vecs = scala.collection.mutable.ArrayBuffer.tabulate(1000)(i =>
        i.toLong -> vector())
      EmbIndex.writeIndex(spark.createDataFrame(spark.sparkContext.parallelize(
        vecs.toSeq.map { case (id, v) => Row(id, v.toSeq, 0) }, 4), VecSchema),
        embRoot)

      /** 25 near-dups of indexed docs then 25 new docs; the new ids. */
      def delta(): (DataFrame, Set[Long]) = {
        val dups = Seq.fill(25)(freshId() -> nearDup(docs(rnd.nextInt(docs.size))._2))
        val fresh = Seq.fill(25)(freshId() -> text())
        (local((dups ++ fresh).map { case (id, t) => Row(id, t) }, DocSchema),
          fresh.map(_._1).toSet)
      }
      def screen(): Unit = {
        val (d, fresh) = delta()
        val ix = Dedup.readIndex(spark, dedupRoot)
        val acc = Dedup.incrementalAcceptIndexed(ix, d, "doc_id", "text")
          .select("doc_id").collect().map(_.getLong(0)).toSet
        assert(acc == fresh)
      }
      def append(): Unit = {
        val (d, fresh) = delta()
        val ix = Dedup.readIndex(spark, dedupRoot)
        Dedup.appendAcceptedIndexed(dedupRoot, ix, d, "doc_id", "text")
        docs ++= d.collect().map(r => r.getLong(0) -> r.getString(1))
          .filter(p => fresh(p._1))
      }
      def rejectedAppend(): Unit = {
        val d = local(Seq.fill(50)(
          Row(freshId(), nearDup(docs(rnd.nextInt(docs.size))._2))), DocSchema)
        // the stamp lists every live artifact dir's file count, bytes
        // and newest mtime: equal stamps mean no part file landed
        val before = Dedup.contentStamp(dedupRoot)
        Dedup.appendAcceptedIndexed(dedupRoot, Dedup.readIndex(spark, dedupRoot),
          d, "doc_id", "text")
        assert(Dedup.contentStamp(dedupRoot) == before)
      }
      def embProbe(): Unit = {
        val planted = Seq.fill(25) {
          val (id, v) = vecs(rnd.nextInt(vecs.size))
          (freshId(), v.map(_ * 2f)) -> id
        }
        val qs = planted.map(_._1) ++ Seq.fill(25)(freshId() -> vector())
        val ix = EmbIndex.readIndex(spark, embRoot)
        val top = EmbIndex.indexTopKBatch(ix,
            local(qs.map { case (id, v) => Row(id, v.toSeq, 0) }, VecSchema), 5)
          .filter("rank = 1").select("q_id", "vec_id").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        planted.foreach { case ((q, _), src) => assert(top.get(q).contains(src)) }
      }
      /** 25 scaled copies of indexed vectors (cos 1: rejected at the
        * 9/10 threshold) then 25 new vectors. */
      def embScreen(): Unit = {
        val dups = Seq.fill(25)(freshId() -> vecs(rnd.nextInt(vecs.size))._2.map(_ * 2f))
        val fresh = Seq.fill(25)(freshId() -> vector())
        val acc = EmbIndex.incrementalAcceptIndexed(EmbIndex.readIndex(spark, embRoot),
            local((dups ++ fresh).map { case (id, v) => Row(id, v.toSeq, 0) }, VecSchema),
            9, 10)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        assert(acc == fresh.map(_._1).toSet)
      }
      def embAppend(): Unit = {
        val vs = Seq.fill(50)(freshId() -> vector())
        EmbIndex.appendIndex(embRoot,
          local(vs.map { case (id, v) => Row(id, v.toSeq, 0) }, VecSchema))
        vecs ++= vs
      }

      val ops = Seq[(String, () => Unit, Int)](
        ("dedup screen", () => screen(), 6),
        ("dedup accepted append", () => append(), 8),
        ("dedup all-rejected append", () => rejectedAppend(), 20),
        ("emb probe", () => embProbe(), 2),
        ("emb screen", () => embScreen(), 20),
        ("emb append", () => embAppend(), 3))
      ops.foreach(_._2())
      val counts = ops.map { case (name, op, ceiling) =>
        (name, jobs(op()), ceiling)
      }
      val listing = counts.map { case (name, n, c) =>
        s"$name: $n jobs (ceiling $c)" }.mkString("; ")
      info(listing)
      assert(counts.forall { case (_, n, c) => n <= c }, listing)
      val n = counts.map { case (name, k, _) => name -> k }.toMap
      assert(n("dedup all-rejected append") <= n("dedup screen"), listing)
      assert(Dedup.readIndex(spark, dedupRoot).docs.count() == docs.size)
      assert(EmbIndex.readIndex(spark, embRoot).vecs.count() == vecs.size)
    } finally graft.io.Staging.deleteRecursively(dir)
  }

  test("maintenance passes and the media open on tombstoned indexes stay " +
      "within their Spark job ceilings") {
    import org.apache.spark.sql.functions.col
    import graft.multimodal.{MmIndex, Multimodal}
    import graft.sim.PqIndex
    val dir = java.nio.file.Files.createTempDirectory("graft_jobcount_maint")
    try {
      def root(family: String) = dir.resolve(family).toString
      val docs = io.Tables.documents(spark, sf0001).select("doc_id", "text")
      val emb = io.Tables.embeddings(spark, sf0001).select("vec_id", "embedding")
      val media = Multimodal.synthMediaTable(spark,
        io.Tables.documents(spark, sf0001).select("doc_id", "text", "n_chars"))
        .localCheckpoint()
      // every family: a base index with a tenth of its ids erased
      Dedup.writeIndex(docs, "doc_id", "text", root("text"))
      Dedup.eraseFromIndex(root("text"),
        docs.filter(col("doc_id") % 10 === 1).select(col("doc_id").as("id")))
      EmbIndex.writeIndex(emb, root("emb"))
      EmbIndex.eraseFromIndex(root("emb"),
        emb.filter(col("vec_id") % 10 === 1).select("vec_id"))
      PqIndex.writeIndex(emb, root("pq"))
      PqIndex.eraseFromIndex(root("pq"),
        emb.filter(col("vec_id") % 10 === 1).select("vec_id"))
      MmIndex.writeIndex(media, root("mm"))
      MmIndex.eraseFromIndex(root("mm"),
        media.filter(col("doc_id") % 10 === 1).select("doc_id"))
      val mmOpen = jobs { MmIndex.readIndex(spark, root("mm")); () }
      val passes = Seq[(String, () => graft.io.MaintenanceReport, Int)](
        ("text", () => Dedup.maintainIndex(spark, root("text"),
          docs.filter(col("doc_id") % 10 =!= 1), "doc_id", "text"), 24),
        ("emb", () => EmbIndex.maintainIndex(spark, root("emb"),
          emb.filter(col("vec_id") % 10 =!= 1)), 31),
        ("pq", () => PqIndex.maintainIndex(spark, root("pq"),
          emb.filter(col("vec_id") % 10 =!= 1)), 22),
        ("mm", () => MmIndex.maintainIndex(spark, root("mm")), 11))
      val counts = passes.map { case (name, pass, ceiling) =>
        var rep: graft.io.MaintenanceReport = null
        val n = jobs { rep = pass() }
        // the counted pass purges and nothing else
        assert(rep.compacted && !rep.repaired && rep.regenerated.isEmpty,
          s"$name: $rep")
        (name, n, ceiling)
      }
      val listing = (s"mm open: $mmOpen jobs (ceiling 0)" +: counts.map {
        case (name, n, c) => s"$name maintenance pass: $n jobs (ceiling $c)"
      }).mkString("; ")
      info(listing)
      assert(mmOpen == 0 && counts.forall { case (_, n, c) => n <= c }, listing)
      assert(MmIndex.readIndex(spark, root("mm")).count() ==
        media.filter(col("doc_id") % 10 =!= 1).count())
    } finally graft.io.Staging.deleteRecursively(dir)
  }

  /** Spark jobs per control-plane op on a fresh parquet catalog under
    * `root`, with the listing and the output files the ops left. */
  private final case class ControlPlane(register: Seq[Int], login: Int,
      startEtl: Seq[Int], listJobs: Int, listed: Seq[Seq[Any]],
      outputs: Seq[Seq[Byte]])

  /** Three registers, a login, then `n` counted `startEtl`s of `in`
    * after one uncounted (it seeds the id counter and warms codegen),
    * so the count per job can be read at each history length, and a
    * counted `listJobs`. */
  private def controlPlane(root: java.nio.file.Path, in: String, n: Int): ControlPlane = {
    val svc = new JobService(spark,
      new ParquetCatalog(spark, root.resolve("catalog").toString))
    val registers = Seq("u", "v", "w").map(u => jobs(assert(svc.register(u, "pw"))))
    // login of the last-registered user: one job however many part
    // files `users` spans (the first call warms codegen)
    assert(svc.login("w", "pw"))
    val loginJobs = jobs(assert(svc.login("w", "pw")))
    assert(!svc.login("w", "wrong"))
    def out(k: Int) = root.resolve(s"out_$k")
    def startEtl(k: Int): Long = svc.startEtl("u", in, out(k).toString)
    startEtl(0); svc.listJobs().collect()
    val perJob = (1 to n).map(k => jobs(startEtl(k)))
    val listing = jobs { svc.listJobs().collect(); () }
    assert(svc.jobs.filter("status = 'Completed'").count() == n + 1)
    // the listing without upload_time (a wall-clock instant), with
    // result_url relative to `root`
    val listed = svc.listJobs().collect().toSeq.map(r => Seq(r.getLong(0),
      r.getString(1), r.getString(2), r.getString(3).stripPrefix(root.toString)))
    val outputs = (0 to n).map { k =>
      val part = java.nio.file.Files.list(out(k)).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq
      assert(part.size == 1, s"${out(k)}: $part")
      java.nio.file.Files.readAllBytes(part.head).toSeq
    }
    ControlPlane(registers, loginJobs, perJob, listing, listed, outputs)
  }

  test("control-plane ops stay within their Spark job ceilings at any history") {
    val dir = java.nio.file.Files.createTempDirectory("graft_jobcount_etl")
    try {
      val in = dir.resolve("upload.csv")
      java.nio.file.Files.write(in, ("doc_id,review,rating\n" +
        (0 until 200).map(i => s"$i,${text()},${1 + i % 5}\n").mkString)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // the driver path: the upload parsed and written on the driver,
      // the catalog tables collected and rewritten without a write job
      val local = controlPlane(dir.resolve("driver"), in.toString, 30)
      val msg = s"startEtl jobs after 1..30 prior jobs: ${local.startEtl.mkString(",")}; " +
        s"listJobs: ${local.listJobs} jobs; login: ${local.login} jobs; " +
        s"register: ${local.register.mkString(",")} jobs"
      info(msg)
      assert(local.startEtl.forall(_ <= 3) && local.listJobs <= 3 &&
        local.login <= 1 && local.register.forall(_ <= 2), msg)
      assert(local.startEtl.head == local.startEtl.last, msg)
      // with the driver path off (a catalog or an upload past the
      // cutoff), every op takes the distributed path: no more jobs than
      // before the driver path existed, the same count at any history,
      // and the same listing and output bytes
      val spread = graft.io.LocalWrite.distributedOnly(
        controlPlane(dir.resolve("spark"), in.toString, 30))
      val offMsg = s"driver path off: startEtl after 1..30 prior jobs: " +
        s"${spread.startEtl.mkString(",")}; listJobs ${spread.listJobs}; " +
        s"login ${spread.login}; register ${spread.register.mkString(",")}"
      info(offMsg)
      assert(spread.startEtl.forall(_ <= 7) && spread.listJobs <= 3 &&
        spread.login <= 1 && spread.register.forall(_ <= 4), offMsg)
      assert(spread.startEtl.head == spread.startEtl.last, offMsg)
      assert(spread.startEtl.forall(_ > local.startEtl.max), offMsg)
      assert(spread.listed == local.listed)
      assert(spread.outputs == local.outputs)
    } finally graft.io.Staging.deleteRecursively(dir)
  }
}
