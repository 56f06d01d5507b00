package perfbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.sim.EmbIndex
import graft.text.Dedup
import org.apache.spark.sql.{DataFrame, Row}

/** Reads and writes against run-private persisted indexes: near-dup
  * screens (`Dedup.incrementalAcceptIndexed`) of delta batches with
  * planted near-duplicates, batched top-k probes
  * (`EmbIndex.indexTopKBatch`) with planted neighbours, and appends of
  * accepted docs (`Dedup.appendAcceptedIndexed`) and new vectors
  * (`EmbIndex.appendIndex`) to the same indexes the probes read. */
final class IndexServe(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private val scale = ctx.args.scale
  private val nDocs = math.max(500, (50000 * scale).toInt)
  private val nVecs = math.max(200, (20000 * scale).toInt)
  /** Docs per screened delta and vectors per probe batch; half planted. */
  private val batch = math.max(20, (1000 * scale).toInt)
  private val k = 5
  private val dedupRoot = ctx.dir("dedup_index")
  private val embRoot = ctx.dir("emb_index")
  private val rnd = new SplittableRandom(ctx.args.seed)
  private val vectors = new Gen.Vectors(ctx.args.seed)

  /** What the indexes hold, so planted items can point at any of it. */
  private val docs = mutable.ArrayBuffer.empty[Gen.Doc]
  private val vecs = mutable.ArrayBuffer.empty[(Long, Array[Float])]
  private var nextId = 10000000L
  private var baseBytes = 0L
  private var appendOps = 0
  private var corpusBytes = 0L
  private val bad = mutable.ArrayBuffer.empty[String]
  private var screened = 0L
  private var rejected = 0L
  private var planted = 0L
  private var hits = 0L

  def readKinds: Set[String] = Set("dedup_probe", "emb_probe")
  def writeKinds: Set[String] = Set("dedup_append", "emb_append")
  def tailKinds: Set[String] = readKinds

  private def freshId(): Long = { nextId += 1; nextId }

  private def fail(msg: String): Unit = bad += msg
  private def appended(bytes: Long): Unit = {
    corpusBytes += bytes
    appendOps += 1
  }

  private def local(rows: Seq[Row], schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** A delta: `batch / 2` near-duplicates of indexed docs, the rest new. */
  private def delta(): (Seq[Gen.Doc], Set[Long]) = {
    val r = rnd.split()
    val dups = Seq.fill(batch / 2) {
      val src = docs(r.nextInt(docs.size))
      Gen.Doc(freshId(), Gen.nearDup(src.text, r), src.lang, src.source)
    }
    val fresh = Seq.fill(batch - batch / 2)(
      Gen.Doc(freshId(), Gen.docText(r), Gen.Langs(r.nextInt(5)), s"src${r.nextInt(20)}"))
    (r.nextInt(2) match {
      case 0 => dups ++ fresh
      case _ => fresh ++ dups
    }, fresh.map(_.id).toSet)
  }

  private def docRows(ds: Seq[Gen.Doc]) =
    ds.map(d => Row(d.id, d.text, d.lang, d.source, d.text.length.toLong))

  private def dedupProbe(ds: Seq[Gen.Doc], fresh: Set[Long]): Unit = {
    val ix = tracer.span("dedup.read_index")(Dedup.readIndex(spark, dedupRoot))
    val accepted = tracer.span("dedup.screen")(
      Dedup.incrementalAcceptIndexed(ix, local(docRows(ds), Gen.DocSchema), "doc_id", "text")
        .select("doc_id").collect().map(_.getLong(0)).toSet)
    screened += ds.size
    rejected += ds.size - accepted.size
    if (accepted != fresh) fail(
      s"screen accepted ${accepted.size} of ${ds.size}: expected exactly the ${fresh.size} new docs")
  }

  private def dedupAppend(ds: Seq[Gen.Doc], fresh: Set[Long]): Unit = {
    val ix = tracer.span("dedup.read_index")(Dedup.readIndex(spark, dedupRoot))
    tracer.span("dedup.append")(Dedup.appendAcceptedIndexed(dedupRoot, ix,
      local(docRows(ds), Gen.DocSchema), "doc_id", "text"))
    val added = ds.filter(d => fresh(d.id))
    docs ++= added
    appended(added.map(_.text.length.toLong).sum)
  }

  /** A probe batch: `batch / 2` scaled copies of indexed vectors (their
    * planted rank-1 answer), the rest new vectors. */
  private def queries(): (Seq[(Long, Array[Float], Int)], Map[Long, Long]) = {
    val r = rnd.split()
    val plantedQ = Seq.fill(batch / 2) {
      val (id, v) = vecs(r.nextInt(vecs.size))
      (freshId(), v.map(_ * 2f), 0) -> id
    }
    val fresh = Seq.fill(batch - batch / 2) {
      val (v, l) = vectors.next(r); (freshId(), v, l)
    }
    (plantedQ.map(_._1) ++ fresh, plantedQ.map { case (q, src) => q._1 -> src }.toMap)
  }

  private def vecRows(vs: Seq[(Long, Array[Float], Int)]) =
    vs.map { case (id, v, l) => Row(id, v.toSeq, l) }

  private def embProbe(qs: Seq[(Long, Array[Float], Int)], answer: Map[Long, Long]): Unit = {
    val ix = tracer.span("sim.emb_read_index")(EmbIndex.readIndex(spark, embRoot))
    val top = tracer.span("sim.emb_probe")(
      EmbIndex.indexTopKBatch(ix, local(vecRows(qs), Gen.VecSchema), k)
        .filter("rank = 1").select("q_id", "vec_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap)
    planted += answer.size
    val h = answer.count { case (q, src) => top.get(q).contains(src) }
    hits += h
    if (h != answer.size) fail(s"emb probe: $h of ${answer.size} planted neighbours at rank 1")
  }

  private def embAppend(vs: Seq[(Long, Array[Float], Int)]): Unit = {
    tracer.span("sim.emb_append")(
      EmbIndex.appendIndex(embRoot, local(vecRows(vs), Gen.VecSchema)))
    vecs ++= vs.map { case (id, v, _) => id -> v }
    appended(vs.size * Gen.Dim * 4L)
  }

  private def newVecs(): Seq[(Long, Array[Float], Int)] = {
    val r = rnd.split()
    Seq.fill(batch) { val (v, l) = vectors.next(r); (freshId(), v, l) }
  }

  def setup(): Unit = {
    docs ++= Gen.docs(ctx.args.seed, 0 until nDocs)
    val r = rnd.split()
    val base = (0 until nVecs).map { i => val (v, l) = vectors.next(r); (i.toLong, v, l) }
    // set-up runs one thing at a time: side-by-side builds and warm-ups
    // were faster but made the JVM's peak RSS vary by a fifth between runs
    ctx.step("dedup index")(Dedup.writeIndex(
      Gen.docFrame(spark, docs.toSeq, ctx.parts), "doc_id", "text", dedupRoot))
    ctx.step("emb index")(EmbIndex.writeIndex(Gen.vecFrame(spark, base, ctx.parts), embRoot))
    vecs ++= base.map { case (id, v, _) => id -> v }
    corpusBytes = docs.map(_.text.length.toLong).sum + nVecs * Gen.Dim * 4L
    round(new java.util.Random(ctx.args.seed))
      .foreach(op => ctx.step(s"warm-up ${op.kind}")(op.run()))
    appendOps = 0
    baseBytes = Disk.bytes(dedupRoot) + Disk.bytes(embRoot)
  }

  def roundSeconds: Double = 7.0

  def round(rng: java.util.Random): Seq[Op] = {
    val (pd, pf) = delta()
    val (qs, answer) = queries()
    val (ds, f) = delta()
    val vs = newVecs()
    val ops = Seq(Op("dedup_probe", pd.size, () => dedupProbe(pd, pf)),
      Op("emb_probe", qs.size, () => embProbe(qs, answer)),
      Op("dedup_append", ds.size, () => dedupAppend(ds, f)),
      Op("emb_append", vs.size, () => embAppend(vs)))
    scala.util.Random.javaRandomToRandom(rng).shuffle(ops)
  }

  def check(samples: Seq[Sample]): Seq[String] = {
    val nd = Dedup.readIndex(spark, dedupRoot).docs.count()
    if (nd != docs.size) fail(s"dedup index holds $nd docs after appends, expected ${docs.size}")
    val nv = EmbIndex.readIndex(spark, embRoot).vecs.count()
    if (nv != vecs.size) fail(s"emb index holds $nv vectors after appends, expected ${vecs.size}")
    bad.toSeq
  }

  def spaceAmp(): Double =
    (Disk.bytes(dedupRoot) + Disk.bytes(embRoot)).toDouble / corpusBytes

  override def layers(samples: Seq[Sample]): Map[String, Double] = Map(
    "index.bytes_per_append" ->
      (Disk.bytes(dedupRoot) + Disk.bytes(embRoot) - baseBytes).toDouble /
        math.max(1, appendOps),
    "dedup.reject_frac" -> (if (screened > 0) rejected.toDouble / screened else 0.0),
    "sim.emb_recall_at_1" -> (if (planted > 0) hits.toDouble / planted else 0.0))
}
