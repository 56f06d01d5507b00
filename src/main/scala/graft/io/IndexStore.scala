package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The on-disk format of the persisted index families — text MinHash
  * ([[graft.text.Dedup]]), embedding bands ([[graft.sim.EmbIndex]]), PQ
  * codes ([[graft.sim.PqIndex]]) and media signatures
  * ([[graft.multimodal.MmIndex]]). Each family declares only its
  * artifact names, its id column and its record of truth; what a
  * generation is, how one is published, how erasure is recorded and
  * purged, how a delta is appended and how a manifest is cached live
  * here, once.
  *
  * Two generation levels:
  *  - ARTIFACT generations: `<base>` (generation 0, the build dir) and
  *    `<base>.g<N>`, complete iff the committer's `_SUCCESS` marker is
  *    inside ([[livePath]], [[publishNextGen]]) — single-artifact
  *    rewrites (compaction, purge, repair) that reap their
  *    predecessors;
  *  - MODEL generations: complete sibling indexes under
  *    `root/modelgen<k>`, committed by a `_COMMITTED` marker written
  *    LAST with the previous generation left INTACT ([[liveRoot]],
  *    [[publishModelGen]]) — geometry rebuilds and codebook
  *    refreshes, where an in-flight reader that resolved the old
  *    generation keeps hash-identical results for its whole session.
  *
  * All surgery goes through the Hadoop FileSystem resolved from the
  * root path ITSELF, so an index root can live on any Hadoop
  * filesystem — local disk in tests, HDFS/S3A on a real cluster. */
object IndexStore {

  def hadoopFs(root: String): (FileSystem, Path) = {
    val p = new Path(root)
    val conf = SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    (p.getFileSystem(conf), p)
  }

  // ── artifact generations ───────────────────────────────────────────

  private case class Gen(gen: Long, path: Path, complete: Boolean)

  /** Every on-disk generation of `base` under `r`: the plain name
    * (generation 0, written at build time — complete by construction)
    * and each `<base>.g<N>` published by a maintenance op. A numbered
    * generation is COMPLETE iff the Spark committer's `_SUCCESS`
    * marker is inside — the marker lands after every task commit, so
    * a crash mid-publish (or a non-atomic object-store copy) can only
    * ever leave a marker-less torn dir, never a marker-bearing partial
    * one. */
  private def listGens(fs: FileSystem, r: Path, base: String): Seq[Gen] = {
    val pre = base + ".g"
    fs.listStatus(r).toSeq.map(_.getPath).flatMap { p =>
      val n = p.getName
      if (n == base) Some(Gen(0L, p, complete = true))
      else if (n.startsWith(pre) && n.length > pre.length &&
          n.drop(pre.length).forall(_.isDigit))
        Some(Gen(n.drop(pre.length).toLong, p,
          complete = fs.exists(new Path(p, "_SUCCESS"))))
      else None
    }
  }

  /** True iff ANY complete generation of `base` exists under `root` —
    * the existence probe for OPTIONAL artifacts (the tombstone list,
    * a pre-manifest index's manifest) where [[livePath]]'s require
    * would throw. */
  def artifactExists(root: String, base: String): Boolean = {
    val (fs, r) = hadoopFs(root)
    fs.exists(r) && listGens(fs, r, base).exists(_.complete)
  }

  /** The LIVE generation of artifact `base`: the highest-numbered
    * COMPLETE generation (see [[listGens]]). Generations are
    * create-only — maintenance writes the next one in place via the
    * Spark committer and only then reaps older ones — so some complete
    * generation exists at every instant: a crash mid-publish leaves a
    * marker-less torn dir this resolver skips, a crash between publish
    * and reap leaves a stale LOWER complete generation behind; the
    * next maintenance pass reaps either. */
  def livePath(root: String, base: String): Path = {
    val (fs, r) = hadoopFs(root)
    val complete = listGens(fs, r, base).filter(_.complete)
    require(complete.nonEmpty,
      s"no complete $base artifact generation under $root")
    complete.maxBy(_.gen).path
  }

  def live(root: String, base: String): String = livePath(root, base).toString

  /** Publishes the NEXT create-only generation of `base` under `root`:
    * `build` writes the full parquet DIRECTLY into the next
    * `<base>.g<N>` dir via the Spark committer, whose `_SUCCESS`
    * marker lands only after every task commit — so the dir resolves
    * as live exactly when it is complete, with no rename step at all
    * (rename-free publish is what makes this correct on object stores,
    * where a directory rename is a non-atomic file-by-file copy). Only
    * after the marker is verified are older generations — stale
    * completes AND torn leftovers — reaped, each path
    * refresh-invalidated. The next generation number sits above every
    * EXISTING dir, torn ones included, so a retry after a mid-build
    * crash never writes into a half-built dir. */
  def publishNextGen(s: SparkSession, root: String, base: String)(
      build: String => Unit): Unit = {
    val (fs, r) = hadoopFs(root)
    val gens = listGens(fs, r, base)
    require(gens.exists(_.complete),
      s"no complete $base artifact generation under $root")
    val next = new Path(r, s"$base.g${gens.map(_.gen).max + 1}")
    build(next.toString)
    require(fs.exists(new Path(next, "_SUCCESS")),
      s"no _SUCCESS marker under $next — generation resolution " +
        "requires the committer's success markers " +
        "(mapreduce.fileoutputcommitter.marksuccessfuljobs=true)")
    gens.foreach { g =>
      fs.delete(g.path, true)
      // a Spark write refreshes the shared file-status cache itself;
      // after manual file surgery it must be told, or a read that
      // cached the path pre-publish resolves a stale listing
      s.catalog.refreshByPath(g.path.toString)
    }
    s.catalog.refreshByPath(next.toString)
  }

  /** Footer-schema open of the live generation of `base`
    * ([[FooterSchema]]: no inference job). */
  def open(s: SparkSession, root: String, base: String): DataFrame =
    FooterSchema.read(s, live(root, base))

  // ── model generations ──────────────────────────────────────────────

  private val ModelPrefix = "modelgen"

  private def modelGenNum(name: String): Option[Long] =
    if (name.startsWith(ModelPrefix) && name.length > ModelPrefix.length &&
        name.drop(ModelPrefix.length).forall(_.isDigit))
      Some(name.drop(ModelPrefix.length).toLong)
    else None

  /** The LIVE model generation's root: the highest-numbered COMMITTED
    * `modelgen<k>` subdir, else `root` itself (generation 0 — the
    * plain build layout). IDEMPOTENT (a modelgen subdir contains no
    * nested modelgens), so every entry point can resolve
    * unconditionally. */
  def liveRoot(root: String): String = {
    val (fs, r) = hadoopFs(root)
    if (!fs.exists(r)) root
    else {
      val gens = fs.listStatus(r).toSeq.map(_.getPath).filter { p =>
        modelGenNum(p.getName).isDefined && fs.exists(new Path(p, "_COMMITTED"))
      }
      if (gens.isEmpty) root
      else gens.maxBy(p => modelGenNum(p.getName).get).toString
    }
  }

  /** The live model generation's NUMBER (0 = the plain build layout). */
  def modelGen(root: String): Long =
    modelGenNum(new Path(liveRoot(root)).getName).getOrElse(0L)

  /** Publishes the NEXT model generation of `root`: `build` writes a
    * complete index into its directory, then the `_COMMITTED` marker
    * lands — the commit point, after every artifact is fully written.
    * The number counts marker-less torn dirs too, so a re-run after a
    * crash never reuses a dirty number. Returns the new generation's
    * root. */
  def publishModelGen(root: String)(build: String => Unit): String = {
    val (fs, r) = hadoopFs(root)
    val next = fs.listStatus(r).toSeq
      .flatMap(st => modelGenNum(st.getPath.getName))
      .foldLeft(0L)(math.max) + 1
    val sub = s"$root/$ModelPrefix$next"
    build(sub)
    fs.create(new Path(sub, "_COMMITTED")).close()
    sub
  }

  // ── erasure: the tombstone artifact ────────────────────────────────
  // Right-to-erasure INTO an index: request ids append to `tomb`,
  // every open anti-joins them out from the erase call on, and the
  // physical rewrite rides the family's next compaction. Tombstone
  // sets are request-sized (GDPR lists), hence the broadcast.

  /** The live tombstone list of `root`, if the family ever erased. */
  def tombstones(s: SparkSession, root: String): Option[DataFrame] =
    if (artifactExists(root, "tomb")) Some(open(s, root, "tomb")) else None

  /** True iff erasures are pending: the one-row probe the maintenance
    * pass gates its purge on. */
  def hasTombstones(s: SparkSession, root: String): Boolean =
    tombstones(s, root).exists(_.limit(1).count() > 0)

  /** The tombstone-aware open: a frame → the frame without the ids
    * tombstoned under `root` (the identity when the family never
    * erased). `idCol` is the tombstone list's column, `key` the
    * frames' id column. */
  def dropErased(s: SparkSession, root: String, idCol: String,
      key: String = null): DataFrame => DataFrame =
    tombstones(s, root).fold(identity[DataFrame] _) { t =>
      val k = Option(key).getOrElse(idCol)
      val ids = broadcast(
        if (k == idCol) t.select(idCol) else t.select(col(idCol).as(k)))
      _.join(ids, Seq(k), "left_anti")
    }

  /** Appends already-projected request ids to the live `tomb`
    * artifact — generation-resolved, or created as generation 0 on
    * first erase — and refreshes. O(|request|): one part file per
    * request, not one per core (see [[FileSizing]]). */
  def appendTombstones(root: String, ids: DataFrame): Unit = {
    val p = if (artifactExists(root, "tomb")) live(root, "tomb") else s"$root/tomb"
    ids.repartition(1).write.mode("append").parquet(p)
    ids.sparkSession.catalog.refreshByPath(p)
  }

  private def overwrite(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite").parquet(dir)

  /** The physical half of erasure: each artifact of `records` is
    * republished as its next create-only generation without the
    * tombstoned ids (coalesced back to size-targeted part files —
    * compaction is also the file-hygiene pass), then `rederive`
    * publishes whatever derives from them, and the tombstone list
    * resets LAST — a crash anywhere leaves the tombstones in force
    * and every artifact at some complete generation, so opens stay
    * erasure-correct throughout. `write` lands one purged artifact
    * (PQ codes keep their `cell` partitioning). */
  def purgeErased(s: SparkSession, root: String, idCol: String,
      records: Seq[String], rederive: () => Unit = () => (),
      write: (DataFrame, String) => Unit = overwrite): Unit = {
    // snapshot: outlives the tomb reset below
    val tomb = open(s, root, "tomb").select(idCol).localCheckpoint()
    records.foreach { base =>
      val cur = live(root, base)
      val parts = FileSizing.partsOf(cur)
      publishNextGen(s, root, base) { sd =>
        write(s.read.parquet(cur)
          .join(broadcast(tomb), Seq(idCol), "left_anti")
          .coalesce(parts), sd)
      }
    }
    rederive()
    publishNextGen(s, root, "tomb") { sd =>
      overwrite(s.range(0).select(col("id").as(idCol)), sd)
    }
  }

  // ── the banded families' derived artifacts: `post` and `bk` ────────
  // `post` is the exploded (id, bk) postings of the record of truth,
  // `bk` the per-bucket occupancy sidecar with MERGEABLE partial-
  // aggregate semantics: it may hold several rows per bucket (one per
  // append), every consumer sums per bucket, so appending a delta's
  // partial counts composes without rewriting corpus-wide stats.

  /** Per-bucket occupancy of a postings frame. */
  def bucketStats(postings: DataFrame): DataFrame =
    postings.groupBy("bk").agg(count(lit(1)).as("n"))

  /** True iff the live `bk` sidecar holds partial rows to fold. */
  def hasPartials(s: SparkSession, root: String): Boolean =
    s.read.parquet(live(root, "bk"))
      .groupBy("bk").agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1).limit(1).count() > 0

  /** Compaction of a banded family (its record of truth `record`,
    * `post` and `bk`): with erasures pending, the record and `post`
    * are purged and `bk` is re-derived from the purged postings (one
    * row per bucket — compaction implicit) before the tombstone list
    * resets ([[purgeErased]]); otherwise the `bk` partials fold back to
    * one row per bucket, published as the next create-only generation.
    * Results are bit-identical before and after for non-erased data
    * (every consumer sums either way). */
  def compactBanded(s: SparkSession, root: String, idCol: String,
      record: String, erased: Boolean): Unit =
    if (erased) purgeErased(s, root, idCol, Seq(record, "post"),
      () => publishStats(s, root))
    else {
      val cur = live(root, "bk")
      publishNextGen(s, root, "bk") { sd =>
        overwrite(s.read.parquet(cur).groupBy("bk").agg(sum("n").as("n")), sd)
      }
    }

  /** Publishes the next `bk` generation re-derived from the live
    * `post`, so the two cannot drift. */
  private def publishStats(s: SparkSession, root: String): Unit =
    publishNextGen(s, root, "bk") { sd =>
      overwrite(bucketStats(s.read.parquet(live(root, "post"))), sd)
    }

  /** True iff the live `post` does not hold exactly `perDoc` postings
    * for each id of `docs` (the record of truth, one row per id) — the
    * banded families' derived-artifact invariant, broken by a torn or
    * replayed append: a full-outer count compare, one aggregation each
    * side. */
  def postingsTorn(s: SparkSession, root: String, docs: DataFrame,
      idCol: String, perDoc: Int): Boolean = {
    val want = docs.select(col(idCol)).withColumn("__want", lit(perDoc.toLong))
    val have = s.read.parquet(live(root, "post"))
      .groupBy(idCol).agg(count(lit(1)).as("__have"))
    want.join(have, Seq(idCol), "full_outer")
      .filter(col("__want").isNull || col("__have").isNull ||
        col("__want") =!= col("__have"))
      .limit(1).count() > 0
  }

  /** Re-derives `post` from `docs` (the record of truth, one row per
    * id) and then `bk` from the published `post`, each as its next
    * create-only generation; `post` is sized from the record's
    * artifact dir `sizedBy`. */
  def publishDerived(s: SparkSession, root: String, docs: DataFrame,
      sizedBy: String, postings: DataFrame => DataFrame): Unit = {
    val parts = FileSizing.partsOf(sizedBy)
    publishNextGen(s, root, "post") { sd =>
      overwrite(postings(docs).coalesce(parts), sd)
    }
    publishStats(s, root)
  }

  /** The ONE index-append writer of the banded families (record `ix`
    * for text, `vecs` for embeddings): appends a delta's index rows to
    * the live generation of `root0` — their postings (`postings`, the
    * family's explode of `bands`) to `post`, their PARTIAL per-bucket
    * counts to `bk` and the rows themselves to `record`. The recurring
    * cost is delta-sized on all three artifacts; the corpus side is
    * never rewritten.
    *
    * Snapshot semantics: the rows are materialized BEFORE the first
    * write, so no write's plan reads the index being grown. That cut
    * is on purpose: an accepted frame is typically the lazy output of
    * a screen over this very index, and each append's refresh-by-path
    * invalidates any cached intermediate, so a lineage-carrying append
    * would re-screen the delta against the half-grown index (its own
    * rows now indexed → everything self-rejects → later appends write
    * empty).
    *
    * Where the snapshot lives follows where the rows already are, read
    * off the optimized plan:
    *  - a LOCAL RELATION (a screen's accepted rows, a `createDataFrame`
    *    delta or a projection of one) is collected without a job and IS
    *    the snapshot: the `bk` partials are counted on the driver (no
    *    shuffle) and each artifact lands as one part file. No rows, no
    *    write: a fully-rejected delta leaves every artifact untouched.
    *  - any other plan (the maintenance stages append most of a parquet
    *    corpus this way) is snapshotted to a scratch parquet on the
    *    index root's own filesystem — executors write it, so a
    *    driver-local tmpdir would work only in local mode; dot-prefixed,
    *    invisible to listings — and the three appends read it back,
    *    coalesced to size-targeted part counts ([[FileSizing]]).
    *    Nothing passes through the driver, at any size.
    *
    * Crash contract (the same for both snapshots): the appends are
    * non-atomic — the two DERIVED appends (post, bk) run CONCURRENTLY
    * (no ordering contract between them) and the record of truth the
    * verify join reads goes LAST, after both have landed. A crash
    * mid-append can therefore leave only DERIVED rows for ids absent
    * from the record; those are conservative garbage, never a
    * correctness hole: orphan postings produce candidates that fail
    * the inner join against the record (so the probe behaves as if the
    * torn delta was never indexed — correct, since the record is the
    * membership record), and orphan bk counts only make buckets look
    * HOTTER (more dropping, fewer candidates — the guard's safe
    * direction). Re-running the append restores the record; the
    * duplicated derived rows stay harmless until the family's
    * `repairIndex` — which DETECTS either inconsistency and re-derives
    * post/bk from the record ([[publishDerived]]) — restores the
    * invariant. The reversed order is what makes a torn append
    * recoverable-by-retry instead of silently wrong: with the record
    * first, a crash would leave ids IN the membership record but
    * invisible to the probe — later near-dups of them would be
    * silently accepted. */
  def appendIndexRows(root0: String, record: String,
      ixRows: DataFrame, postings: DataFrame => DataFrame): Unit = {
    val s = ixRows.sparkSession
    // appends land in the LIVE model generation (a never-rebuilt root
    // resolves to itself)
    val root = liveRoot(root0)
    def land(post: DataFrame, bk: DataFrame, rec: DataFrame): Unit = {
      val paths @ Seq(postL, bkL, recL) = Seq("post", "bk", record).map(live(root, _))
      // the two DERIVED appends have no ordering contract BETWEEN them
      // — only the record must land LAST (see the crash contract
      // above): two concurrent jobs (guide §2.6
      // overlap-independent-jobs), each a small write whose wall is
      // mostly job latency — a fixed cost off EVERY append, the
      // per-micro-batch path of stream_index_ingest
      import scala.concurrent.{Await, Future, blocking}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      // blocking{}: each body is a blocking Spark write on the global
      // pool — marked so the pool adds a thread instead of starving
      Seq(Future { blocking { post.write.mode("append").parquet(postL) } },
          Future { blocking { bk.write.mode("append").parquet(bkL) } })
        .foreach(Await.result(_, Duration.Inf))
      rec.write.mode("append").parquet(recL)
      paths.foreach(s.catalog.refreshByPath)
    }
    def local(rs: Seq[Row], schema: StructType): DataFrame =
      s.createDataFrame(java.util.Arrays.asList(rs: _*), schema)
    ixRows.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        if (l.data.nonEmpty) {
          val rows = ixRows.collect().toSeq
          val held = local(rows, ixRows.schema)
          // partial counts per bucket; a bucket key is a struct of
          // integral fields, so Row equality is GROUP BY's
          val bands = held.schema.fieldIndex("bands")
          val n = rows.filterNot(_.isNullAt(bands))
            .flatMap(_.getSeq[Row](bands)).groupMapReduce(identity)(_ => 1L)(_ + _)
          land(postings(held).coalesce(1),
            local(n.toSeq.map { case (k, c) => Row(k, c) },
              bucketStats(postings(held)).schema).coalesce(1),
            held.coalesce(1))
        }
      case _ =>
        val (fs, r) = hadoopFs(root)
        val scratch = new Path(
          r, s".${record}_append_${java.util.UUID.randomUUID().toString.take(13)}")
        try {
          val sd = new Path(scratch, record).toString
          ixRows.write.mode("overwrite").parquet(sd)
          // a delta-sized append lands ONE part file per artifact
          // instead of one per core ([[FileSizing]]); the read-backs
          // carry the rows' own schema (inferring it from the scratch
          // footer would cost a job per read)
          val np = FileSizing.partsOf(sd)
          def snapshot = s.read.schema(ixRows.schema).parquet(sd)
          land(postings(snapshot).coalesce(np),
            bucketStats(postings(snapshot)), snapshot.coalesce(np))
        } finally fs.delete(scratch, true)
    }
  }

  /** `body` over a broadcast of `v`, destroyed once `body` (which must
    * run its jobs) returns: a delta's key sets reach the index side's
    * tasks without a broadcast job or a literal list in the plan. */
  def withBroadcast[V: scala.reflect.ClassTag, T](
      sc: org.apache.spark.SparkContext, v: V)(
      body: org.apache.spark.broadcast.Broadcast[V] => T): T = {
    val b = sc.broadcast(v)
    try body(b) finally b.destroy()
  }

  // ── the manifest cache ─────────────────────────────────────────────
  // Every family persists a 1-row manifest frozen at build time, and
  // decoding it through Spark is a driver-blocking job (~0.15–0.25 s)
  // that every open/append would otherwise pay — the recurring
  // per-micro-batch path of the ingest and serving streams (guide
  // §1.2). The key hashes the manifest dir's RAW FILE BYTES (name +
  // content — a manifest is ~1 KB: one metadata RPC + one tiny read,
  // orders cheaper than the job), so an in-place rebuild at a new
  // geometry is visible even when it lands within the filesystem's
  // mtime granularity (1 s on several Hadoop filesystems — an
  // mtime-keyed cache would sign deltas at the OLD width against NEW
  // postings, and bands from two widths never meet: every near-dup
  // silently accepted). A metadata memo validated against the
  // filesystem on every call, not a result cache. Bounded: cleared at
  // 1024 entries (reached only by pathological manifest churn).

  private val manifests =
    new java.util.concurrent.ConcurrentHashMap[(String, String), AnyRef]()

  /** MD5 over (file name, file bytes) of the dir's data files. */
  private def contentHash(dir: String): String = {
    val (fs, p) = hadoopFs(dir)
    val md = java.security.MessageDigest.getInstance("MD5")
    fs.listStatus(p).sortBy(_.getPath.getName).foreach { st =>
      if (st.isFile && st.getLen > 0 && !st.getPath.getName.startsWith("_")) {
        md.update(st.getPath.getName.getBytes("UTF-8"))
        val in = fs.open(st.getPath)
        try {
          val buf = new Array[Byte](8192)
          var n = in.read(buf)
          while (n > 0) { md.update(buf, 0, n); n = in.read(buf) }
        } finally in.close()
      }
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** The decoded `manifest` artifact of the (model-generation) root
    * `root`, re-running `decode` (a driver head() job) only when the
    * manifest's file content changed since the last call. */
  def manifest[T <: AnyRef](s: SparkSession, root: String)(
      decode: DataFrame => T): T = {
    val dir = s"$root/manifest"
    val key = (dir, contentHash(dir))
    if (manifests.size > 1024) manifests.clear()
    manifests.computeIfAbsent(key, _ => decode(s.read.parquet(dir))).asInstanceOf[T]
  }
}
