package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.IndexStore

/** Persisted band index for the EMBEDDING near-dup family [EXT] — the
  * text MinHash index's production growing-corpus shape
  * ([[graft.text.Dedup.writeIndex]] / appendIndex / readIndex) applied
  * to the banded sign-LSH family: at 100 TB the banded candidate
  * relation is rebuilt from raw vectors once per session (140 s cold
  * at the 100× replica corpus — SERIAL.md), while the production shape
  * is build-once / append-deltas / probe-delta-sized.
  *
  * Three parquet artifacts + a manifest under `root`:
  *
  *  - `vecs` — per-vector record of truth: (vec_id, qe, na, bands)
  *    where `qe` is the 1e-6-grid integer quantization the exact
  *    verify kernel reads, `na` its squared norm, `bands` the two
  *    sign-band keys at the INDEX width. The raw float embedding is
  *    not stored: every downstream consumer (candidate join, exact
  *    threshold verify) reads the integer forms only, so the base
  *    corpus's float vectors are never needed again — the "no raw
  *    vectors after encode" contract of the PQ path, applied to dedup.
  *  - `post` — exploded postings (vec_id, bk): the candidate-join
  *    probe side, persisted so the probe never re-explodes per-vector
  *    band arrays.
  *  - `bk` — per-bucket occupancy (bk, n): the hot-bucket sidecar,
  *    MERGEABLE partials (appends add partial rows; consumers sum).
  *  - `manifest` — one row: (bits, width_clamped, max_bucket, n_base).
  *    The band width is RESOLVED AT BUILD TIME from the indexed
  *    corpus's stats ([[Similarity.resolveWidth]] — the same auto rule
  *    as the in-session banded family) and FROZEN for the index's
  *    lifetime: postings hashed at width w are only probe-compatible
  *    with keys hashed at width w, so appends MUST reuse the manifest
  *    width (one width per generation), and only a REBUILD re-resolves
  *    it from the grown corpus. This is also the growth guard the
  *    in-session count memo cannot give: an append-then-reprobe
  *    session reads the width from the artifact it probes, never from
  *    a count cached before the append.
  *
  * Append crash contract mirrors the text index: the derived artifacts
  * (post, bk partials) land FIRST and `vecs` — the membership record
  * the verify join reads — lands LAST, so a torn append leaves only
  * conservative orphans (postings whose candidates fail the vecs join;
  * bucket partials that make buckets look hotter — the guard's safe
  * direction), recoverable by re-running the append.
  */
object EmbIndex {

  /** An opened index: the three artifact frames + the frozen width. */
  final case class EmbeddingIndex(vecs: DataFrame, postings: DataFrame,
      bucketStats: DataFrame, bits: Int, widthClamped: Boolean,
      maxBucket: Int)

  private def sumLong(c: Column): Column =
    aggregate(c, lit(0L), (s, v) => s + v)

  /** Per-vector index rows at a GIVEN width — one projection pass over
    * the corpus (no join, no shuffle): the 1e-6-grid quantization, its
    * squared norm, and the two sign-band keys. */
  def buildRows(emb: DataFrame, bits: Int): DataFrame = {
    // r16: norms/dots through the native fused kernel (DotLongs) —
    // codegen, no temporary square array; bit-identical fold.
    graft.plans.GraftFunctions.register(emb.sparkSession)
    emb.select(col("vec_id"),
        call_function("quantize_longs", col("embedding"),
          lit(1e6), lit(0L)).as("qe"),
        Similarity.signBandKeys(col("embedding"), bits).as("bands"))
      .withColumn("na", call_function("dot_longs", col("qe"), col("qe")))
      .select("vec_id", "qe", "na", "bands")
  }

  /** Probe-side postings derived from a [[buildRows]] frame. */
  def indexPostings(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id"), explode(col("bands")).as("bk"))

  /** Builds and persists the full index under `root`, resolving the
    * band width from the indexed corpus's own (count, minDim) — the
    * derived artifacts are re-read from the WRITTEN vecs parquet so
    * the three cannot drift (the text-index derivation contract). */
  def writeIndex(emb: DataFrame, root: String, maxBucket: Int = 100): Unit = {
    val s = emb.sparkSession
    val (n, minDim) = Similarity.corpusStats(emb)
    val (bits, clamped) = Similarity.resolveWidth(n, minDim, maxBucket)
    buildRows(emb, bits).write.mode("overwrite").parquet(s"$root/vecs")
    // derived postings coalesce to size-targeted files (FileSizing,
    // guide §6) — input is the just-written vecs parquet, no kernel
    // work left to serialize; vecs bytes bound post bytes
    val vParts = graft.io.FileSizing.partsOf(s"$root/vecs")
    indexPostings(s.read.parquet(s"$root/vecs")).coalesce(vParts)
      .write.mode("overwrite").parquet(s"$root/post")
    IndexStore.bucketStats(s.read.parquet(s"$root/post"))
      .write.mode("overwrite").parquet(s"$root/bk")
    import s.implicits._
    // 1-row manifest; repartition(1) on a local relation carries no
    // upstream compute (the coalesce(1) lesson does not apply)
    Seq((bits, clamped, maxBucket, n))
      .toDF("bits", "width_clamped", "max_bucket", "n_base")
      .repartition(1).write.mode("overwrite").parquet(s"$root/manifest")
  }

  /** The manifest row: (bits, width_clamped, max_bucket, n_base).
    * Content-stamp cached ([[IndexStore.manifest]]): decoding it
    * through Spark is a driver-blocking job every readIndex/appendIndex
    * would otherwise pay. */
  def readManifest(s: SparkSession, root: String): (Int, Boolean, Int, Long) =
    IndexStore.manifest(s, IndexStore.liveRoot(root)) { m =>
      val r = m.select("bits", "width_clamped", "max_bucket", "n_base").head()
      (r.getInt(0), r.getBoolean(1), r.getInt(2), r.getLong(3))
    }

  /** Opens a persisted index written by [[writeIndex]] / grown by
    * [[appendIndex]] / maintained by [[repairIndex]]. The derived
    * artifacts resolve through the store's generations
    * ([[IndexStore.livePath]]: highest `_SUCCESS`-complete generation;
    * the plain dir is generation 0) — including `vecs`, whose
    * generations only ever change content by DEDUPLICATION of retried
    * appends ([[repairIndex]]) or erasure purges; appends grow the
    * live generation in place. */
  def readIndex(s: SparkSession, root: String): EmbeddingIndex = {
    val mr = IndexStore.liveRoot(root)
    val (bits, clamped, guard, _) = readManifest(s, mr)
    // tombstone-aware open: erased vectors leave the record of truth
    // AND the probe side, so from the erase call onward a tombstoned
    // vector can neither reject a delta nor appear in any probe —
    // physical removal happens at the next [[compactIndexStats]]. The
    // bk sidecar stays UNFILTERED until compaction: occupancy that
    // still counts erased members only over-guards (drops hot buckets
    // sooner) — the conservative direction.
    val live = IndexStore.dropErased(s, mr, "vec_id")
    EmbeddingIndex(live(IndexStore.open(s, mr, "vecs")),
      live(IndexStore.open(s, mr, "post")), IndexStore.open(s, mr, "bk"),
      bits, clamped, guard)
  }

  /** Top-k SERVING from the persisted band index — the query a
    * vector-store user runs against a loaded index (the band family's
    * [[PqIndex]]-`pq_index_query` counterpart): the 1-row `query`
    * frame is quantized and band-keyed at the MANIFEST width, its two
    * buckets probe the persisted postings for candidates, and ranking
    * is the µ-rounded cosine over the index's INTEGER record of truth
    * (qe/na — raw base vectors are read zero times; the exact-integer
    * dot and norms make the rounded cosine bit-identical across
    * engines, the [[Similarity.hardNegativesBanded]] cos_e6 policy).
    *
    * No hot-bucket guard here, deliberately: the guard exists to stop
    * QUADRATIC pair generation in the dedup probes; a single query's
    * candidate work is LINEAR in the two probed buckets' occupancy,
    * and dropping a hot bucket would only lose recall. At 100 TB the
    * probe reads |bucket| postings + their qe rows — never the
    * corpus. */
  def indexTopK(ix: EmbeddingIndex, query: DataFrame, k: Int): DataFrame = {
    val q = buildRows(query, ix.bits)
      .select(col("vec_id").as("q_id"), col("qe").as("qe_q"),
        col("na").as("na_q"), col("bands").as("q_bands"))
    val qbk = q.select(col("q_id"), explode(col("q_bands")).as("bk"))
    val cand = ix.postings.join(broadcast(qbk), Seq("bk"))
      .filter(col("vec_id") =!= col("q_id"))
      .select("vec_id").distinct()
    ix.vecs.join(cand, Seq("vec_id"))
      .crossJoin(broadcast(q.select("qe_q", "na_q")))
      .filter(col("na") > 0 && col("na_q") > 0)
      .withColumn("dot", call_function("dot_longs", col("qe"), col("qe_q")))
      .withColumn("cos_e6",
        expr("""CAST(round(CAST(dot AS DOUBLE)
               | / sqrt(CAST(na AS DOUBLE) * CAST(na_q AS DOUBLE))
               | * 1e6) AS BIGINT)""".stripMargin))
      .orderBy(col("cos_e6").desc, col("vec_id")).limit(k)
      .select("vec_id", "cos_e6")
  }

  /** Batched top-k serving: every row of `queries` is answered from
    * the persisted artifact — the multi-query analogue of [[indexTopK]],
    * shared by stream-serving micro-batches and offline batch scoring.
    * Per query: candidates from its two band buckets at the MANIFEST
    * width (itself excluded by id), ranked by the µ-rounded cosine over
    * the integer record of truth, `(cos_e6 DESC NULLS LAST, vec_id)`,
    * at most `k` rows per query as `(q_id, rank, vec_id, cos_e6)`.
    *
    * Shape: the query side is a bounded batch, so its [[buildRows]] are
    * collected once and everything query-sized happens on the driver.
    * The index contributes through two fetch jobs: the postings of the
    * queries' band keys, then the `(vec_id, qe, na)` rows of the
    * candidates; each key set reaches the tasks as a broadcast
    * variable (never a literal list in the plan). The driver pairs the
    * fetched rows with their queries under the join semantics — a null
    * id matches nothing, a candidate counts once per query however many
    * shared buckets or orphan postings name it, and every `vecs` row of
    * a candidate scores (a duplicate row from a retried append ranks
    * twice). The dot and the rounding are the Column expressions below,
    * evaluated over the pairs as a local relation, so `cos_e6` is the
    * SQL value bit for bit; the per-query rank runs on the driver and
    * the result is a local relation. */
  def indexTopKBatch(ix: EmbeddingIndex, queries: DataFrame,
      k: Int): DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val s = queries.sparkSession
    val q = buildRows(queries, ix.bits)
    val vecsAt = ix.vecs.select("vec_id", "qe", "na")
    val outSchema = StructType(Seq(q.schema("vec_id").copy(name = "q_id"),
      StructField("rank", LongType, nullable = false),
      vecsAt.schema("vec_id"), StructField("cos_e6", LongType)))
    def local(rows: Seq[Row], schema: StructType) =
      s.createDataFrame(rows.asJava, schema)
    // query rows by id (rows sharing an id share one candidate set)
    val byQ = q.collect().toSeq.filterNot(_.isNullAt(0)).groupBy(_.get(0))
    val qOf: Map[Row, Seq[Any]] = byQ.toSeq.flatMap { case (id, rs) =>
      rs.filterNot(_.isNullAt(3)).flatMap(_.getSeq[Row](3)).map(_ -> id)
    }.groupMap(_._1)(_._2)
    if (qOf.isEmpty) return local(Nil, outSchema)
    val sc = s.sparkContext
    // fetch 1: the postings of the queries' buckets → distinct
    // (query, candidate) pairs, the query itself excluded
    val cand: Map[Any, Seq[Long]] =
      IndexStore.withBroadcast(sc, qOf.keySet) { keys =>
        val hit = udf((bk: Row) => bk != null && keys.value(bk))
        ix.postings.filter(hit(col("bk"))).select("vec_id", "bk").collect()
      }.toSeq.filterNot(_.isNullAt(0)).flatMap { r =>
        val v = r.getLong(0)
        qOf(r.getStruct(1)).filter(_ != v).map(_ -> v)
      }.distinct.groupMap(_._1)(_._2)
    if (cand.isEmpty) return local(Nil, outSchema)
    // fetch 2: every vecs row of a candidate
    val rowsOf: Map[Long, Seq[Row]] =
      IndexStore.withBroadcast(sc, cand.values.flatten.toSet) { ids =>
        val hit = udf((id: Long) => ids.value(id))
        vecsAt.filter(hit(col("vec_id"))).collect()
      }.toSeq.groupBy(_.getLong(0))
    val pairs = for {
      (id, vs) <- cand.toSeq; qr <- byQ(id); v <- vs
      vr <- rowsOf.getOrElse(v, Nil)
    } yield Row(id, v, vr.get(1), vr.get(2), qr.get(1), qr.get(2))
    val scored = local(pairs, StructType(Seq(outSchema("q_id"),
        outSchema("vec_id"), vecsAt.schema("qe"), vecsAt.schema("na"),
        q.schema("qe").copy(name = "qe_q"), q.schema("na").copy(name = "na_q"))))
      .filter(col("na") > 0 && col("na_q") > 0)
      .withColumn("dot", call_function("dot_longs", col("qe"), col("qe_q")))
      .withColumn("cos_e6",
        expr("""CAST(round(CAST(dot AS DOUBLE)
               | / sqrt(CAST(na AS DOUBLE) * CAST(na_q AS DOUBLE))
               | * 1e6) AS BIGINT)""".stripMargin))
      .select("q_id", "vec_id", "cos_e6").collect()
    // per-query rank: cos_e6 descending with nulls last, then vec_id
    val order = Ordering.by((r: Row) =>
      (r.isNullAt(2), if (r.isNullAt(2)) 0L else r.getLong(2), r.getLong(1)))(
      Ordering.Tuple3(Ordering.Boolean, Ordering.Long.reverse, Ordering.Long))
    local(scored.toSeq.groupBy(_.get(0)).toSeq.flatMap { case (id, rs) =>
      rs.sorted(order).take(k).zipWithIndex.map { case (r, i) =>
        Row(id, i + 1L, r.getLong(1), r.get(2)) }
    }, outSchema)
  }

  /** Right-to-erasure INTO the persisted index (the index-side
    * counterpart of pipeline_erasure's lake rewrite): the ids —
    * an EXTERNAL request list, never a frame derived from the index
    * being erased — append to the `tomb` artifact, which every
    * [[readIndex]] open anti-joins out. O(|request|) at erase time;
    * the physical rewrite is deferred to [[compactIndexStats]], where
    * it rides the maintenance pass the sidecar needs anyway. */
  def eraseFromIndex(root: String, ids: DataFrame): Unit =
    IndexStore.appendTombstones(IndexStore.liveRoot(root), ids.select(col("vec_id")))

  /** Maintenance pass — the embedding twin of
    * [[graft.text.Dedup.compactIndexStats]]: with erasures pending,
    * erased vectors are purged from `vecs` and `post`, `bk` is
    * re-derived from the purged postings and the tombstone list resets
    * LAST; without, the `bk` sidecar's append partials fold back to
    * one row per bucket ([[IndexStore.compactBanded]]). Same
    * single-writer assumption as [[appendIndex]]; results are
    * bit-identical before/after for non-erased data. The manifest's
    * `n_base` is informational and intentionally untouched — the
    * frozen WIDTH is the contract, and erasure shrinks a corpus, never
    * grows it past the width's density point. */
  def compactIndexStats(s: SparkSession, root0: String): Unit = {
    val root = IndexStore.liveRoot(root0)
    IndexStore.compactBanded(s, root, "vec_id", "vecs",
      IndexStore.hasTombstones(s, root))
  }

  /** The live `vecs` artifact. Normally the plain build-time dir
    * (generation 0, append-grown in place); [[repairIndex]] publishes
    * a deduplicated NEXT generation when a retried fully-landed
    * append leaves duplicate vec_id rows — so consumers resolve
    * through the same generation machinery as post/bk. */
  private[graft] def vecsLive(root: String): String =
    IndexStore.live(IndexStore.liveRoot(root), "vecs")

  /** Repairs a torn append (the crash-recovery half of the append
    * contract — the text index's [[graft.text.Dedup.repairIndex]]
    * applied to the embedding artifacts). Detection is exact and
    * cheap: the live `post` must hold exactly 2 rows (one per band)
    * per DISTINCT `vecs` vector — a full-outer count compare, one
    * aggregation each side. The only tear [[appendIndex]]'s vecs-last
    * ordering permits is derived rows (post/bk) for vectors absent
    * from `vecs`; on detection both derived artifacts are re-derived
    * from the distinct-by-id `vecs` rows and published as next
    * create-only generations ([[IndexStore.publishDerived]] —
    * committer-marker-gated, rename-free, no instant without a live
    * artifact), `bk` from the freshly PUBLISHED postings so the two
    * cannot drift. The double-retry tear (a fully-landed append
    * re-run end-to-end) leaves duplicate vec_id rows in `vecs`
    * itself; repair detects those and publishes a DEDUPLICATED next
    * `vecs` generation (exact copies — lossless) before re-deriving,
    * so direct `vecs` consumers (emb_index_build's content gate)
    * heal too, not just the probe path. Returns true iff a repair
    * was performed; a second call is a detected no-op. */
  def repairIndex(s: SparkSession, root0: String): Boolean = {
    val root = IndexStore.liveRoot(root0)
    // The OTHER tear class: a fully-landed append retried end-to-end
    // duplicates a delta's rows in ALL THREE artifacts — post/bk heal
    // below via the count compare, but `vecs` is what emb_index_build
    // and the verify join read, so duplicate vec_id rows there must
    // be physically deduplicated too (they are exact copies —
    // deterministic functions of the embedding — so dropDuplicates by
    // id is lossless). Published as a next create-only generation;
    // the record of truth is never edited in place.
    val dupVecs = s.read.parquet(vecsLive(root))
      .groupBy("vec_id").agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1L).limit(1).count() > 0
    if (dupVecs) {
      val cur = vecsLive(root)
      val vecsParts = graft.io.FileSizing.partsOf(cur)
      IndexStore.publishNextGen(s, root, "vecs") { sd =>
        s.read.parquet(cur).dropDuplicates("vec_id")
          .coalesce(vecsParts)
          .write.mode("overwrite").parquet(sd)
      }
    }
    def vecsDocs = s.read.parquet(vecsLive(root)).dropDuplicates("vec_id")
    val torn = dupVecs || IndexStore.postingsTorn(s, root, vecsDocs, "vec_id", 2)
    if (torn)
      IndexStore.publishDerived(s, root, vecsDocs, vecsLive(root), indexPostings)
    torn
  }

  /** Appends the accepted delta vectors' index entries AT THE
    * MANIFEST WIDTH — postings hashed at a different width would be
    * probe-incompatible with the index's buckets, so the width is one
    * per generation by construction (re-resolving from the grown
    * count is a REBUILD, not an append; see the manifest contract in
    * the object scaladoc). Delta-sized appends to all three
    * artifacts through the shared writer
    * [[IndexStore.appendIndexRows]]; the corpus side is never
    * rewritten. The rows snapshot first — on the driver when
    * `accepted` is a local relation, to scratch parquet otherwise —
    * because an accepted frame lazily derived from the index being
    * grown must not re-screen against the half-grown index; `vecs` —
    * the record of truth — lands LAST (see the crash contract above). */
  def appendIndex(root0: String, accepted: DataFrame): Unit = {
    val root = IndexStore.liveRoot(root0)
    val (bits, _, _, _) = readManifest(accepted.sparkSession, root)
    IndexStore.appendIndexRows(root, "vecs", buildRows(accepted, bits),
      indexPostings)
  }

  // ── model generations (occupancy-triggered WIDTH REBUILD) ─────────
  // The band width is sized from the corpus the index was BUILT over
  // (resolveWidth: more vectors → more hyperplanes → bounded bucket
  // occupancy), and appends run at that frozen width by contract —
  // so a corpus that grows far past its build-time count degrades
  // every bucket's occupancy toward the hot-bucket guard. The
  // maintenance is a REBUILD at the width the LIVE count resolves,
  // published as a complete sibling generation under `modelgen<k>`
  // ([[IndexStore.publishModelGen]] — the PQ codebook refresh's machinery):
  // band keys from two widths never meet in a probe, so a rebuild
  // can no more be an append than a PQ retrain can, and the old
  // generation stays intact for in-flight readers.

  /** Rebuilds the index at the width the CURRENT corpus resolves,
    * publishing it as the next model generation. `source` is the raw
    * embedding corpus (band signs must come from raw floats — the
    * persisted 1e-6 grid rounds sub-grid magnitudes to zero, which
    * flips their sign bit); the live generation's pending TOMBSTONES
    * anti-join it first (the PQ refresh lesson: a rebuild re-derives
    * the per-vector record, and rebuilding from the raw corpus would
    * resurrect erased vectors). Returns the new generation root. */
  def rebuildIndex(s: SparkSession, root: String,
      source: DataFrame): String = {
    val mr = IndexStore.liveRoot(root)
    val (_, _, guard, _) = readManifest(s, mr)
    val src = IndexStore.dropErased(s, mr, "vec_id")(source)
    IndexStore.publishModelGen(root)(writeIndex(src, _, guard))
  }

  /** The occupancy-triggered rebuild: fires iff the width the LIVE
    * corpus count resolves differs from the manifest's frozen width —
    * the same sizing rule every build uses ([[Similarity
    * .resolveWidth]]), applied to the tombstone-filtered live count,
    * so the trigger is exact, cheap (one count over the served view +
    * a closed form), and quiescent right after a rebuild. Returns the
    * new generation root when it fired. */
  def rebuildIfDegraded(s: SparkSession, root: String,
      source: DataFrame): Option[String] = {
    val mr = IndexStore.liveRoot(root)
    val (bits, _, guard, _) = readManifest(s, mr)
    val ix = readIndex(s, mr)
    val nLive = ix.vecs.count()
    // every vector tombstoned → the min-dim aggregate below is null:
    // an empty index has no geometry to re-resolve, so the trigger is
    // an explicit no-op rather than an NPE
    if (nLive == 0) return None
    // minDim from the persisted integer record (array length is
    // rounding-invariant, unlike the sign bits)
    val minDim = ix.vecs.agg(min(size(col("qe")))).head().getInt(0)
    val (want, _) = Similarity.resolveWidth(nLive, minDim, guard)
    if (want != bits) Some(rebuildIndex(s, root, source)) else None
  }

  /** One NIGHTLY MAINTENANCE pass over the embedding band index:
    * compact if tombstones or bucket-stat partials are pending, repair
    * if a torn/replayed append violated the 2-postings-per-vector
    * invariant, rebuild if the live count resolves a different width
    * than the manifest's. Step order / source contract / crash matrix:
    * [[graft.io.MaintenanceReport]] and `graft.MaintenanceSpec`. */
  def maintainIndex(s: SparkSession, root: String,
      source: DataFrame): graft.io.MaintenanceReport = {
    val mr = IndexStore.liveRoot(root)
    // the tombstone probe runs once: the purge takes its answer
    val hasTomb = IndexStore.hasTombstones(s, mr)
    val doCompact = hasTomb || IndexStore.hasPartials(s, mr)
    if (doCompact) IndexStore.compactBanded(s, mr, "vec_id", "vecs", hasTomb)
    val repaired = repairIndex(s, mr)
    val regen = rebuildIfDegraded(s, root, source)
    graft.io.MaintenanceReport(doCompact, repaired, regen)
  }

  /** The delta's own index rows feed several plan branches (probe,
    * reference union, both verify sides, the final anti-join) —
    * memoized per (session, delta plan, width) and persisted so the
    * quantize/band kernels evaluate once per delta (payload is one row
    * per DELTA vector). */
  private val deltaMemo =
    new graft.plans.PlanMemo[Int, DataFrame](Seq(_))

  /** INCREMENTAL embedding near-dedup against a persisted index — the
    * production shape for a growing corpus: screen the arriving DELTA
    * against the [[writeIndex]] artifact; never re-read (or even
    * re-quantize) the base vectors. A delta vector is rejected iff it
    * verifies cos ≥ num/den (the shared 128-bit-integer kernel,
    * [[Similarity.exactCosAtLeast]]) against ANY indexed vector or a
    * LOWER-id delta vector sharing an unguarded band bucket — the
    * drop-the-higher-member convention of the whole dedup family;
    * rejection is not sequential (a rejected delta vector still
    * blocks its own later near-dups), keeping the result order- and
    * partitioning-independent.
    *
    * Scale shape: candidates come from the delta's postings equi-joined
    * against the PERSISTED postings; hot-bucket stats combine the
    * persisted |buckets|-row sidecar with the delta's own counts (the
    * only probe-time aggregation over index-derived rows); the verify
    * reads the persisted integer qe/na — so the recurring per-delta
    * cost is |delta| × bucket occupancy, never |corpus|², and raw base
    * vectors are touched zero times. */
  def incrementalAcceptIndexed(index: EmbeddingIndex, delta: DataFrame,
      num: Int, den: Int): DataFrame = {
    val (_, rejected) = screenIndexed(index, delta, num, den)
    delta.join(rejected, Seq("vec_id"), "left_anti")
  }

  /** [[incrementalAcceptIndexed]] fused with [[appendIndex]] — the
    * embedding ingest stream's recurring per-micro-batch call (text
    * twin: [[graft.text.Dedup.appendAcceptedIndexed]]): screens the
    * delta and appends the ACCEPTED rows' index entries re-using the
    * screen's own memoized [[buildRows]] frame ([[buildRows]] is a pure
    * per-row projection, so dIx anti-joined by the reject set ≡
    * buildRows(accepted) bit-for-bit — the quantize/band kernels never
    * re-run at append time; guide §1.2). The accepted rows (≤ the
    * delta) are collected once and append from the driver as a local
    * relation. The handle must be the live generation of `root0`. */
  def appendAcceptedIndexed(root0: String, index: EmbeddingIndex,
      delta: DataFrame, num: Int, den: Int): Unit = {
    val (dIx, rejected) = screenIndexed(index, delta, num, den)
    val acc = dIx.join(rejected, Seq("vec_id"), "left_anti")
    IndexStore.appendIndexRows(root0, "vecs",
      delta.sparkSession.createDataFrame(acc.collectAsList(), acc.schema),
      indexPostings)
  }

  /** The shared screen: (memoized delta index frame, rejected vec_ids). */
  private def screenIndexed(index: EmbeddingIndex, delta: DataFrame,
      num: Int, den: Int): (DataFrame, DataFrame) = {
    val dIx = deltaMemo.getOrCompute(delta, index.bits) {
      buildRows(delta, index.bits)
    }
    def deltaBuckets = dIx.select(col("vec_id"), explode(col("bands")).as("bk"))
    // combined occupancy = persisted partials + the delta's counts,
    // identical to grouping index ∪ delta postings without ever
    // re-aggregating the index
    val hot = index.bucketStats.select(col("bk"), col("n"))
      .unionByName(deltaBuckets.groupBy("bk").agg(count(lit(1)).as("n")))
      .groupBy("bk").agg(sum("n").as("__n"))
      .filter(col("__n") > index.maxBucket).select("bk")
    val refBk = index.postings.select(col("vec_id").as("id_ref"), col("bk"),
        lit(true).as("ref_is_base"))
      .unionByName(deltaBuckets.select(col("vec_id").as("id_ref"), col("bk"),
        lit(false).as("ref_is_base")))
    val cand = deltaBuckets.join(refBk.join(hot, Seq("bk"), "left_anti"), "bk")
      .filter(col("ref_is_base") || col("id_ref") < col("vec_id"))
      .select(col("vec_id"), col("id_ref")).distinct()
    val refVecs = index.vecs.select(col("vec_id").as("id_ref"),
        col("qe").as("q_r"), col("na").as("n_r"))
      .unionByName(dIx.select(col("vec_id").as("id_ref"),
        col("qe").as("q_r"), col("na").as("n_r")))
    val rejected = cand
      .join(dIx.select(col("vec_id"), col("qe").as("q_d"), col("na").as("n_d")),
        "vec_id")
      .join(refVecs, "id_ref")
      .withColumn("dot", call_function("dot_longs", col("q_d"), col("q_r")))
      .select(col("vec_id"), col("dot"), col("n_d").as("na"),
        col("n_r").as("nb"))
      .filter(Similarity.exactCosAtLeast(num, den))
      .select("vec_id").distinct()
    (dIx, rejected)
  }
}
