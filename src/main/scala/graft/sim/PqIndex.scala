package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.IndexStore

/** Persisted PQ index [EXT] — the ANN ladder's compression stage given
  * the same production growing-corpus shape as the text MinHash and
  * embedding band indexes ([[graft.text.Dedup]], [[EmbIndex]]): the
  * session-memoized codebook ([[Pq.codebookAndCodes]]) is retrained
  * from scratch every session — exactly the cold-cost curve the
  * embedding band index eliminated (140 s session build → 7 s delta
  * probe at the 100× corpus) — while the production shape is
  * train-once / encode-deltas / ADC-serve from persisted codes.
  *
  * Artifacts under `root`:
  *
  *  - `codebook` — (sub, j, i, cv): the M·K·Dsub = 256-row trained
  *    codebook, exact integer centroids on the shifted 1e-7 grid.
  *    FROZEN for the index's lifetime: PQ codes are only
  *    ADC-comparable against the codebook they were encoded with, so
  *    deltas MUST encode at the manifest generation's codebook (the
  *    band index's one-width-per-generation contract, for PQ) and
  *    only a REBUILD retrains from the grown corpus.
  *  - `coarse` — (j, c): the KC-cell IVF coarse quantizer
  *    ([[Clustering.kmeansFull]] centroids, base-trained), FROZEN
  *    like the codebook. Persisting it is what makes ROUTED serving
  *    survive a restart: [[topKRouted]] sends a query to its nprobe
  *    nearest cells and scans only those cells' codes — the
  *    billion-vector serving shape, where full-scan ADC (fine to
  *    ~10⁸ codes) stops being viable.
  *  - `codes` — (vec_id, sub, code, d2), PARTITIONED BY `cell` (the
  *    vector's frozen coarse-quantizer assignment): M one-byte codes
  *    (+ exact encoding distortion) per vector — the "no raw vectors
  *    after encode" record every ADC scan reads. Delta-sized
  *    appends; the cell partitioning means a routed query's scan is
  *    PRUNED to the probed cells' directories (nprobe/KC of the
  *    artifact) instead of filtered after a full read.
  *  - `manifest` — one row (m, k, kc, n_base), informational except
  *    as the generation marker (m/k/kc are compile-time constants
  *    today; persisting them makes a future knob change a detectable
  *    generation boundary, not a silent probe incompatibility).
  *
  * Crash contract: `codes` appends are single-artifact (the codebook
  * is immutable after build), so a torn delta append leaves partial
  * code rows for some delta vectors and a retried append duplicates
  * them. [[repairIndex]] recovers in the shape PQ's derived-cache
  * nature dictates (codes are a pure function of (vector, frozen
  * codebook)): damaged vectors are detected by the exact
  * M-codes-per-vector invariant — the PQ analogue of the embedding
  * index's 2-postings-per-vector rule — and RE-ENCODED from source at
  * the frozen codebook, never a corpus re-read or retrain, published
  * as the next create-only generation. */
object PqIndex {

  /** Coarse-quantizer cells (compile-time constant, persisted in the
    * manifest as the generation marker). 8 cells suit the testdata
    * scales; a production index sizes this ~√n (FAISS practice) at
    * build time — the value is per-generation data, not code. */
  val KC = 8

  final case class PqIndexArt(codebook: DataFrame, codes: DataFrame,
      coarse: DataFrame, m: Int, k: Int, kc: Int)

  /** Trains on `emb` (the base corpus) and persists all four
    * artifacts; `codes` are re-encoded against the WRITTEN codebook
    * parquet and cell-assigned at the WRITTEN coarse quantizer so
    * derived artifacts cannot drift (the writeIndex derivation
    * contract of both sibling indexes). */
  def writeIndex(emb: DataFrame, root: String): Unit = {
    val s = emb.sparkSession
    val (cent, _) = Pq.codebookAndCodes(emb)
    // model tables are bounded by construction (m·k codebook rows, kc
    // coarse centroids) — repartition(1) lands each as ONE part file
    // instead of one per core, and every append/query re-reads them
    // (FileSizing rationale, guide §6; repartition not coalesce so
    // the training compute upstream keeps its parallelism)
    cent.repartition(1).write.mode("overwrite").parquet(s"$root/codebook")
    val (_, kcents) = Clustering.kmeansFull(emb, KC)
    kcents.repartition(1).write.mode("overwrite").parquet(s"$root/coarse")
    withCells(Pq.encodeAt(emb, s.read.parquet(s"$root/codebook")),
        emb, s.read.parquet(s"$root/coarse"))
      .write.partitionBy("cell").mode("overwrite").parquet(s"$root/codes")
    // BUILD-TIME distortion baseline (exact integer sum + count over
    // the just-written codes) rides the manifest: the refresh trigger
    // compares the LIVE mean d2 against this moment's — appended
    // deltas encoded at the frozen codebook can only raise it, and
    // when the drift crosses the caller's budget a retrain is due
    // ([[refreshIfDrifted]]). Written from the WRITTEN parquet so the
    // baseline can never drift from the artifact. The sum accumulates
    // in DECIMAL(38,0) — still exact integers, but per-vector d2 on
    // the 1e-7 grid runs ~1e14 against an undertrained codebook, so a
    // LONG sum wraps somewhere past ~10⁵ vectors (the 100× corpus
    // found it: ANSI overflow in the trigger's live aggregation).
    val d2r = s.read.parquet(s"$root/codes")
      .agg(sum(col("d2").cast("decimal(38,0)")).as("s"),
        count(lit(1)).as("n")).head()
    import s.implicits._
    // 1-row manifest; repartition(1) on a local relation carries no
    // upstream compute (the coalesce(1) lesson does not apply)
    Seq((Pq.M, Pq.K, KC, emb.count(),
        d2r.getDecimal(0).toBigInteger.toString, d2r.getLong(1)))
      .toDF("m", "k", "kc", "n_base", "__s", "base_d2_n")
      .withColumn("base_d2_sum", col("__s").cast("decimal(38,0)"))
      .drop("__s")
      .repartition(1).write.mode("overwrite").parquet(s"$root/manifest")
  }

  // ── model generations (codebook refresh lifecycle) ─────────────────
  // The codebook + coarse quantizer are FROZEN per model generation
  // (codes are only ADC-comparable against the codebook they were
  // encoded with), so a retrain is not an append — it is a NEW MODEL
  // GENERATION: a complete sibling index (codebook/coarse/codes/
  // manifest) under `root/modelgen<k>`, committed by a marker file
  // written LAST. The PREVIOUS generation stays intact — an in-flight
  // reader that resolved it keeps hash-identical results for its whole
  // session (PqIndexSpec pins it), and the per-artifact machinery
  // (appends, tombstones, purge compaction, repair) operates WITHIN
  // whichever generation is live. Crash contract: a crash anywhere
  // before the marker leaves a marker-less subdir every resolver
  // ignores — readers stay on the old generation; re-running the
  // refresh writes the next number.

  /** Retrains codebook + coarse quantizer on `source` (the CURRENT
    * corpus — base plus every appended delta), re-encodes all of it,
    * and publishes the result as the next model generation. Returns
    * the new generation's root. Cost = one full [[writeIndex]] (the
    * decade row in SERIAL.md prices refresh ≈ build — a retrain IS a
    * build; what the lifecycle adds is that serving never stops and
    * the old generation never tears). */
  def refreshIndex(s: SparkSession, root: String,
      source: DataFrame): String = {
    val mr = IndexStore.liveRoot(root)
    // the live generation's PENDING TOMBSTONES carry into the refresh
    // as an anti-join on the training/encoding source: a retrain is
    // the one maintenance pass that REBUILDS the per-vector record,
    // and rebuilding it from the raw corpus would resurrect erased
    // vectors into serving (right-to-erasure silently undone) — and
    // even let the erased mass's drift be what trips the trigger.
    // The new generation then needs no tomb artifact at all: erased
    // rows never enter it.
    val src = IndexStore.dropErased(s, mr, "vec_id")(source)
    IndexStore.publishModelGen(root)(writeIndex(src, _))
  }

  /** The distortion-triggered refresh: retrains iff the LIVE codes'
    * mean encoding distortion exceeds (num/den) × the live
    * generation's BUILD-TIME mean (both exact integer sums persisted
    * with the artifacts — the [[Pq.distortion]] signal wired to the
    * maintenance action). Cross-multiplied in BigInt so the compare
    * cannot overflow at any corpus size. Returns the new generation
    * root when it fired, None when the drift is within budget. */
  def refreshIfDrifted(s: SparkSession, root: String, source: DataFrame,
      num: Long = 11, den: Long = 10): Option[String] = {
    val mr = IndexStore.liveRoot(root)
    val manifest = s.read.parquet(s"$mr/manifest")
    // a generation persisted before the baseline columns existed has
    // no drift reference — refreshing ONCE (explicit policy, not an
    // AnalysisException) publishes a generation that carries one, so
    // the trigger self-heals on legacy artifacts
    if (!manifest.columns.contains("base_d2_sum"))
      return Some(refreshIndex(s, root, source))
    // the cast reads BOTH manifest vintages (decimal since the 100×
    // overflow fix, long before it) into the overflow-proof type
    val base = manifest
      .select(col("base_d2_sum").cast("decimal(38,0)"), col("base_d2_n"))
      .head()
    // drift is measured over the SERVED codes — readIndex's
    // tombstone-filtered view — not the raw artifact: pending
    // erasures are leaving the corpus, so their distortion must not
    // be what trips a retrain. DECIMAL(38,0) accumulation: per-vector
    // d2 against a drifted codebook reaches ~1e14, so a long sum
    // wraps past ~10⁵ live vectors (found by the 100× gate).
    val live = readIndex(s, root).codes
      .agg(sum(col("d2").cast("decimal(38,0)")).as("s"),
        count(lit(1)).as("n")).head()
    // every vector tombstoned → sum() is null: no served mass means
    // no drift signal, so the trigger stays quiet (the next append or
    // an explicit refresh re-establishes one)
    if (live.isNullAt(0)) return None
    val drifted =
      BigInt(live.getDecimal(0).toBigInteger) * base.getLong(1) * den >
        BigInt(base.getDecimal(0).toBigInteger) * live.getLong(1) * num
    if (drifted) Some(refreshIndex(s, root, source)) else None
  }

  /** One NIGHTLY MAINTENANCE pass over the PQ index: compact if
    * tombstones are pending (PQ has no mergeable sidecar partials),
    * repair if a torn/retried append violated the M-codes-per-vector
    * invariant (re-encoded from `source` at the frozen codebook —
    * compaction runs FIRST so repair is never asked to re-encode a
    * vector the corpus of record no longer has), refresh if the live
    * distortion drifted past num/den × the build-time baseline. Step
    * order / source contract / crash matrix:
    * [[graft.io.MaintenanceReport]] and `graft.MaintenanceSpec`. */
  def maintainIndex(s: SparkSession, root: String, source: DataFrame,
      num: Long = 11, den: Long = 10): graft.io.MaintenanceReport = {
    val mr = IndexStore.liveRoot(root)
    // the tombstone probe runs once: the purge takes its answer
    val hasTomb = IndexStore.hasTombstones(s, mr)
    if (hasTomb) purge(s, mr)
    val repaired = repairIndex(s, mr, source)
    val regen = refreshIfDrifted(s, root, source, num, den)
    graft.io.MaintenanceReport(hasTomb, repaired, regen)
  }

  /** Joins each code row with its vector's frozen coarse-cell
    * assignment — the one spelling of the `cell` column every codes
    * write shares (build, append, repair heal). One delta scan
    * against the broadcast ≤KC-row centroid table. */
  private def withCells(codes: DataFrame, source: DataFrame,
      coarse: DataFrame): DataFrame =
    codes.join(
      Clustering.assignAt(source, coarse)
        .select(col("vec_id"), col("cluster").as("cell")),
      Seq("vec_id"))
      .select("vec_id", "sub", "code", "d2", "cell")

  /** The manifest row: (m, k, kc, n_base). Content-stamp cached
    * ([[IndexStore.manifest]]) — same rationale as
    * [[graft.sim.EmbIndex.readManifest]]: skip the driver head() job
    * on every readIndex/appendIndex of an unchanged generation. */
  def readManifest(s: SparkSession, root: String): (Int, Int, Int, Long) =
    IndexStore.manifest(s, IndexStore.liveRoot(root)) { m =>
      val r = m.select("m", "k", "kc", "n_base").head()
      (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3))
    }

  def readIndex(s: SparkSession, root: String): PqIndexArt = {
    val mr = IndexStore.liveRoot(root)
    val (m, k, kc, _) = readManifest(s, mr)
    // `cell` comes back as a partition-directory column (type as
    // inferred); [[topKRouted]] casts its tiny probe frame to match,
    // never the scan side — a cast around the partition column would
    // defeat partition pruning.
    // tombstone-aware open: erased vectors' codes are anti-joined
    // out, so they can appear in no ADC ranking from the erase call on;
    // physical purge at the next [[compactIndex]]
    val c = IndexStore.dropErased(s, mr, "vec_id")(
      s.read.parquet(IndexStore.live(mr, "codes")))
    PqIndexArt(s.read.parquet(s"$mr/codebook"), c,
      s.read.parquet(s"$mr/coarse"), m, k, kc)
  }

  /** ROUTED ADC serving through the persisted IVF structure — the
    * steady-state query at 10⁹ codes: the query vector routes to its
    * `nprobe` nearest coarse cells ([[Similarity.probeCells]], the ONE
    * probe spelling shared with the session ladder's IVF rungs), and
    * the ADC scan reads ONLY those cells' code partitions — dynamic
    * partition pruning on the `cell` directory column, so ~nprobe/KC
    * of the artifact is scanned instead of filtered post-read. Exact
    * within the probed cells (same integer-ADC determinism as
    * [[Pq.adcTopK]]); cell recall is the standard IVF trade, tuned by
    * nprobe. */
  def topKRouted(emb: DataFrame, ix: PqIndexArt, k: Int,
      nprobe: Int = 2): DataFrame = {
    val cellType = ix.codes.schema("cell").dataType
    val cells = Similarity.probeCells(emb, ix.coarse, nprobe)
      .select(col("cluster").cast(cellType).as("cell"))
    Pq.adcTopK(emb, ix.codebook,
      ix.codes.join(broadcast(cells), Seq("cell")), k)
  }

  /** BATCHED routed ADC serving — the online-serving shape of
    * [[topKRouted]]: every query vector in `queries` routes to its
    * own `nprobe` nearest coarse cells and is ADC-ranked against only
    * those cells' persisted codes. One plan for the whole batch: the
    * per-query probe is a crossJoin against the broadcast ≤KC-row
    * coarse table + a per-query rank window; the codes scan is
    * dynamic-partition-pruned to the UNION of probed cells (still ≤
    * KC directories, ~nprobe/KC of the artifact for clustered query
    * batches); the ADC lookup-sum is one join against the broadcast
    * per-query distance tables (≤ M·K rows per query). Returns
    * (q_id, rank, vec_id, approx_d2) — the
    * [[EmbIndex.indexTopKBatch]] convention; exact integer distances,
    * ties on vec_id. */
  def topKRoutedBatch(queries: DataFrame, ix: PqIndexArt, k: Int,
      nprobe: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cellType = ix.codes.schema("cell").dataType
    val q = queries.select(col("vec_id").as("q_id"),
      Clustering.quantize(col("embedding")).as("qv"))
    graft.plans.GraftFunctions.register(queries.sparkSession)
    val d2c = call_function("l2sq_longs", col("c"), col("qv"))
    val probed = q.crossJoin(broadcast(ix.coarse))
      .select(col("q_id"), col("j"), d2c.as("d2"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("d2"), col("j"))))
      .filter(col("rn") <= nprobe)
      .select(col("q_id"), col("j").cast(cellType).as("cell"))
    val qd = Pq.dims(queries)
      .join(broadcast(ix.codebook), Seq("sub", "i"))
      .groupBy(col("vec_id").as("qq"), col("sub").as("qsub"),
        col("j").as("qj"))
      .agg(sum((col("v") - col("cv")) * (col("v") - col("cv"))).as("qd2"))
    val cand = ix.codes.join(broadcast(probed), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
    cand.join(broadcast(qd), cand("q_id") === qd("qq") &&
        cand("sub") === qd("qsub") && cand("code") === qd("qj"))
      .groupBy("q_id", "vec_id").agg(sum("qd2").as("approx_d2"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id")
          .orderBy(col("approx_d2"), col("vec_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "vec_id", "approx_d2")
  }

  /** The live `codes` artifact of the LIVE MODEL GENERATION (plain
    * build dir = generation 0; [[compactIndex]] publishes PURGED next
    * codes generations within a model generation). */
  private[graft] def codesLive(root: String): String =
    IndexStore.live(IndexStore.liveRoot(root), "codes")

  /** Right-to-erasure into the PQ index: append the request ids to
    * the live model generation's `tomb` artifact (probes exclude them
    * immediately); the physical rewrite rides [[compactIndex]]. */
  def eraseFromIndex(root: String, ids: DataFrame): Unit =
    IndexStore.appendTombstones(IndexStore.liveRoot(root),
      ids.select(col("vec_id")))

  /** Maintenance pass: physically purges tombstoned vectors' codes
    * (published as the next create-only generation) and resets the
    * tombstone list LAST — the same crash-safe ordering as the text
    * and embedding compactions. The codebook is untouched: it is a
    * trained model, not per-vector data (erasing a vector does not
    * un-train it any more than deleting a training document untrains
    * a deployed LLM — re-training without the vector is a REBUILD
    * decision). No-op when no tombstones exist (PQ has no mergeable
    * sidecar partials to compact). */
  def compactIndex(s: SparkSession, root: String): Unit = {
    val mr = IndexStore.liveRoot(root)
    if (IndexStore.hasTombstones(s, mr)) purge(s, mr)
  }

  private def purge(s: SparkSession, mr: String): Unit =
    IndexStore.purgeErased(s, mr, "vec_id", Seq("codes"),
      write = (df, dir) => df.write.partitionBy("cell").mode("overwrite").parquet(dir))

  /** Repairs a torn or retried `codes` append via the exact
    * M-codes-per-vector invariant (count = distinct subs = manifest
    * m; a torn write leaves fewer rows, a retried one duplicates
    * rows): the damaged vec_ids are re-encoded from `source` at the
    * FROZEN codebook — the recovery op PQ's derived-cache nature
    * dictates (codes are a pure function of (vector, codebook); no
    * corpus re-read, no retrain) — and the healed artifact is
    * published as the next create-only generation, intact rows
    * passing through untouched. Returns false (artifact untouched)
    * when the invariant already holds, so re-running repair is
    * idempotent.
    *
    * Scale shape: the invariant scan is one map-side-combinable
    * groupBy over (vec_id) counts; the damaged set is bounded by the
    * torn append's delta, so the re-encode is one delta-sized scan
    * against the broadcast ≤K·M-row codebook while base codes stream
    * through the generation copy without decode. */
  def repairIndex(s: SparkSession, root: String,
      source: DataFrame): Boolean = {
    val mr = IndexStore.liveRoot(root)
    val (m, _, _, _) = readManifest(s, mr)
    val live = IndexStore.live(mr, "codes")
    val damaged = s.read.parquet(live)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n"), countDistinct(col("sub")).as("nd"))
      .filter(col("n") =!= m.toLong || col("nd") =!= m.toLong)
      .select("vec_id")
      .localCheckpoint() // pin: the relation it derives from is rewritten below
    if (damaged.isEmpty) false
    else {
      val dmgSource = source.join(damaged, Seq("vec_id"))
      val healed = withCells(
        Pq.encodeAt(dmgSource, s.read.parquet(s"$mr/codebook")),
        dmgSource, s.read.parquet(s"$mr/coarse")).localCheckpoint()
      // the repair contract REQUIRES source to cover every damaged
      // vector: a silent partial heal would anti-join the uncovered
      // vectors' remaining code rows out of the artifact and return
      // true — permanent, unreported data loss. Fail loudly instead.
      val nDamaged = damaged.count()
      val nHealed = healed.select("vec_id").distinct().count()
      require(nHealed == nDamaged,
        s"repairIndex: source covers only $nHealed of $nDamaged damaged " +
          "vectors — refusing a partial heal (the uncovered vectors' " +
          "codes would be silently dropped)")
      publishCleanCodes(s, mr, damaged, healed)
      true
    }
  }

  /** Publishes the next `codes` generation = (live minus `drop`) ∪
    * `add` — the one rewrite spelling repair uses (both inputs are
    * pinned by the caller; the anti-join reads the OLD live path,
    * deleted only after the new generation's _SUCCESS lands). Both
    * union branches cast `cell` to ONE explicit type (int, what
    * partition-value inference yields on a fresh build): the live
    * side arrives partition-inferred, the healed side carries
    * assignAt's cluster type — leaving either uncast made the
    * rewritten artifact's cell type an accident of union widening. */
  private def publishCleanCodes(s: SparkSession, root: String,
      drop: DataFrame, add: DataFrame): Unit = {
    val cur = IndexStore.live(root, "codes")
    // hygiene on the healed rewrite too (FileSizing, guide §6)
    val codesParts = graft.io.FileSizing.partsOf(cur)
    IndexStore.publishNextGen(s, root, "codes") { sd =>
      s.read.parquet(cur)
        .join(drop, Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("sub"), col("code"), col("d2"),
          col("cell").cast("int").as("cell"))
        .unionByName(add.select(col("vec_id"), col("sub"), col("code"),
          col("d2"), col("cell").cast("int").as("cell")))
        .coalesce(codesParts)
        .write.partitionBy("cell").mode("overwrite").parquet(sd)
    }
  }

  /** Encodes the delta AT THE FROZEN CODEBOOK, cell-assigns it at the
    * FROZEN coarse quantizer, and appends its codes — the
    * recurring-cost path: one scan of the delta against two broadcast
    * constant-size tables (256-row codebook, ≤KC-row coarse), zero
    * training, zero base re-reads (re-training on the grown corpus is
    * a REBUILD, not an append — codes from two codebooks cannot share
    * an ADC table, and cells from two quantizers cannot share a
    * routing). The delta here reads source data, not the index being
    * grown, so no snapshot is needed (unlike [[EmbIndex.appendIndex]],
    * whose accepted frame derives from the probed index). */
  def appendIndex(root: String, delta: DataFrame): Unit = {
    val s = delta.sparkSession
    val mr = IndexStore.liveRoot(root)
    val live = IndexStore.live(mr, "codes")
    withCells(Pq.encodeAt(delta, s.read.parquet(s"$mr/codebook")),
        delta, s.read.parquet(s"$mr/coarse"))
      .write.partitionBy("cell").mode("append").parquet(live)
    s.catalog.refreshByPath(live)
  }
}
