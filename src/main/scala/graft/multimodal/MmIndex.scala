package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.IndexStore

/** Persisted multimodal perceptual-hash index [EXT] — the media
  * analogue of the three persisted index families (text MinHash
  * [[graft.text.Dedup]], embedding bands [[graft.sim.EmbIndex]], PQ
  * codes [[graft.sim.PqIndex]]): decode + perceptual-fingerprint each
  * media object ONCE at ingest, persist the 16-byte signature, and
  * screen every later delta against the persisted signatures without
  * re-decoding a single indexed byte.
  *
  * Why it exists: the in-plan mm dedup queries
  * (mm_perceptual_dedup / mm_video_dedup / mm_audio_dedup) re-decode
  * the full media lake on every run. At 100 TB of media the decode IS
  * the dominant cost — image/video/audio payloads are MBs where their
  * fingerprints are 16 bytes — so the production shape is pay-decode-
  * once / probe-signatures-forever, exactly the build → append →
  * probe lifecycle the text index runs over shingle sets
  * (text/Dedup.scala:208ff is the pattern; the aHash kernels are the
  * ones the in-plan queries already hash-gate per modality).
  *
  * Artifacts under `root`:
  *  - `sig` — (doc_id, media_type, phash_hi, phash_lo): one row per
  *    ingested media object, the decode-once record of truth.
  *    Append-only ([[appendIndex]]); 16 fingerprint bytes + type per
  *    object however large the source payload.
  *
  * Dedup semantics: two objects are perceptual duplicates iff they
  * share (media_type, phash_hi, phash_lo) — the same equality the
  * in-plan queries group by (image/video share the 8×8 aHash kernel,
  * audio the 64-point envelope; the media_type component keeps a
  * visual hash from colliding with an audio hash that happens to
  * pack the same bits). Fingerprint equality is transitive, so the
  * text index's drop-the-higher-id convention is exact here with no
  * banded second layer: a delta doc is accepted iff NO indexed object
  * and no lower-id delta object shares its signature.
  */
object MmIndex {

  /** Per-object perceptual signatures for a media-lake frame — the
    * three modality kernels ([[Multimodal.perceptualHashes]] image
    * aHash, [[Multimodal.videoKeyframeHashes]] idx1-seeked keyframe
    * aHash, [[Multimodal.audioEnvelopeHashes]] 64-point envelope),
    * each decoding only its own modality's rows, unioned with the
    * modality tag. Decode runs partition-parallel inside the kernels;
    * 16 bytes + tag per object leave each task. */
  def signatures(spark: SparkSession, media: DataFrame): DataFrame =
    Multimodal.perceptualHashes(spark, media).toDF()
      .withColumn("media_type", lit("image"))
      .unionByName(Multimodal.audioEnvelopeHashes(spark, media).toDF()
        .withColumn("media_type", lit("audio")))
      .unionByName(Multimodal.videoKeyframeHashes(spark, media).toDF()
        .withColumn("media_type", lit("video")))
      .select("doc_id", "media_type", "phash_hi", "phash_lo")

  /** Builds and persists the signature index over `media` (the
    * already-accepted base lake). One decode pass; at 100 TB this
    * runs once per corpus and is APPENDED to, never rebuilt. */
  def writeIndex(media: DataFrame, root: String): Unit = {
    val s = media.sparkSession
    // signature rows are fixed-width (~40 B incl. the tag), so the
    // output file count derives EXACTLY from the object count — a
    // payload-free count job (the payload column never loads), then
    // repartition (not coalesce: decode keeps its parallelism) to
    // size-targeted files instead of one tiny file per decode task
    // (FileSizing, guide §6).
    val parts = graft.io.FileSizing.partsFor(
      media.select("doc_id").count() * 40L)
    signatures(s, media).repartition(parts)
      .write.mode("overwrite").parquet(s"$root/sig")
  }

  /** Appends the accepted delta objects' signatures — decode pays
    * once, at the moment the object enters the corpus; the base
    * artifact is never rewritten. Callers append the ACCEPTED rows
    * only (rejected dups never enter the index), mirroring
    * [[graft.text.Dedup.appendIndex]]'s contract. */
  def appendIndex(root: String, acceptedMedia: DataFrame): Unit = {
    val s = acceptedMedia.sparkSession
    val live = sigLive(root)
    // repartition(1), not coalesce: decode stays partition-parallel
    // upstream; only the 32-byte signature rows shuffle. One part
    // file per delta append instead of one per core (FileSizing
    // rationale, guide §6) — a delta would need >4M objects before
    // its signatures outgrow one 128 MB target file.
    signatures(s, acceptedMedia).repartition(1)
      .write.mode("append").parquet(live)
    s.catalog.refreshByPath(live)
  }

  /** Opens the persisted signature table — tombstone-aware (the
    * erasure contract shared by all four index families): erased
    * objects' signatures are anti-joined out from the erase call on,
    * so they can neither appear in index listings nor reject a delta;
    * the physical purge rides [[compactIndex]]. The `sig` artifact
    * resolves through the create-only generation machinery (plain
    * build dir = generation 0; compaction publishes PURGED next
    * generations). Both artifacts open with their footer schema — no
    * inference job. */
  def readIndex(s: SparkSession, root: String): DataFrame =
    IndexStore.dropErased(s, root, "doc_id")(IndexStore.open(s, root, "sig"))

  /** The live `sig` artifact generation. */
  private[graft] def sigLive(root: String): String = IndexStore.live(root, "sig")

  /** Right-to-erasure into the media index: append the request ids
    * (an EXTERNAL request list with a `doc_id` column) to the `tomb`
    * artifact — every [[readIndex]] open excludes them from that
    * moment, so an erased object can no longer reject arriving
    * deltas; the physical rewrite rides the next [[compactIndex]].
    * O(|request|), no signature recompute, no media decode. */
  def eraseFromIndex(root: String, ids: DataFrame): Unit =
    IndexStore.appendTombstones(root, ids.select(col("doc_id")))

  /** Maintenance pass: physically purges tombstoned objects'
    * signature rows (published as the next create-only `sig`
    * generation — a crash mid-write leaves a marker-less torn dir
    * readers ignore) and resets the tombstone list LAST, the same
    * crash-safe ordering as the text/embedding/PQ compactions. No-op
    * without tombstones (the signature table has no mergeable
    * partials to fold). */
  def compactIndex(s: SparkSession, root: String): Unit =
    if (IndexStore.hasTombstones(s, root)) purge(s, root)

  private def purge(s: SparkSession, root: String): Unit =
    IndexStore.purgeErased(s, root, "doc_id", Seq("sig"))

  /** Repairs a RETRIED torn `sig` append via the one-row-per-object
    * invariant (a signature row is a pure function of the payload, so
    * a replayed append duplicates rows — it can never write
    * conflicting ones; a torn write commits nothing under the parquet
    * committer). Detection is one map-side-combinable groupBy count;
    * the heal rewrites the damaged ids' rows DISTINCT into the next
    * create-only generation — no media re-decode (unlike
    * [[graft.sim.PqIndex.repairIndex]], whose partial per-subspace
    * rows force a re-encode, a duplicated signature row IS the
    * correct row), intact rows passing through untouched. Returns
    * false (artifact untouched) when the invariant already holds, so
    * re-running repair is idempotent. */
  def repairIndex(s: SparkSession, root: String): Boolean = {
    val live = sigLive(root)
    val damaged = s.read.parquet(live)
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select("doc_id")
      .localCheckpoint() // pin: the relation it derives from is rewritten
    if (damaged.isEmpty) false
    else {
      // hygiene on the healed rewrite (FileSizing, guide §6)
      val sigParts = graft.io.FileSizing.partsOf(live)
      IndexStore.publishNextGen(s, root, "sig") { sd =>
        val cur = s.read.parquet(live)
        cur.join(broadcast(damaged), Seq("doc_id"), "left_anti")
          .unionByName(cur.join(broadcast(damaged), Seq("doc_id"),
            "left_semi").distinct())
          .coalesce(sigParts)
          .write.mode("overwrite").parquet(sd)
      }
      true
    }
  }

  /** Screens `deltaMedia` (id + media_type + payload) against the
    * persisted signatures: accepted = delta objects whose signature
    * matches no indexed object and no lower-id delta object. The ONLY
    * decode in the plan is the delta's own ([[signatures]] of the
    * delta); the index side reads 16-byte signature rows.
    *
    * Join shape at scale: the index is corpus-sized, the delta is a
    * micro-batch — so the index-side match streams the signature scan
    * through a hash probe of the BROADCAST delta signatures (matched
    * keys out, bounded by |delta|), and the delta-side rejection joins
    * against that bounded key set. Flipping it (delta left-semi index)
    * would hash the corpus. Intra-delta dups resolve by min-id per
    * signature over the delta alone. */
  def incrementalAccept(ixSig: DataFrame, deltaMedia: DataFrame): DataFrame =
    incrementalAcceptWithSigs(ixSig, deltaMedia)._1

  /** [[incrementalAccept]] that ALSO returns the accepted objects'
    * signature rows — the ingest loop appends those directly
    * ([[appendSignatures]]) instead of re-decoding payloads the probe
    * already fingerprinted. */
  def incrementalAcceptWithSigs(ixSig: DataFrame,
      deltaMedia: DataFrame): (DataFrame, DataFrame) = {
    val s = deltaMedia.sparkSession
    // the delta's signatures are computed ONCE per probe: the frame
    // feeds four plan branches (the matched-key broadcast, the
    // vs-index rejection, both sides of the intra-delta min) plus the
    // accepted-signatures output, and DECODE is the dominant
    // per-batch cost this index exists to bound — unshared, Spark
    // would re-run the three decode kernels per branch. The lazy
    // localCheckpoint shares the computed RDD (bounded: |delta| rows
    // × ~20 bytes of fingerprint) and gives the probe SNAPSHOT
    // semantics against concurrent appends; the rejection ledger is
    // checkpointed for the same sharing reason (two anti-join
    // consumers).
    val dSig = signatures(s, deltaMedia).localCheckpoint(false)
    val rejected = rejectionPlan(ixSig, dSig).localCheckpoint(false)
    (deltaMedia.join(rejected, Seq("doc_id"), "left_anti"),
      dSig.join(rejected, Seq("doc_id"), "left_anti"))
  }

  /** The rejection plan over an already-derived delta-signature frame
    * — factored out so MmIndexSpec can pin its scan shape directly
    * (the production probe consumes it through the checkpointed
    * ledger above, which hides this subtree from the outer plan). */
  private[graft] def rejectionPlan(ixSig: DataFrame,
      dSig: DataFrame): DataFrame = {
    val key = Seq("media_type", "phash_hi", "phash_lo")
    val matchedKeys = ixSig
      .join(broadcast(dSig.select(key.map(col): _*)), key, "left_semi")
      .select(key.map(col): _*).distinct()
    val vsIndex = dSig.join(broadcast(matchedKeys), key, "left_semi")
      .select("doc_id")
    val intraDelta = dSig
      .join(dSig.groupBy(key.map(col): _*).agg(min(col("doc_id")).as("__m")),
        key)
      .filter(col("doc_id") > col("__m"))
      .select("doc_id")
    vsIndex.unionByName(intraDelta)
  }

  /** One NIGHTLY MAINTENANCE pass over the media-signature index:
    * compact if erasure tombstones are pending, repair if a replayed
    * append violated the one-row-per-object invariant. Signatures have
    * no trained model, so the regeneration column is structurally
    * absent (always None — a fingerprint kernel change would be a new
    * index, not a maintenance step). Step order / crash matrix:
    * [[graft.io.MaintenanceReport]] and `graft.MaintenanceSpec`. */
  def maintainIndex(s: SparkSession, root: String): graft.io.MaintenanceReport = {
    // the tombstone probe runs once: the purge takes its answer
    val hasTomb = IndexStore.hasTombstones(s, root)
    if (hasTomb) purge(s, root)
    val repaired = repairIndex(s, root)
    graft.io.MaintenanceReport(hasTomb, repaired, None)
  }

  // ── near-duplicate (Hamming-tolerance) probing ─────────────────────
  // Exact signature equality only catches deterministic re-encodes; on
  // real media a resized/re-encoded copy of the same picture lands a
  // few aHash bits away. The tolerance layer reuses the text family's
  // pigeonhole bands over the 64-bit fingerprint: 4 disjoint 16-bit
  // bands — maxDist ≤ 3 differing bits touch at most 3 of the 4, so
  // every qualifying pair collides in ≥ 1 INTACT band and the banded
  // candidate set is COMPLETE (MmIndexSpec pins band-probe ≡
  // brute-force Hamming); candidates are then verified by exact
  // Hamming distance (bit_count of the XOR, both halves).

  /** The pigeonhole band keys of a signature frame — one exploded
    * (band, bv) struct per band, keyed with media_type (a visual band
    * must not meet an audio band). The geometry is a declared PROBE
    * parameter, not an index property (bands derive in-plan from the
    * persisted 64-bit fingerprint, so one artifact serves every
    * posture): 4×16 is complete for Hamming ≤ 3 — the re-encode/
    * resize radius; 8×8 for Hamming ≤ 7 — the looser recall posture,
    * at 256× denser buckets per band (the Hamming twin of the text
    * family's declared 16×4 / 8×8 minhash postures). phash_hi
    * carries bits 32..63 in its low 32 bits. */
  private[graft] def withBands(sig: DataFrame, nBands: Int = 4): DataFrame = {
    require(nBands == 4 || nBands == 8,
      s"supported band geometries: 4x16, 8x8 (got $nBands)")
    val w = 64 / nBands
    val mask = (1L << w) - 1
    val slices = (0 until nBands).map { i =>
      val src = if (i * w < 32) col("phash_lo") else col("phash_hi")
      struct(lit(i).as("band"),
        shiftrightunsigned(src, (i * w) % 32)
          .bitwiseAND(lit(mask)).as("bv"))
    }
    sig.withColumn("bk", explode(array(slices: _*)))
      .select(col("*"), col("bk.band").as("band"), col("bk.bv").as("bv"))
      .drop("bk")
  }

  /** Delta doc_ids rejected under NEAR-duplicate semantics: a delta
    * object is rejected iff some indexed object — or some LOWER-id
    * delta object — of the same media_type sits within Hamming
    * `maxDist` of its fingerprint (the mm_incremental convention,
    * generalized from distance 0; rejection is not sequential — a
    * rejected delta still blocks its own later near-dups, keeping the
    * verdict order-independent).
    *
    * Scale shape: the index side is never banded into a self-join —
    * the corpus-sized signature scan streams through the BROADCAST
    * delta band keys and, because the vs-index verdict never reads
    * index document identity, collapses to DISTINCT signatures per
    * band-bucket before any counting or pairing (map-side combine:
    * a verbatim dup mass shrinks to one row — the index-side twin of
    * the text fp screen). The guard drops buckets whose
    * DISTINCT-SIGNATURE occupancy exceeds `maxBucket` — replica mass
    * can no longer make a bucket hot, only genuinely diverse
    * fingerprint density can, and it never fires on the test corpora
    * (MmIndexSpec pins the default-guard probe ≡ brute force there).
    * Verification is a codegen'd bit_count over the XOR — 16 bytes
    * per candidate, never payloads; media decode happens zero times
    * in this plan (`dSig` arrives pre-fingerprinted). */
  private[graft] def nearRejectionPlan(ixSig: DataFrame, dSig: DataFrame,
      maxDist: Int = 3, maxBucket: Long = 100000L,
      withinDelta: Boolean = true, nBands: Int = 4): DataFrame = {
    require(maxDist < nBands,
      s"${nBands}-band pigeonhole is complete only to Hamming ${nBands - 1}, " +
        s"got $maxDist")
    val key = Seq("media_type", "band", "bv")
    def hamming(hiA: Column, loA: Column, hiB: Column, loB: Column) =
      bit_count(hiA.bitwiseXOR(hiB)) + bit_count(loA.bitwiseXOR(loB))
    val dB = withBands(dSig, nBands)
    // the vs-index verdict needs only "∃ an indexed signature within
    // tolerance" — index DOCUMENT identity is never read — so the
    // index side collapses to DISTINCT signatures per band-bucket
    // right after the delta restriction (map-side combine): a
    // verbatim dup mass (the crawl-spam shape) collapses to ONE row
    // BEFORE the guard counts it or the candidate join pairs it —
    // the index-side twin of the text family's fp screen. The guard
    // therefore fires only on DISTINCT-signature density (many
    // different fingerprints crowding one 16-bit band), never on
    // replica mass.
    val dKeys = dB.select(key.map(col): _*).distinct()
    val ixSigs = withBands(ixSig, nBands)
      .select(col("media_type"), col("band"), col("bv"),
        col("phash_hi").as("__hi_b"), col("phash_lo").as("__lo_b"))
      .join(broadcast(dKeys), key, "left_semi")
      .distinct()
    val hot = ixSigs.groupBy(key.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBucket).select(key.map(col): _*)
    // `hot` is bounded by the delta's own band-key count, so it rides
    // the same broadcast tier as the keys themselves
    val okD = dB.join(broadcast(hot), key, "left_anti")
    val vsIndex = ixSigs.join(broadcast(okD), key)
      .filter(hamming(col("__hi_b"), col("__lo_b"),
        col("phash_hi"), col("phash_lo")) <= maxDist)
      .select("doc_id")
    val lower = dB.select(col("media_type"), col("band"), col("bv"),
      col("doc_id").as("__id_b"), col("phash_hi").as("__hi_b"),
      col("phash_lo").as("__lo_b"))
    val intraDelta = dB.join(broadcast(lower), key)
      .filter(col("__id_b") < col("doc_id") &&
        hamming(col("__hi_b"), col("__lo_b"),
          col("phash_hi"), col("phash_lo")) <= maxDist)
      .select("doc_id")
    // consumers anti-join / distinct; multi-band collisions may emit
    // a doc_id up to 4 times, bounded and harmless. withinDelta=false
    // is the SERVING posture: a lookup answers "near-dup of the
    // corpus?" as a pure per-object function, so verdicts stay
    // batch-composition invariant (the ingest/probe posture keeps the
    // lower-id intra-delta rule).
    if (withinDelta) vsIndex.unionByName(intraDelta) else vsIndex
  }

  /** Per-delta NEAR-dup verdict report against the persisted index:
    * (doc_id, media_type, phash_hi, phash_lo, accepted) — one row per
    * delta object, its decode-once fingerprint, and whether it
    * survives Hamming-`maxDist` screening against the index and its
    * lower-id delta peers. The registered-query / serving shape: the
    * fingerprint columns gate the payload construction end-to-end and
    * the verdict gates the band+verify plan. The delta's signatures
    * are computed ONCE (decode is the per-batch cost this index
    * bounds) and shared by the report row and both rejection branches
    * via a bounded localCheckpoint, as in [[incrementalAcceptWithSigs]]. */
  def nearProbeReport(ixSig: DataFrame, deltaMedia: DataFrame,
      maxDist: Int = 3, maxBucket: Long = 100000L,
      withinDelta: Boolean = true, nBands: Int = 4): DataFrame = {
    val s = deltaMedia.sparkSession
    val dSig = signatures(s, deltaMedia).localCheckpoint(false)
    val rej = nearRejectionPlan(ixSig, dSig, maxDist, maxBucket, withinDelta,
      nBands)
      .distinct().withColumn("__rej", lit(true))
    dSig.join(broadcast(rej), Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("media_type"),
        col("phash_hi"), col("phash_lo"),
        col("__rej").isNull.as("accepted"))
  }

  /** [[incrementalAcceptWithSigs]]'s near-dup counterpart: accepted
    * delta rows + their signature rows under Hamming-`maxDist`
    * semantics — the ingest-loop shape for a tolerance-screened media
    * stream. */
  def nearAcceptWithSigs(ixSig: DataFrame, deltaMedia: DataFrame,
      maxDist: Int = 3, maxBucket: Long = 100000L): (DataFrame, DataFrame) = {
    val s = deltaMedia.sparkSession
    val dSig = signatures(s, deltaMedia).localCheckpoint(false)
    val rejected = nearRejectionPlan(ixSig, dSig, maxDist, maxBucket)
      .localCheckpoint(false)
    (deltaMedia.join(rejected, Seq("doc_id"), "left_anti"),
      dSig.join(rejected, Seq("doc_id"), "left_anti"))
  }

  /** Appends ALREADY-COMPUTED signature rows (the probe's accepted
    * output) — the ingest loop's append path: zero re-decode. */
  private[graft] def appendSignatures(root: String, sigs: DataFrame): Unit = {
    val s = sigs.sparkSession
    val live = sigLive(root)
    // one part file per delta append, not one per core (FileSizing
    // rationale, guide §6; the rows are 32 B signatures — see
    // [[appendIndex]]'s sizing note)
    sigs.select("doc_id", "media_type", "phash_hi", "phash_lo")
      .repartition(1)
      .write.mode("append").parquet(live)
    s.catalog.refreshByPath(live)
  }
}
