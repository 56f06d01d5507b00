package graft.text

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, StructField, StructType}
import graft.io.IndexStore

/** Near-duplicate detection for training-data pipelines [EXT]
  * (BASELINE.json north_star "dedup"). Three families:
  *
  *  - exact:      full-row / normalized-fingerprint dropDuplicates
  *  - MinHash+LSH: shingle → 64 minhashes → band-bucket join → exact
  *                 Jaccard verify on candidates only
  *  - SimHash:    64-bit fingerprint; bucket by prefix, verify by
  *                Hamming distance (bit_count(a XOR b))
  *  - n-gram Jaccard: inverted-index candidate join with a
  *                document-frequency cutoff (skew guard), count-based
  *                exact Jaccard — no array intersection at scale
  *
  * Scale design: every path generates candidates through an equi-join on
  * a bucket key (bounded by `maxBucket` against hot buckets), never an
  * all-pairs comparison; the expensive verify runs only on candidates.
  */
object Dedup {
  /** Modulus for the minhash permutation family: 2^31-1 (Mersenne).
    * With h in [0,P) and a,b < P the product stays < 2^62 — no ANSI
    * overflow in `a*h+b`. */
  val P = 2147483647L
  val NumHashes = 64
  val Bands = 16
  val RowsPerBand = 4 // 16 bands × 4 rows = 64 hashes; ~Jaccard 0.7 knee

  /** Direct-pairing candidate-load ceiling (Σ |delta∩bk|·occupancy
    * over hot buckets) above which [[incrementalAcceptIndexed]]
    * routes to the hot-bucket cascade: below it the complete direct
    * pairing is CHEAPER than the cascade's extra stages (10× corpus:
    * 3.9 s vs 8.3 s); above it the direct verify join's shingle
    * payload explodes (100× replica masses: ~10⁹ pairs · ~4 KB).
    * Both routes are exact — this is a pure cost knob. */
  val CascadeBudget = 50000000L

  /** Deterministic permutation parameters (seeded LCG, seed=42). */
  private[text] val perms: IndexedSeq[(Long, Long)] = {
    var x = 42L
    def next(): Long = { x = x * 6364136223846793005L + 1442695040888963407L; x >>> 33 }
    (0 until NumHashes).map(_ => (next() % (P - 1) + 1, next() % P))
  }

  /** Lower-cased whitespace tokens. */
  def tokensCol(text: Column): Column = split(lower(trim(text)), " +")

  /** k-token shingles ("abc def ghi" strings); docs shorter than k
    * collapse to one whole-text shingle. */
  def shinglesCol(text: Column, k: Int = 3): Column = {
    val toks = tokensCol(text)
    val n = size(toks)
    when(n >= k,
      transform(sequence(lit(0), n - k), i =>
        concat_ws(" ", (0 until k).map(j => element_at(toks, i + j + 1)): _*)))
      .otherwise(array(concat_ws(" ", toks)))
  }

  /** Shingle hashes in [0, P). */
  private def shingleHashes(text: Column): Column =
    transform(shinglesCol(text), s => pmod(xxhash64(s), lit(P)))

  /** Minhash signature from an ALREADY-MATERIALIZED shingle-hash array
    * column. Keep the hash array in its own projection (see
    * [[withSignature]]): inlining it would copy the whole
    * shingle+xxhash subtree into each of the 64 min-expressions — a 64×
    * blowup that turns a 1s scan into minutes. */
  private def signatureFromHashes(hs: Column): Column =
    array(perms.map { case (a, b) =>
      array_min(transform(hs, h => (lit(a) * h + lit(b)) % lit(P)))
    }: _*)

  /** Adds `mh_sig` (64 minhashes) via the native MinHashSignature
    * expression (graft.plans) — one tight-loop pass per document,
    * bit-identical to [[signatureCol]] (same XXH64 seed 42 + LCG perm
    * family), ~10× the interpreted higher-order-function formulation. */
  def withSignature(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    df.select(col(idCol).as("id"),
      call_function("minhash_signature", col(textCol)).as("mh_sig"))
  }

  /** 64-element minhash signature as a single Column (test/interop use;
    * prefer [[withSignature]] in plans). */
  def signatureCol(text: Column): Column =
    signatureFromHashes(shingleHashes(text))

  /** LSH band keys at an EXPLICIT (bands, rowsPerBand) geometry — the
    * per-generation width knob of the persisted index ([[writeIndex]]
    * records it in the `manifest` artifact, appends/probes follow it).
    * Unlike the embedding family's bit-width — where width only moves
    * bucket occupancy — minhash band geometry trades RECALL at the
    * Jaccard threshold (16×4 detects J=0.7 pairs at ~99%; 8×8 at
    * ~45%), so it is an explicit REBUILD decision, never an automatic
    * density rule: a deployment facing saturated buckets first gets
    * exactness from the fingerprint screen + hot-bucket cascade
    * (which cost, not recall — see [[incrementalAcceptIndexed]]), and
    * re-signs wider only when it chooses to RAISE the effective
    * dedup knee (8×8's band-share knee sits near J≈0.92) to cut
    * candidate work. The rebuild is then a parameter change — same
    * code, new manifest generation. */
  def bandsColAt(sig: Column, bands: Int, rows: Int): Column = {
    require(bands >= 1 && rows >= 1 && bands * rows <= NumHashes,
      s"band geometry $bands×$rows exceeds the $NumHashes-hash signature")
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(slice(sig, b * rows + 1, rows).cast("string")).as("bh"))
    }: _*)
  }

  /** LSH band keys at the default 16×4 geometry (~Jaccard 0.7 knee). */
  def bandsCol(sig: Column): Column = bandsColAt(sig, Bands, RowsPerBand)

  /** id-list → ordered unique pairs (bucket sizes are cut off at
    * `maxBucket`, so the quadratic blowup is bounded per bucket).
    * Pure collection functions — sort/dedup once, then for the element
    * at 0-based index i pair it with every later element — so the
    * whole candidate explode stays inside codegen (this was the
    * library's last hot-path JVM UDF). */
  private def pairCombos(ids: Column): Column = {
    val s = array_sort(array_distinct(ids))
    flatten(transform(s, (x, i) =>
      transform(slice(s, i + lit(2), size(s)), y =>
        struct(x.as("_1"), y.as("_2")))))
  }

  /** Candidate pairs (idA < idB) sharing ≥1 LSH bucket. One shuffle to
    * group the bucket, pairs exploded from the grouped id-list (no
    * self-join). Buckets larger than `maxBucket` are dropped — a hot
    * bucket (e.g. the empty-doc bucket) would otherwise explode
    * quadratically at 100 TB. The list aggregation is the capped
    * native aggregate ([[graft.plans.CappedCollectLongs]]), so the
    * hot bucket never materializes in an aggregation buffer either —
    * every buffer is ≤ maxBucket+1 longs and the size filter's
    * semantics are bit-identical. */
  def candidatePairs(df: DataFrame, idCol: String, textCol: String,
      maxBucket: Int = 100): DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    withSignature(df, idCol, textCol)
      .select(col("id"), explode(bandsCol(col("mh_sig"))).as("bk"))
      .groupBy(col("bk"))
      .agg(call_function("capped_collect_longs", col("id"),
        lit(maxBucket)).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
      .select(explode(pairCombos(col("ids"))).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b"))
      .distinct()
  }

  /** Process-lifetime memo for the verified pair stream: ten registered
    * consumers (pair listing, histogram, clusters, survivors,
    * triangles, pagerank, degree, decontamination, minhash dedup, the
    * corpus pipeline) all read the SAME edge set; a production engine
    * materializes that table once and every consumer scans the
    * materialization. Keyed by (session, input-plan semantic hash,
    * params); the persisted payload is the verified pairs — a few
    * hundred rows per corpus, so the cache is bytes, while the avoided
    * recompute (shingle explode → LSH bucket shuffle → verify join) is
    * the most expensive plan in the library. Plan identity is
    * hash-bucketed + sameResult-confirmed, and entries evict on session
    * end (PlanMemo). */
  private val pairMemo =
    new graft.plans.PlanMemo[(String, String, Double, Int), DataFrame](Seq(_))

  /** Candidates verified with exact Jaccard over distinct shingle sets. */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7, maxBucket: Int = 100): DataFrame = {
    pairMemo.getOrCompute(df, (idCol, textCol, threshold, maxBucket)) {
      graft.plans.GraftFunctions.register(df.sparkSession)
      val sets = df.select(col(idCol).as("id"),
        array_distinct(call_function("shingles", col(textCol))).as("sh"))
      val pairs = candidatePairs(df, idCol, textCol, maxBucket)
      pairs
        .join(sets.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sets.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn("jaccard",
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            size(array_union(col("sh_a"), col("sh_b"))))
        .filter(col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    }
  }

  /** MinHash dedup: drop the higher-id member of every verified pair. */
  def dedupMinHash(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7): DataFrame = {
    val dupIds = nearDupPairs(df, idCol, textCol, threshold)
      .select(col("id_b").as(idCol)).distinct()
    df.join(dupIds, Seq(idCol), "left_anti")
  }

  /** The PERSISTED dedup-index row for [[incrementalAcceptIndexed]]:
    * one row per already-accepted corpus document carrying everything
    * a delta screen needs — the 16 LSH band keys (the probe index),
    * the distinct shingle set (the exact-Jaccard verify reference) and
    * its md5 fingerprint (the exact-replica screen, [[shingleFp]]) —
    * computed in ONE projection pass over the corpus (no join, no
    * shuffle). At 100 TB this table is written once when the corpus is
    * first deduped and APPENDED per delta (the accepted rows' own
    * index rows); a delta run reads it as parquet and never touches
    * base corpus text. Per-row payload is ~|shingles| strings + 16
    * band hashes — a small constant factor of the text it replaces.
    */
  def buildIndex(df: DataFrame, idCol: String, textCol: String,
      bands: Int = Bands, rows: Int = RowsPerBand): DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    // `sh` persists SORTED: shingle-set semantics are order-free
    // everywhere (the verify join uses intersect/union, the
    // fingerprint sorts anyway), and a sorted artifact lets the
    // exact-replica screen compare sets by direct array equality with
    // ZERO probe-time sorting (the first verified-screen spelling
    // paid ~1.9 s/probe at sf0.1 re-sorting every row).
    df.select(col(idCol).as("id"),
        call_function("minhash_signature", col(textCol)).as("mh_sig"),
        array_sort(array_distinct(
          call_function("shingles", col(textCol)))).as("sh"))
      .select(col("id"), bandsColAt(col("mh_sig"), bands, rows).as("bands"),
        col("sh"), shingleFp(col("sh")).as("fp"))
  }

  /** Content fingerprint of a doc's DISTINCT shingle set: md5 of the
    * sorted set — equal fp ⇔ equal shingle set ⇔ exact Jaccard 1.0.
    * Persisted per `ix` row so [[incrementalAcceptIndexed]]'s exact-
    * replica screen is an equi-join on a 32-hex-char digest (the few
    * fp-matched pairs then verify by sorted-set equality — md5 over a
    * concatenation is not injective) instead of a banded probe:
    * at 100 TB the verbatim-replica mass (crawl mirror spam, the
    * dominant duplication mode) is screened out BEFORE it can saturate
    * LSH buckets. Same spelling as the dedup_index_build oracle's
    * sh_fp, so the persisted value is itself oracle-gated. */
  private[text] def shingleFp(sh: Column): Column =
    md5(concat_ws("\u001f", array_sort(sh)))

  /** Probe-side postings derived from a [[buildIndex]] frame: one row
    * per (band key, doc) — the exploded spelling the delta's candidate
    * equi-join reads, persisted so the probe never re-explodes the
    * per-doc band arrays. */
  def indexPostings(ixDocs: DataFrame): DataFrame =
    ixDocs.select(col("id"), explode(col("bands")).as("bk"))

  /** Writes the full three-part persisted index under `root`:
    * `root/ix` (per-doc band arrays + shingle sets — the verify
    * reference and content-of-record), `root/post` (bucket postings —
    * the candidate-join probe side), `root/bk` (per-bucket occupancy —
    * the hot-bucket stats sidecar). `post`/`bk` are derived from the
    * WRITTEN `ix` parquet, so the three artifacts cannot drift. At
    * 100 TB this runs once per corpus and is APPENDED to
    * ([[appendIndex]]), never rebuilt. */
  def writeIndex(df: DataFrame, idCol: String, textCol: String,
      root: String, bands: Int = Bands, rows: Int = RowsPerBand): Unit = {
    val s = df.sparkSession
    import s.implicits._
    // the manifest freezes this generation's band geometry FIRST:
    // appends and probes resolve their width from it (one width per
    // generation — the embedding index's manifest contract, for text;
    // a rebuild at a new width is a new generation, a parameter
    // change, not a code change)
    Seq((bands, rows, NumHashes))
      .toDF("bands", "rows_per_band", "num_hashes")
      .repartition(1).write.mode("overwrite").parquet(s"$root/manifest")
    buildIndex(df, idCol, textCol, bands, rows)
      .write.mode("overwrite").parquet(s"$root/ix")
    // derived artifacts coalesce to size-targeted output files
    // (graft.io.FileSizing — guide §6): their input is the
    // just-written ix parquet (cheap read-back, no kernel work to
    // serialize), and the local splitter would otherwise emit one
    // tiny part file per core. ix bytes bound post bytes (shingle
    // sets dominate the per-doc row), so they size the coalesce.
    val ixParts = graft.io.FileSizing.partsOf(s"$root/ix")
    // both derived artifacts re-derive from the WRITTEN ix parquet (so
    // the three artifacts cannot drift); they are independent of each
    // other, so the two writes overlap (guide §2.6 — day-0 writeIndex
    // is the fixed-cost prefix of every ingest choreography)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fPost = Future {
      indexPostings(s.read.parquet(s"$root/ix")).coalesce(ixParts)
        .write.mode("overwrite").parquet(s"$root/post")
    }
    val fBk = Future {
      IndexStore.bucketStats(indexPostings(s.read.parquet(s"$root/ix")))
        .write.mode("overwrite").parquet(s"$root/bk")
    }
    Await.result(fPost, Duration.Inf)
    Await.result(fBk, Duration.Inf)
  }

  /** The manifest's frozen band geometry; pre-manifest artifacts
    * (or in-plan [[DedupIndex.fromDocs]] indexes) default to 16×4 —
    * the only geometry that ever existed before the manifest. Cached
    * per manifest content ([[IndexStore.manifest]]): [[readIndex]]
    * would otherwise pay a decode job on EVERY probe. */
  private[graft] def geometry(s: org.apache.spark.sql.SparkSession,
      root: String): (Int, Int) =
    if (!IndexStore.artifactExists(root, "manifest")) (Bands, RowsPerBand)
    else IndexStore.manifest(s, root) { m =>
      val r = m.select("bands", "rows_per_band").head()
      (r.getInt(0), r.getInt(1))
    }

  /** Appends the accepted delta rows' index entries to a persisted
    * index through [[IndexStore.appendIndexRows]]: delta-sized on all
    * three artifacts, the corpus side never rewritten; the rows
    * snapshot on the driver when `accepted` is a local relation, to
    * scratch parquet otherwise. */
  def appendIndex(root0: String, accepted: DataFrame, idCol: String,
      textCol: String): Unit = {
    val root = IndexStore.liveRoot(root0)
    val (bands, rows) = geometry(accepted.sparkSession, root)
    IndexStore.appendIndexRows(root, "ix",
      buildIndex(accepted, idCol, textCol, bands, rows), indexPostings)
  }

  /** Opens a persisted three-part index written by [[writeIndex]] /
    * grown by [[appendIndex]] / maintained by [[compactIndexStats]]. */
  def readIndex(s: org.apache.spark.sql.SparkSession,
      root0: String): DedupIndex = {
    // resolve the LIVE model generation ONCE and pin the handle to it:
    // the frames, the geometry, and the memo root all describe the
    // same generation, so a rebuild published mid-session leaves this
    // handle hash-identical (stale-reader contract) instead of mixing
    // widths
    val root = IndexStore.liveRoot(root0)
    val ixRaw = IndexStore.open(s, root, "ix")
    // pre-fp artifact compat: indexes written before the fingerprint
    // column derive it in-plan from the persisted shingle sets (same
    // value by construction — [[shingleFp]] is a pure function of
    // `sh`); a rebuild persists it and restores the 16-byte-scan shape.
    val ix =
      if (ixRaw.columns.contains("fp")) ixRaw
      else ixRaw.withColumn("fp", shingleFp(col("sh")))
    // erased docs leave the membership record AND the probe side from
    // the erase call on; the bk sidecar stays unfiltered until the next
    // compactIndexStats — conservative
    val live = IndexStore.dropErased(s, root, "id")
    val (bands, rows) = geometry(s, root)
    DedupIndex(live(ix), live(IndexStore.open(s, root, "post")),
      IndexStore.open(s, root, "bk"), bands, rows, Some(root))
  }

  /** Content identity of a persisted index root for the probe-verdict
    * memo: per live artifact dir, file count + total bytes + max
    * mtime. Any mutation path changes it — appendIndex adds part
    * files to ix/post/bk (count/bytes change even within one mtime
    * tick), eraseFromIndex creates or appends to tomb, compaction
    * publishes a NEW generation so the live path itself changes.
    * Band geometry needs no entry: it is a separate memo-key
    * component (index.bands/rows). One listStatus per dir — driver
    * metadata RPCs, no Spark job. */
  private[graft] def contentStamp(root: String): String = {
    val (fs, _) = IndexStore.hadoopFs(root)
    Seq("ix", "post", "bk", "tomb").map { part =>
      if (!IndexStore.artifactExists(root, part)) s"$part:absent"
      else {
        val p = IndexStore.livePath(root, part)
        val st = fs.listStatus(p)
        s"$part:$p:${st.length}:${st.map(_.getLen).sum}:" +
          (if (st.isEmpty) 0L else st.map(_.getModificationTime).max)
      }
    }.mkString("|")
  }

  /** The live `ix` membership artifact — normally the plain build dir
    * (generation 0, append-grown in place); erasure compaction
    * publishes PURGED next generations. */
  private[graft] def ixLive(root: String): String = IndexStore.live(root, "ix")

  /** Right-to-erasure INTO the persisted text index: `ids` (an
    * EXTERNAL request list with an `id` column — never a frame
    * derived from the index being erased) append to the `tomb`
    * artifact every [[readIndex]] open anti-joins out. O(|request|)
    * now; the physical rewrite rides the next [[compactIndexStats]]. */
  def eraseFromIndex(root: String, ids: DataFrame): Unit =
    IndexStore.appendTombstones(IndexStore.liveRoot(root), ids.select(col("id")))

  /** Compaction: with erasures pending, the tombstoned docs are
    * purged from `ix` and `post`, `bk` is re-derived from the purged
    * postings (one row per bucket — compaction implicit), and the
    * tombstone list resets LAST; without, the bucket-stats sidecar
    * folds back to one row per bucket ([[IndexStore.compactBanded]]).
    * Each [[appendIndex]] adds a partial row-set and every consumer
    * sums per bucket, so correctness never degrades — but after many
    * appends the sidecar's row count creeps from |buckets| toward
    * |appends|·|buckets|, and the probe's stats sum pays for the
    * history. Results are bit-identical before/after.
    *
    * Same single-writer assumption as [[appendIndex]]. Every rewrite
    * is a create-only generation publish ([[IndexStore.publishNextGen]]):
    * there is no instant with zero live artifact on disk, and a crash
    * anywhere leaves the tombstones in force. */
  def compactIndexStats(s: org.apache.spark.sql.SparkSession,
      root0: String): Unit = {
    val root = IndexStore.liveRoot(root0)
    IndexStore.compactBanded(s, root, "id", "ix", IndexStore.hasTombstones(s, root))
  }

  /** Detects and repairs a TORN [[appendIndex]]: of the three
    * per-delta appends, the two derived ones (postings, bucket-stats)
    * run concurrently and `ix` lands last, after both, so a crash
    * mid-append leaves DERIVED rows — either or both — for docs that
    * never reached the `ix` membership record (or, after a retry,
    * duplicate partial rows for docs that did). Neither is a
    * correctness hole — orphan postings fail the verify join, stats
    * inflation is conservative (see [[IndexStore.appendIndexRows]]'s
    * crash contract) — but both waste probe work, so this is the
    * maintenance op that restores the invariant.
    *
    * Detection is exact and cheap: `post` must hold exactly
    * [[Bands]] rows per DISTINCT `ix` doc — a full-outer count
    * compare over (id → posting count), one aggregation each side. On
    * mismatch, both derived artifacts are re-derived FROM the
    * distinct-by-id `ix` rows (the record of truth they are functions
    * of — the same derivation [[writeIndex]] runs at build time) and
    * published as next create-only generations
    * ([[IndexStore.publishDerived]]: no instant without a live
    * artifact, crash-safe, rename-free). Returns true iff a repair was
    * performed; a second call is a detected no-op — INCLUDING after the
    * double-retry tear (a crash after the final `ix` append followed
    * by a full re-append duplicates a delta's `ix` rows): deriving
    * from raw duplicated rows would emit 2·Bands postings per such
    * doc and re-trip detection forever, so both detection and
    * derivation normalize to one row per id first. Duplicate `ix`
    * rows themselves are tolerated, not rewritten (`ix` stays
    * append-only): they are exact copies (deterministic functions of
    * the doc text), membership semantics are unchanged, and every
    * probe consumer dedups through `distinct`. Cost when torn: one
    * corpus-index-sized derivation — never a corpus TEXT re-read.
    * Same single-writer assumption as every index maintenance op. */
  def repairIndex(s: org.apache.spark.sql.SparkSession,
      root0: String): Boolean = {
    val root = IndexStore.liveRoot(root0)
    val (mBands, _) = geometry(s, root)
    def ixDocs = s.read.parquet(ixLive(root)).dropDuplicates("id")
    val torn = IndexStore.postingsTorn(s, root, ixDocs, "id", mBands)
    if (torn)
      IndexStore.publishDerived(s, root, ixDocs, ixLive(root), indexPostings)
    torn
  }

  // ── model generations (band-geometry REBUILD lifecycle) ────────────
  // The band geometry is frozen per generation (bands from two widths
  // never meet in a candidate join), so a geometry change is never an
  // append — it is a complete re-sign of the corpus published as a
  // model generation under `root/modelgen<k>` ([[IndexStore.liveRoot]],
  // the machinery the PQ refresh and embedding width rebuild share):
  // marker-committed last, previous generation INTACT for in-flight
  // readers, every public entry point resolving through liveRoot.

  /** Live-count threshold where [[resolveGeometry]]'s default posture
    * moves from the curation knee to the mirror knee. 16×4 was sized
    * at curation density: background (J ∈ [0.5, 0.7)) pairs collide a
    * band at ~s⁴, and their POPULATION grows ~n² while the verify
    * budget grows ~n — past ~10⁶ docs per index the background
    * candidate mass, not the true-dup mass, dominates probe cost. */
  val DefaultDenseAt = 1000000L

  /** Corpus-count → band-geometry policy for [[rebuildIfDense]].
    * UNLIKE the embedding index's width rule (pure occupancy — results
    * invariant under width), minhash geometry trades RECALL at the
    * Jaccard threshold ([[bandsColAt]]: 16×4 catches J = 0.7 pairs at
    * ~99%, 8×8 at ~45% — but 8×8's knee sits near J ≈ 0.92, mirror-
    * grade dedup), so the policy is an explicit OPERATOR POSTURE the
    * trigger applies, not a hidden density rule: curation-grade recall
    * while the corpus is curation-sized (≤ `denseAt` live docs),
    * mirror-grade precision once it grows past the density where
    * J ∈ [0.5, 0.7) background pairs saturate candidate work (each
    * extra row per band cuts their collision rate ~s× while verbatim
    * and near-verbatim replica masses — the duplication mode that
    * dominates real crawls — still collide every band). Both knees
    * spend the same 64-permutation signature, so a rebuild re-slices
    * persisted-signature semantics without touching the minhash
    * kernel. */
  def resolveGeometry(nLive: Long,
      denseAt: Long = DefaultDenseAt): (Int, Int) =
    if (nLive > denseAt) (8, 8) else (Bands, RowsPerBand)

  /** Re-signs `source` (the CURRENT raw corpus — band keys must come
    * from text through the minhash kernel; the persisted `ix` rows
    * hold only the 16×4 slices' hashes, which cannot be re-sliced) at
    * an explicit geometry and publishes the complete three-part index
    * + manifest as the next model generation. The live generation's
    * pending TOMBSTONES anti-join the source first (the PQ-refresh
    * lesson: a rebuild re-derives the per-doc record, and rebuilding
    * from the raw corpus would resurrect erased docs); the new
    * generation then needs no tomb artifact at all. Returns the new
    * generation root. Cost = one [[writeIndex]] — a re-sign IS a
    * build; what the lifecycle adds is that serving never stops and
    * the old generation never tears. */
  def rebuildIndex(s: org.apache.spark.sql.SparkSession, root: String,
      source: DataFrame, idCol: String, textCol: String,
      bands: Int, rows: Int): String = {
    val src = IndexStore.dropErased(s, IndexStore.liveRoot(root), "id",
      idCol)(source)
    IndexStore.publishModelGen(root)(
      writeIndex(src, idCol, textCol, _, bands, rows))
  }

  /** The density-triggered geometry rebuild: fires iff the geometry
    * the LIVE (tombstone-filtered) doc count resolves under the
    * caller's posture differs from the manifest's frozen one — the
    * same closed-form rule at trigger time as at build time, so the
    * trigger is exact, cheap (one count over the served membership
    * view), and quiescent right after a rebuild (the [[EmbIndex
    * .rebuildIfDegraded]] contract, for text). Returns the new
    * generation root when it fired. */
  def rebuildIfDense(s: org.apache.spark.sql.SparkSession, root: String,
      source: DataFrame, idCol: String, textCol: String,
      denseAt: Long = DefaultDenseAt): Option[String] = {
    val mr = IndexStore.liveRoot(root)
    val (bands, rows) = geometry(s, mr)
    val nLive = readIndex(s, mr).docs.count()
    val want = resolveGeometry(nLive, denseAt)
    if (want != ((bands, rows)))
      Some(rebuildIndex(s, root, source, idCol, textCol,
        want._1, want._2))
    else None
  }

  /** One NIGHTLY MAINTENANCE pass over the text index: compact if
    * erasure tombstones or bucket-stat partials are pending, repair if
    * a torn/replayed append violated the postings-per-doc invariant,
    * rebuild if the caller's density posture resolves a different band
    * geometry. Step order, source contract (erased records already
    * removed from `source`), and crash matrix are documented on
    * [[graft.io.MaintenanceReport]]; `graft.MaintenanceSpec` injects a
    * crash after each step and pins re-run-heals / third-run-no-op.
    * Each gate is one cheap detector (tomb limit-1 count, map-side
    * per-bucket partial probe, the invariant scan repair already
    * runs, one live count), so the steady-state pass is metadata-cost
    * only — the shape a scheduler can run every night at 100 TB. */
  def maintainIndex(s: org.apache.spark.sql.SparkSession, root: String,
      source: DataFrame, idCol: String, textCol: String,
      denseAt: Long = DefaultDenseAt): graft.io.MaintenanceReport = {
    val mr = IndexStore.liveRoot(root)
    // the tombstone probe runs once: the purge takes its answer
    val hasTomb = IndexStore.hasTombstones(s, mr)
    val doCompact = hasTomb || IndexStore.hasPartials(s, mr)
    if (doCompact) IndexStore.compactBanded(s, mr, "id", "ix", hasTomb)
    val repaired = repairIndex(s, mr)
    val regen = rebuildIfDense(s, root, source, idCol, textCol, denseAt)
    graft.io.MaintenanceReport(doCompact, repaired, regen)
  }

  /** INCREMENTAL near-dedup against a PERSISTED index — the production
    * shape for a growing corpus: never re-dedup (or even re-read) the
    * base, only screen the arriving DELTA against the [[buildIndex]]
    * artifact. A delta document is rejected iff it is a verified
    * near-dup (exact Jaccard ≥ threshold) of ANY indexed document or
    * of a LOWER-id delta document (the same drop-the-higher-member
    * convention as [[dedupMinHash]]; rejection is not sequential — a
    * rejected delta doc still blocks its own later near-dups, keeping
    * the result order- and partitioning-independent). Returns the
    * accepted delta rows.
    *
    * EXACT at any corpus density, via three layers (cheapest first):
    * (0) the fingerprint screen — exact shingle-set replicas (J = 1.0)
    * reject on an fp equi-join VERIFIED by sorted-set equality (see
    * the layer-0 comment in the body) and, being transitively
    * redundant as references, vanish from both sides of the banded
    * probe;
    * (1) cold buckets (combined occupancy ≤ maxBucket) pair directly —
    * the common case and the pre-r14 plan unchanged; (2) hot buckets
    * cascade: a bounded min-reference screen, then FULL pairing for
    * only the docs the screen left unresolved. `maxBucket` is thus a
    * cost-routing knee, not a recall cutoff — the r13 100×-corpus
    * recall boundary (hot buckets dropped → near-dup replicas
    * over-accepted vs the exact oracle) is structurally closed. A
    * driver-side LOAD router (estimated direct-pairing pairs over
    * hot buckets vs [[CascadeBudget]]) assembles the cascade only
    * where direct pairing would explode, so the common-density probe
    * keeps the direct plan's stage count (DedupSpec pins direct ≡
    * guard-free ≡ inline ≡ forced-cascade; SERIAL.md records the
    * same at the 100× corpus).
    *
    * Scale shape: the recurring per-delta cost touches the index's
    * PRE-DERIVED probe artifacts and the delta ONLY — raw base text is
    * read zero times, so the O(|corpus|) re-shingle pass of a naive
    * respelling never recurs, and the per-doc band arrays are never
    * re-exploded or re-grouped at probe time (the candidate join reads
    * the persisted postings; hot-bucket stats read only the persisted
    * occupancy rows of the delta's own buckets). Candidate work scales
    * with |delta| × bucket occupancy, not |corpus|². The delta's own
    * index rows (the minhash/shingle/md5 kernels' output, one row per
    * DELTA doc) are collected to the driver ONCE, so a delta must fit
    * in driver memory (its rows are the verify join's broadcast side
    * too), and every plan branch (fp screen, probe, reference union,
    * verify sides, final anti-join) reads them as a local relation:
    * the kernels evaluate once per delta, the delta-only scalars need
    * no Spark job, and no cached frame has to be materialized and
    * re-scanned per branch. Memoized per (session,
    * delta plan, geometry), so a repeated screen of the same delta
    * (a retry, an A/B leg) skips even the collect; being driver heap,
    * the memo keeps only the [[DeltaIxMemoEntries]] most recent deltas.
    */
  private val DeltaIxMemoEntries = 4
  private val deltaIxMemo = new graft.plans.PlanMemo[
    (String, String, Int, Int), DeltaIx](_ => Seq(), DeltaIxMemoEntries)

  /** One delta doc's index row, as the probe build reads it: the row
    * itself, its id in Spark's internal form (compared under
    * [[DeltaIx.idOrd]]), its fp, shingle set and band keys. */
  private final case class DeltaDoc(row: Row, id: Any, idc: Any, fp: String,
      sh: Seq[String], bands: Seq[Row]) {
    def bks: Seq[(Int, Long)] = bands.map(b => (b.getInt(0), b.getLong(1)))
  }

  /** A delta's [[buildIndex]] rows, collected once: as docs for the
    * driver-side probe build, and as local relations for the plan. */
  private final class DeltaIx(s: org.apache.spark.sql.SparkSession,
      val schema: StructType, rows: Array[Row]) {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToCatalyst
    /** Spark's own ordering of the id type: every driver-side id
      * comparison (min choice, ledger membership) matches SQL's. */
    val idOrd: Ordering[Any] = org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(schema("id").dataType)
    val docs: IndexedSeq[DeltaDoc] = rows.toIndexedSeq.map { r =>
      val id = r.getAs[Any]("id")
      DeltaDoc(r, id, convertToCatalyst(id), r.getAs[String]("fp"),
        r.getSeq[String](r.fieldIndex("sh")),
        r.getSeq[Row](r.fieldIndex("bands")))
    }
    /** Rows on the driver as a DataFrame — a local relation, whose
      * filters and projections fold on the driver. */
    def local(rs: Seq[Row], sch: StructType = schema): DataFrame =
      s.createDataFrame(java.util.Arrays.asList(rs: _*), sch)
    val frame: DataFrame = local(rows.toSeq)
    /** The docs whose id is in `ids` under [[idOrd]] — the
      * anti-join-by-id semantics: a null id is never in the set. */
    def docsIn(ids: Iterable[Any]): DeltaDoc => Boolean = {
      val set = scala.collection.immutable.TreeSet.from(
        ids.iterator.filter(_ != null).map(convertToCatalyst))(idOrd)
      d => d.id != null && set(d.idc)
    }
  }

  /** What a probe build decides, all of it driver-held: the router's
    * hot buckets (combined occupancy > maxBucket; as (band, hash)) and
    * its estimated direct-pairing load (+∞ when no bucket is hot), and
    * the exact-replica ledger — the delta ids the fp screen rejects
    * (never null: a null id matches nothing in the anti-joins). */
  private final case class ProbeVerdict(hot: Seq[(Int, Long)],
      load: Double, ledger: Seq[Any])

  /** Probe-verdict memo, keyed by (delta plan, probe params, index
    * CONTENT stamp). The verdict is a pure function of index content +
    * delta content, and the stamp ([[contentStamp]]) invalidates on any
    * artifact mutation — append, erase, compact, rebuild — so a
    * repeated probe of an unchanged index by the same delta plan
    * (retries, multi-pass pipelines, back-to-back bench runs) skips the
    * probe-build jobs instead of re-deriving what the filesystem proves
    * unchanged. Values are driver scalars and id lists — no persisted
    * frames to manage ([[graft.plans.PlanMemo]] peek/insert idiom: the
    * fetch jobs run OUTSIDE the memo lock). */
  private val probeMemo = new graft.plans.PlanMemo[
    (String, String, Int, Int, Int, Long, String), ProbeVerdict](_ => Seq())

  def incrementalAcceptIndexed(index: DedupIndex, delta: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.7,
      maxBucket: Int = 100,
      cascadeBudget: Long = CascadeBudget): DataFrame = {
    val (_, rejected) = screenIndexed(index, delta, idCol, textCol,
      threshold, maxBucket, cascadeBudget)
    // the reject set is ≤ |delta| ids (duplicates included): broadcast
    delta.join(broadcast(rejected.select(col("id").as(idCol))), Seq(idCol),
      "left_anti")
  }

  /** [[incrementalAcceptIndexed]] fused with [[appendIndex]] — the
    * ingest stream's recurring per-micro-batch call: screens the delta
    * against the persisted index and appends the ACCEPTED rows' index
    * entries, re-using the screen's own memoized delta index frame.
    * [[buildIndex]] is a pure per-row projection, so the accepted
    * rows' index entries ≡ the screen's dIx anti-joined by the reject
    * set — bit-identical to `appendIndex(root, accepted, …)`, minus
    * re-running the shingle/minhash/md5/band kernels over the accepted
    * text a second time (guide §1.2 per-task work; the dIx rows are
    * already driver-held by the probe). Only the ≤ |delta| reject set
    * is collected; the anti-join by id runs on the driver under
    * Spark's ordering of the id type, a null id never rejected, and
    * the kept rows append from the driver as a local relation. The
    * index handle must be the live generation of `root0` — the
    * readIndex-then-append shape every ingest caller already has. */
  def appendAcceptedIndexed(root0: String, index: DedupIndex,
      delta: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7, maxBucket: Int = 100,
      cascadeBudget: Long = CascadeBudget): Unit = {
    val (dx, rejected) = screenIndexed(index, delta, idCol, textCol,
      threshold, maxBucket, cascadeBudget)
    val out = dx.docsIn(rejected.select("id").collect().map(_.get(0)))
    IndexStore.appendIndexRows(root0, "ix", dx.local(dx.docs.filterNot(out).map(_.row)),
      indexPostings)
  }

  /** The shared screen: (the delta's driver-held index rows, rejected
    * ids — column `id`, duplicates possible; every consumer anti-joins
    * by id). */
  private def screenIndexed(index: DedupIndex, delta: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      maxBucket: Int,
      cascadeBudget: Long): (DeltaIx, DataFrame) = {
    val s = delta.sparkSession
    graft.plans.GraftFunctions.register(s)
    // the delta signs at the INDEX GENERATION's frozen band geometry
    // (manifest-resolved in readIndex) — band keys from two widths
    // can never meet in a candidate join
    val ixKey = (idCol, textCol, index.bands, index.rows)
    val dx = deltaIxMemo.peek(delta, ixKey).getOrElse {
      val built = buildIndex(delta, idCol, textCol, index.bands, index.rows)
      deltaIxMemo.getOrCompute(delta, ixKey)(
        new DeltaIx(s, built.schema, built.collect()))
    }
    val dIx = dx.frame
    // ── layer 0: exact-replica screen ────────────────────────────────
    // A delta doc whose shingle SET equals any indexed doc's — or a
    // lower-id delta doc's — is an exact Jaccard-1.0 dup: rejected
    // before any banded work by a match on the persisted fingerprint,
    // VERIFIED by set equality on the (few) fp-matched pairs. The
    // verification is what makes the screen safe to let DECIDE
    // rejection: md5-over-concat is not injective in general (an md5
    // collision; interior U+001F bytes — under the CURRENT
    // 3-gram/whole-text shingler a separator ambiguity happens to be
    // structurally unrealizable, but that proof is grammar-dependent
    // and would rot silently under a tokenizer change), and an
    // unverified screen would OVER-reject on a collision — while
    // anything the verified screen misses simply falls through to
    // the banded layers, which are exact at any density, so
    // under-rejection is impossible by construction. Because
    // set-equality is TRANSITIVE (unlike ≥-threshold Jaccard), every
    // screened-out doc is REDUNDANT as a near-dup reference too — any
    // doc it would block is equally blocked by the equal-set doc that
    // got it rejected — so the verbatim mass vanishes from BOTH sides
    // of the probe. This is what keeps a 100×-replica corpus (crawl
    // mirror spam — the dominant duplication mode at 100 TB) from
    // saturating the LSH buckets in the first place.
    //
    // ── PROBE BUILD: delta-side scalars on the driver, index-side rows
    // fetched by key ──────────────────────────────────────────────────
    // Everything the plan assembly needs is decided here, before the
    // lazy plan is built: the COST ROUTER's hot buckets and load, and
    // the fp screen's rejection ledger. Delta-only quantities (fp
    // repeats inside the delta, the fp survivors' per-bucket counts)
    // come from the driver-held delta rows with no job at all. The
    // index contributes through ONE fetch job: the `fp` values of
    // indexed docs whose fp equals some delta fp (a key test on the
    // 16-byte fp column alone — the `sh` payload is never read unless
    // a match exists), unioned with the occupancy-sidecar rows of the
    // buckets the delta probes (a bucket with no delta posting can
    // never produce a candidate pair, so it is irrelevant to the router
    // and to every cascade stage; the sidecar is |buckets| ~
    // corpus-scale rows at 100 TB, and the key test keeps what reaches
    // the driver delta-sized — partial rows per bucket are summed
    // there). Only when an fp matched does a SECOND small job read `sh`
    // to verify which matches are equal sets (`sh` persists SORTED —
    // [[buildIndex]] — so set equality is array equality). No
    // delta-side key set enters a plan as a literal list, so plan size
    // does not grow with the delta: the fetches test keys against
    // broadcast variables (shipped with the job's tasks — a broadcast
    // join of a local relation would cost a Spark job of its own per
    // key set), and the plan branches read the ledger and the hot
    // buckets as local relations built on the driver.
    //   router: estimated direct-pairing load over hot buckets,
    // Σ |delta∩bk| · |occupancy(bk)| — below [[CascadeBudget]]
    // candidate pairs, the direct complete pairing is cheaper than
    // the cascade's extra screen/escalation stages even where buckets
    // exceed maxBucket (measured at the 10× corpus: direct 3.9 s vs
    // cascade 8.3 s) — the cascade pays off only where the direct
    // load EXPLODES (the 100× replica masses: ~10⁹ pairs × ~4 KB of
    // shingle payload per pair through the verify join). Exactness is
    // unaffected either way: the router picks between two plans with
    // identical semantics (the candidate set is verified by exact
    // Jaccard in both), so the budget is a pure cost knob. The load
    // sums DOUBLES: a long product wraps at exactly the ~10⁹-pair
    // masses the cascade targets, and a wrapped-negative load would
    // route the heaviest probes to direct pairing — the unsafe
    // direction; the double sum is monotone and saturates to +Inf,
    // which compares > budget → cascade, the safe direction.
    //   The load is priced from the POST-SCREEN delta: on a
    // verbatim-replica mass the fp screen collapses the delta to its
    // few genuinely novel docs before any banded work — pricing the
    // unscreened counts overshot ~3× there (r15 spam1000x: estimate
    // 1.81e9 → cascade 17.5 s where the screened direct plan cost
    // 6.0 s). It is priced at FP level (one representative per
    // distinct delta fp, minus fps the index already holds — the
    // sh-equality verification that makes the real screen SAFE is
    // irrelevant to a cost estimate), so `hot` inherits the screened
    // counts too.
    //   The verdict is memoized per (delta plan, params, index content
    // stamp) — see [[probeMemo]]. The stamp is computed NOW, not at
    // readIndex time: the handle's frames re-list the live dirs on
    // every action (refreshByPath rides each append), so the memo key
    // must describe the same filesystem moment the probe will scan — a
    // readIndex-frozen stamp would memo-hit pre-append scalars against
    // post-append frames when a handle is reused across an append.
    val memoKey = index.root.map(rt =>
      (idCol, textCol, index.bands, index.rows, maxBucket,
        cascadeBudget, contentStamp(rt)))
    val verdict = memoKey
      .flatMap(k => probeMemo.peek(delta, k))
      .getOrElse {
        val v = probeVerdict(index, dx, maxBucket)
        memoKey.foreach(k => probeMemo.getOrCompute(delta, k)(v))
        v
      }
    val useCascade = verdict.hot.nonEmpty &&
      !(verdict.load <= cascadeBudget.toDouble)
    // screened-out docs leave BOTH probe sides. Ledger membership is
    // decided on the driver, by id under Spark's ordering of the id
    // type — the anti-join-by-id semantics, null ids never matching.
    val screened = dx.docsIn(verdict.ledger)
    val probeDocs = dx.docs.filterNot(screened)
    val dProbe =
      if (verdict.ledger.isEmpty) dIx else dx.local(probeDocs.map(_.row))
    // the probe side's (id, bk) postings, built on the driver with the
    // router's verdict per bucket (`hot`: combined occupancy >
    // maxBucket and the cascade picked) — a local relation
    val bkField = StructField("bk", index.postings.schema("bk").dataType)
    val hotKeys = verdict.hot.toSet
    val probeBuckets = dx.local(
      probeDocs.flatMap(d => d.bands.map(b => Row(d.id, b,
        useCascade && hotKeys((b.getInt(0), b.getLong(1)))))),
      StructType(Seq(dx.schema("id"), bkField,
        StructField("hot", BooleanType, nullable = false))))
    // reference side = the persisted postings + the screened delta's
    // own (for intra-delta dups, lower id wins)
    val refBk = index.postings.select(col("id").as("id_ref"), col("bk"),
        lit(true).as("ref_is_base"))
      .unionByName(probeBuckets.select(col("id").as("id_ref"), col("bk"),
        lit(false).as("ref_is_base")))
    // cold buckets (≤ maxBucket combined occupancy): direct pairing,
    // the common case — identical plan to the pre-cascade probe. A
    // pair shares its bucket, so dropping hot buckets from the probe
    // side drops them from the pairing.
    // Candidate pairs stay UN-deduplicated (a near-dup pair sharing
    // several bands appears once per shared band): their only consumer
    // is the verify below, whose output only feeds anti-joins, so a
    // dedup shuffle would buy nothing but a stage.
    val candCold = probeBuckets.filter(!col("hot")).join(refBk, "bk")
      .filter(col("ref_is_base") || col("id_ref") < col("id"))
      .select(col("id"), col("id_ref"))
    // verify reference shingle sets: the index's persisted `sh` for
    // indexed docs, the screened delta's own for intra-delta
    // candidates — the only branches that touch per-doc `sh` at probe
    // time.
    val refSets = index.docs.select(col("id").as("id_ref"), col("sh").as("sh_r"))
      .unionByName(dProbe.select(col("id").as("id_ref"), col("sh").as("sh_r")))
    // verified ids, duplicates kept: every consumer is an anti-join or
    // a union that ends in one
    def verify(cand: DataFrame): DataFrame = cand
      .join(dIx.select(col("id"), col("sh").as("sh_d")), "id")
      .join(refSets, "id_ref")
      .filter(size(array_intersect(col("sh_d"), col("sh_r"))).cast("double") /
        size(array_union(col("sh_d"), col("sh_r"))) >= threshold)
      .select(col("id"))
    val rejectedLsh =
      if (!useCascade) verify(candCold)
      else {
        // ── hot-bucket cascade, stage 1 (bounded screen) ─────────────
        // Per hot bucket, pair every probe doc with just TWO
        // references: the min-id indexed occupant and the min-id delta
        // occupant. In a near-verbatim replica mass (the density that
        // makes a bucket hot) the min-id occupant is a verified
        // near-dup of virtually every later member, so this
        // 2·|hot probe postings|-bounded pass resolves the mass; only
        // its leftovers pay stage 2.
        val hotBk = dx.local(verdict.hot.map { case (b, h) => Row(Row(b, h)) },
          StructType(Seq(bkField)))
        val hotMins = refBk.join(broadcast(hotBk), Seq("bk"), "left_semi")
          .groupBy("bk")
          .agg(min(when(col("ref_is_base"), col("id_ref"))).as("__min_base"),
            min(when(!col("ref_is_base"), col("id_ref"))).as("__min_delta"))
        val candS1 = probeBuckets.join(hotMins, "bk")
          .select(col("id"), explode(array(
            struct(col("__min_base").as("id_ref"), lit(true).as("ref_is_base")),
            struct(col("__min_delta").as("id_ref"), lit(false).as("ref_is_base"))))
            .as("r"))
          .filter(col("r.id_ref").isNotNull &&
            (col("r.ref_is_base") || col("r.id_ref") < col("id")))
          .select(col("id"), col("r.id_ref").as("id_ref")).distinct()
        val rejected1 = verify(candCold.unionByName(candS1))
          .localCheckpoint(false)
        // ── hot-bucket cascade, stage 2 (exact escalation) ───────────
        // Probe docs holding ≥1 hot posting that stage 1 + the cold
        // pass did NOT reject are paired against the FULL occupancy of
        // their hot buckets. This is the completeness step: overall
        // semantics equal the guard-free exact probe, but the
        // quadratic price is paid only by the (expected-tiny) residue
        // the bounded screen could not resolve. Worst case — a hot
        // bucket whose occupants are NOT near-dups of each other, e.g.
        // a stopword-band collision — degrades to the full pairing for
        // that bucket only; a production deployment bounds that with
        // the width-adaptive rebuild (wider bands at higher corpus
        // density).
        val hotSurvivors = probeBuckets.filter(col("hot"))
          .select("id").distinct()
          .join(rejected1, Seq("id"), "left_anti")
        val candS2 = probeBuckets.filter(col("hot"))
          .join(hotSurvivors, Seq("id"), "left_semi")
          .join(refBk, "bk")
          .filter(col("ref_is_base") || col("id_ref") < col("id"))
          .select(col("id"), col("id_ref")).distinct()
        rejected1.unionByName(verify(candS2))
      }
    val rejected =
      if (verdict.ledger.isEmpty) rejectedLsh
      else dx.local(dx.docs.filter(screened).map(d => Row(d.id)),
          StructType(Seq(dx.schema("id"))))
        .unionByName(rejectedLsh)
    (dx, rejected)
  }

  /** The probe build (see the PROBE BUILD comment in
    * [[screenIndexed]]): the router's hot buckets and load from the
    * delta's driver-held rows plus the index's sidecar rows of those
    * buckets, and the fp screen's verified ledger. One Spark job when
    * no delta fp occurs in the index, two when one does. The delta's
    * keys reach the index side as broadcast variables. */
  private def probeVerdict(index: DedupIndex, dx: DeltaIx,
      maxBucket: Int): ProbeVerdict = {
    def idLt(a: DeltaDoc, b: DeltaDoc): Boolean = dx.idOrd.lt(a.idc, b.idc)
    // the (id, sh) pairs of the intra-delta screen compare under
    // Spark's ordering of that struct, so the min choice is the one
    // the SQL spelling's min() made
    val pairType = StructType(Seq(dx.schema("id"), dx.schema("sh")))
    val pairOrd = org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(pairType)
    val pairCat = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(pairType)
    def pairLt(a: DeltaDoc, b: DeltaDoc): Boolean =
      pairOrd.lt(pairCat(Row(a.id, a.sh)), pairCat(Row(b.id, b.sh)))
    val docs = dx.docs
    val byFp = docs.groupBy(_.fp)
    // ONE index fetch: the indexed fps equal to a delta fp (fp column
    // only) ∪ the sidecar rows of the delta's buckets
    val sc = dx.frame.sparkSession.sparkContext
    val fetched =
      if (docs.isEmpty) Array.empty[Row]
      else IndexStore.withBroadcast(sc, (byFp.keys.toSet, docs.flatMap(_.bks).toSet)) { keys =>
        val fpHit = udf((fp: String) => keys.value._1(fp))
        val bkHit = udf((b: Row) =>
          b != null && keys.value._2((b.getInt(0), b.getLong(1))))
        val bkType = index.bucketStats.schema("bk").dataType
        index.docs.select("fp").filter(fpHit(col("fp")))
          .select(col("fp"), lit(null).cast(bkType).as("bk"),
            lit(null).cast("long").as("n"))
          .unionByName(index.bucketStats.filter(bkHit(col("bk")))
            .select(lit(null).cast("string").as("fp"), col("bk"),
              col("n").cast("long").as("n")))
          .collect()
      }
    val idxFps = fetched.iterator.filter(!_.isNullAt(0)).map(_.getString(0)).toSet
    val idxN = fetched.iterator.filter(_.isNullAt(0)).map { r =>
      val b = r.getStruct(1)
      (b.getInt(0), b.getLong(1)) -> r.getLong(2)
    }.toSeq.groupMapReduce(_._1)(_._2)(_ + _)
    // router: per-bucket counts of the fp SURVIVORS — the min-id doc
    // of each delta fp, unless the index holds that fp
    val deltaN = byFp.iterator.filter { case (fp, _) => !idxFps(fp) }
      .flatMap { case (_, g) =>
        val nonNull = g.filter(_.id != null)
        if (nonNull.isEmpty) Nil
        else {
          val m = nonNull.reduce((a, b) => if (idLt(b, a)) b else a)
          nonNull.filter(d => !idLt(d, m) && !idLt(m, d))
        }
      }
      .flatMap(_.bks).toSeq.groupMapReduce(identity)(_ => 1L)(_ + _)
    val hotN = deltaN.toSeq.flatMap { case (bk, dn) =>
      val tot = idxN.getOrElse(bk, 0L) + dn
      if (tot > maxBucket) Some(bk -> dn.toDouble * tot) else None
    }
    val load =
      if (hotN.isEmpty) Double.PositiveInfinity else hotN.map(_._2).sum
    // fp screen, intra-delta: a doc whose set equals its fp group's
    // min (id, sh) doc's, at a higher id
    val intra = byFp.values.flatMap { g =>
      val m = g.reduce((a, b) => if (pairLt(b, a)) b else a)
      if (m.id == null) Nil
      else g.filter(d => d.id != null && idLt(m, d) && d.sh == m.sh)
    }
    // fp screen, vs-index: the SECOND job, only when an fp matched —
    // which of the matched delta sets does an indexed doc equal
    // exactly? The delta's distinct sets of those fps, numbered; only
    // the numbers of the equal ones come back.
    val vsIndex =
      if (idxFps.isEmpty) Nil
      else {
        val sets = byFp.iterator.filter { case (fp, _) => idxFps(fp) }
          .flatMap { case (fp, g) =>
            g.filter(_.id != null).map(_.sh).distinct.map(fp -> _) }
          .toIndexedSeq
        val byKey = sets.zipWithIndex.groupMap(_._1._1) { case ((_, sh), k) =>
          sh -> k }.map { case (fp, ks) => fp -> ks.toMap }
        val equal = IndexStore.withBroadcast(sc, byKey) { keys =>
          val setNo = udf((fp: String, sh: Seq[String]) =>
            keys.value.get(fp).flatMap(_.get(sh)).getOrElse(-1))
          index.docs.select(setNo(col("fp"), col("sh")).as("k"))
            .filter(col("k") >= 0).collect()
        }.map(r => sets(r.getInt(0))).toSet
        docs.filter(d => d.id != null && equal((d.fp, d.sh)))
      }
    ProbeVerdict(hotN.map(_._1), load, (intra ++ vsIndex).map(_.id).toSeq)
  }

  /** SERVING lookup against the persisted index — the text family's
    * online READ path (mm twin: [[graft.multimodal.MmIndex
    * .nearProbeReport]] with withinDelta = false): one verdict row
    * `(id, n_shingles, sh_fp, dup)` per query doc, where `dup` ⇔ the
    * doc near-dups (J ≥ threshold) SOME indexed doc. Unlike the
    * ingest posture ([[incrementalAcceptIndexed]]) there is NO
    * intra-delta blocking — a lookup answers "near-dup of the
    * corpus?" as a pure per-document function, so verdicts are
    * batch-composition invariant (StreamingSpec pins micro-batched ≡
    * one-shot) and the index is never mutated.
    *
    * Scale shape: the verdict is a pure function of the shingle SET,
    * so the batch first collapses to ONE representative per distinct
    * fingerprint — a verbatim query mass (the crawl-spam shape that
    * motivates the fp machinery everywhere else) probes once and
    * shares its verdict map-side. Representatives then short-circuit
    * on verified fp equality against the index (an exact replica of
    * an indexed doc is a J = 1.0 dup, no banded work), and only the
    * genuinely novel residue pays the banded probe: delta postings
    * broadcast, the corpus-scale postings artifact streams, and
    * buckets past `maxBucket` combined occupancy take the same
    * two-stage bounded-screen-then-escalate cascade as the ingest
    * probe (min-id occupant first, full occupancy only for the
    * unresolved residue) — overall semantics stay exactly the
    * guard-free probe's. */
  def lookupReport(index: DedupIndex, delta: DataFrame, idCol: String,
      textCol: String, threshold: Double = 0.7,
      maxBucket: Int = 100): DataFrame = {
    graft.plans.GraftFunctions.register(delta.sparkSession)
    // sign at the index generation's frozen geometry; one shared
    // materialization feeds the rep collapse and the verdict join
    val dIx = buildIndex(delta, idCol, textCol, index.bands, index.rows)
      .localCheckpoint(false)
    val reps = dIx.join(dIx.groupBy("fp").agg(min(col("id")).as("id")),
      Seq("fp", "id"))
    // fp short-circuit vs the index, VERIFIED by sorted-set equality
    // (md5 over a concatenation is not injective): the index streams
    // through a broadcast hash probe on the 16-byte fp, `sh` touched
    // only on the (few) fp-matched rows
    val fpDup = index.docs.select(col("fp"), col("sh").as("__sh_b"))
      .join(broadcast(reps.select(col("fp"), col("sh"))), Seq("fp"))
      .filter(col("sh") === col("__sh_b"))
      .select(col("fp")).distinct()
    val surv = reps.join(broadcast(fpDup), Seq("fp"), "left_anti")
    def probeBuckets = surv.select(col("id"), explode(col("bands")).as("bk"))
    // hot-bucket stats from the persisted occupancy sidecar (several
    // partial rows per bucket after appends — consumers sum),
    // RESTRICTED to the buckets this batch actually probes before any
    // aggregation: bounded by the batch's own band-key count, shared
    // by all cascade branches via one bounded checkpoint (always
    // consumed here — the cold pass anti-joins it — so eager
    // compilation under AQE is not the wasted cost it was on the
    // ingest probe's direct route)
    val hot = index.bucketStats
      .join(broadcast(probeBuckets.select("bk").distinct()),
        Seq("bk"), "left_semi")
      .groupBy("bk").agg(sum(col("n")).as("__occ"))
      .filter(col("__occ") > maxBucket).select("bk")
      .localCheckpoint(false)
    val refBk = index.postings.select(col("id").as("id_ref"), col("bk"))
    val refSets = index.docs.select(col("id").as("id_ref"),
      col("sh").as("sh_r"))
    // verify exact Jaccard on candidate pairs; emits the DELTA
    // FINGERPRINT (the verdict's propagation key), not the doc id
    def verify(cand: DataFrame): DataFrame = cand
      .join(surv.select(col("id"), col("sh").as("sh_d"), col("fp")), "id")
      .join(refSets, "id_ref")
      .filter(size(array_intersect(col("sh_d"), col("sh_r"))).cast("double") /
        size(array_union(col("sh_d"), col("sh_r"))) >= threshold)
      .select(col("fp")).distinct()
    // cold buckets: direct pairing — delta postings broadcast, the
    // corpus-scale postings stream through the hash join
    val candCold = refBk.join(broadcast(hot), Seq("bk"), "left_anti")
      .join(broadcast(probeBuckets), "bk")
      .select(col("id"), col("id_ref")).distinct()
    // hot buckets, stage 1 (bounded screen): each probe doc vs just
    // the min-id occupant of each of its hot buckets
    val hotMins = refBk.join(broadcast(hot), Seq("bk"))
      .groupBy("bk").agg(min(col("id_ref")).as("id_ref"))
    val candS1 = probeBuckets.join(hotMins, "bk")
      .select(col("id"), col("id_ref")).distinct()
    val rejected1 = verify(candCold.unionByName(candS1))
      .localCheckpoint(false)
    // hot buckets, stage 2 (exact escalation): unresolved hot-probe
    // docs vs the FULL occupancy of their hot buckets — completeness
    // at a price only the screen's residue pays; empty when no bucket
    // is hot, so the guard-free semantics hold at every density
    val hotSurvivors = probeBuckets.join(broadcast(hot), Seq("bk"))
      .join(surv.select(col("id"), col("fp")), "id")
      .join(broadcast(rejected1), Seq("fp"), "left_anti")
      .select("id").distinct()
    val candS2 = probeBuckets.join(broadcast(hotSurvivors), Seq("id"), "left_semi")
      .join(broadcast(hot), Seq("bk"), "left_semi")
      .join(refBk, "bk")
      .select(col("id"), col("id_ref")).distinct()
    val dupFp = fpDup.unionByName(rejected1).unionByName(verify(candS2))
      .distinct().withColumn("__dup", lit(true))
    // propagate the per-fingerprint verdicts to every batch member
    dIx.join(broadcast(dupFp), Seq("fp"), "left_outer")
      .select(col("id").as(idCol),
        size(col("sh")).cast("long").as("n_shingles"),
        col("fp").as("sh_fp"),
        coalesce(col("__dup"), lit(false)).as("dup"))
  }

  /** [[incrementalAcceptIndexed]] with the index built inline from the
    * base frame — the one-shot spelling for a corpus with no persisted
    * index yet (tests, first-time dedup; the probe artifacts are
    * derived in-plan instead of read from parquet). Bit-identical
    * results; the production boundary is the indexed variant. */
  def incrementalAccept(base: DataFrame, delta: DataFrame, idCol: String,
      textCol: String, threshold: Double = 0.7,
      maxBucket: Int = 100): DataFrame =
    incrementalAcceptIndexed(
      DedupIndex.fromDocs(buildIndex(base, idCol, textCol)), delta,
      idCol, textCol, threshold, maxBucket)

  // --- SimHash -----------------------------------------------------------

  /** 64-bit SimHash over tokens — delegates to the shared
    * [[graft.plans.SimHashKernel]] (a compact JVM loop beats 64
    * codegen'd array traversals; every token OCCURRENCE contributes).
    * Kept as the Seq API for specs/interop; plans go through the
    * native `simhash64` expression below. */
  def simhash64(tokens: Seq[String]): Long =
    graft.plans.SimHashKernel.simhashTokens(tokens)

  /** doc → (simhash fingerprint, 16-bit prefix bucket). The
    * fingerprint is the native [[graft.plans.SimHash64]] expression —
    * one static call on the raw text column (formerly a Scala UDF
    * over the token array, which paid an ArrayData→Seq conversion per
    * row and broke the scan's codegen span; bit-identical, spec-
    * pinned). */
  def withSimHash(df: DataFrame, textCol: String): DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    df.withColumn("simhash", call_function("simhash64", col(textCol)))
      .withColumn("sim_bucket", shiftrightunsigned(col("simhash"), 48))
  }

  /** Oracle-portable SimHash: 64-bit fingerprint (as 16 hex chars) built
    * from the md5 hex digits of each DISTINCT token — every step
    * (md5 → hex nibble → bit → ±1 sign-sum → majority bit → hex char) is
    * plain ANSI SQL that Spark and DuckDB evaluate identically, and the
    * arithmetic is integer-only, so the fingerprint is engine-exact
    * (unlike the MurmurHash3 production variant above, whose hash family
    * is JVM-specific). Scale shape: one explode to tokens×64 rows, two
    * partial+final hash aggregations keyed by (id, bit) then id — no
    * joins, no windows; the tokens×64 blow-up stays map-side between the
    * explode and the first partial aggregate.
    */
  def simHashMd5(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      explode(array_distinct(tokensCol(col(textCol)))).as("tok"))
    // bit j of a token's hash = bit (3 - j%4) of hex nibble j/4;
    // sign-sum those across tokens, majority (> 0) wins; ties → 0 on
    // both engines — semantics unchanged from the exploded spelling
    // this replaces. SHAPE (r16, guide §2.3/§4): the old plan exploded
    // every token row ×64 (tokens×64 rows through a (id, j) hash
    // aggregate, then (id, nibble), then a collect_list assembly —
    // three shuffled aggregations and two ObjectHashAggregates); this
    // one evaluates the 64 sign expressions as COLUMNS of the token
    // row and runs ONE map-side-combined hash aggregate with 64 long
    // sums keyed by id — no row multiplication, no object buffers,
    // whole-stage codegen end to end. Measured 2.2 → 1.1 s serial at
    // sf0.1; fingerprints bit-identical (hash gate unchanged).
    val withNib = toks
      .withColumn("h", md5(col("tok")))
      .select(col("id") +: (0 until 16).map(ni =>
        expr(s"instr('0123456789abcdef', substring(h, ${ni + 1}, 1)) - 1")
          .as(s"n$ni")): _*)
    val sums = withNib.groupBy("id").agg(
      expr("sum(CASE WHEN (n0 div 8) % 2 = 1 THEN 1 ELSE -1 END)").as("s0"),
      (1 until 64).map { j =>
        val pow = 1 << (3 - j % 4)
        expr(s"sum(CASE WHEN (n${j / 4} div $pow) % 2 = 1 THEN 1 ELSE -1 END)")
          .as(s"s$j")
      }: _*)
    val hexChars = (0 until 16).map { ni =>
      val v = (0 until 4).map { k =>
        s"(CASE WHEN s${4 * ni + k} > 0 THEN ${1 << (3 - k)} ELSE 0 END)"
      }.mkString(" + ")
      expr(s"substring('0123456789abcdef', ($v) + 1, 1)")
    }
    sums.select(col("id"), concat(hexChars: _*).as("simhash_hex"))
  }

  /** SimHash near-dup pairs: same 16-bit bucket AND Hamming ≤ maxDist.
    * (Production would probe multiple rotated bucketings; one prefix
    * bucket demonstrates the shape.) */
  /** SimHash near-dup pairs by 4×16-bit BAND probing: each fingerprint
    * contributes four (band index, band value) keys; candidates share
    * ≥1 band, then verify by full Hamming distance. COMPLETE for
    * maxDist ≤ 3 by pigeonhole — 3 differing bits touch at most 3 of
    * the 4 bands, so one band is always intact and the pair always
    * collides (the previous prefix-only probe silently missed pairs
    * whose differing bits fell in the top 16). Per-band hot buckets
    * (> maxBucket occupants — a mega exact-dup cluster shares all four
    * bands) are dropped before the self-join, same guard as every
    * bucketed pairing path; a multi-band collision dedups through
    * `distinct` before the verify. */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3, maxBucket: Int = 100): DataFrame = {
    require(maxDist <= 3, s"4x16 banding is complete only to Hamming 3, got $maxDist")
    val h = withSimHash(df, textCol)
      .select(col(idCol).as("id"), col("simhash"))
    val bands = h.select(col("id"), col("simhash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("simhash"), b * 16)
            .bitwiseAND(lit(0xFFFFL)).as("bv"))): _*)).as("bk"))
    val ok = bands.groupBy("bk").agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucket).select("bk")
    val bb = bands.join(ok, "bk")
    val a = bb.select(col("bk"), col("id").as("id_a"), col("simhash").as("sh_a"))
    val b = bb.select(col("bk"), col("id").as("id_b"), col("simhash").as("sh_b"))
    a.join(b, "bk").filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sh_a", "sh_b").distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxDist)
      .select("id_a", "id_b", "hamming")
  }

  // --- n-gram Jaccard (count-based, inverted index) ----------------------

  /** Exact n-gram-Jaccard dedup without materializing shingle arrays in
    * the join: inverted index on shingles (document-frequency cutoff
    * against stopword-like shingles), count-based Jaccard
    * |A∩B| / (|A|+|B|-|A∩B|) from groupBy counts only. */
  /** (id_a, id_b, n_shared, na, nb) for every candidate pair sharing at
    * least one distinct shingle (document-frequency cutoff `maxDf`
    * against stopword-like shingles) — the common core of the
    * count-based Jaccard and containment paths, MATERIALIZED once per
    * (session, input, maxDf): both consumers differ only in the final
    * ratio/filter. Set sizes come straight off the docs scan (one
    * pass, no shuffle — deriving them from the posting table would
    * re-aggregate |postings| rows for a per-document constant); the
    * posting list groups per n-gram, pairs explode from the grouped
    * list — 3 shuffles total, never a posting-table self-join. */
  private val shingleMemo =
    new graft.plans.PlanMemo[(String, String, Int), DataFrame](Seq(_))

  def sharedShinglePairs(df: DataFrame, idCol: String, textCol: String,
      maxDf: Int = 100): DataFrame = {
    shingleMemo.getOrCompute(df, (idCol, textCol, maxDf)) {
      graft.plans.GraftFunctions.register(df.sparkSession)
      val inv = df.select(col(idCol).as("id"),
        explode(array_distinct(call_function("shingles", col(textCol)))).as("ng"))
      val sizes = df.select(col(idCol).as("id"),
        size(array_distinct(call_function("shingles", col(textCol)))).cast("long").as("nsh"))
      // capped native aggregate: a stopword-like shingle with df ~10⁷
      // never materializes its posting list in a buffer (see
      // CappedCollectLongs) — the df cutoff's semantics are unchanged
      val shared = inv.groupBy("ng")
        .agg(call_function("capped_collect_longs", col("id"),
          lit(maxDf)).as("ids"))
        .filter(size(col("ids")).between(2, maxDf))
        .select(explode(pairCombos(col("ids"))).as("p"))
        .select(col("p._1").as("id_a"), col("p._2").as("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      shared
        .join(sizes.select(col("id").as("id_a"), col("nsh").as("na")), "id_a")
        .join(sizes.select(col("id").as("id_b"), col("nsh").as("nb")), "id_b")
    }
  }

  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, maxDf: Int = 100): DataFrame =
    sharedShinglePairs(df, idCol, textCol, maxDf)
      .withColumn("jaccard",
        col("n_shared").cast("double") / (col("na") + col("nb") - col("n_shared")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** Asymmetric containment pairs: C(inner→outer) = |inner ∩ outer| /
    * |inner| ≥ threshold. Catches SUB-document duplication (a doc
    * whose shingles mostly appear inside a larger doc) that symmetric
    * Jaccard dilutes away. Same inverted-index plan as
    * [[ngramJaccardPairs]] — each unordered pair just emits both
    * directions before the threshold. The ratio is a division of two
    * small exact integers: bit-identical in any engine. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, maxDf: Int = 100): DataFrame = {
    val withSizes = sharedShinglePairs(df, idCol, textCol, maxDf)
    val aInB = withSizes.select(col("id_a").as("inner_id"),
      col("id_b").as("outer_id"),
      (col("n_shared").cast("double") / col("na")).as("containment"))
    val bInA = withSizes.select(col("id_b").as("inner_id"),
      col("id_a").as("outer_id"),
      (col("n_shared").cast("double") / col("nb")).as("containment"))
    aInB.unionByName(bInA).filter(col("containment") >= threshold)
  }

  def dedupNgram(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5): DataFrame = {
    val dupIds = ngramJaccardPairs(df, idCol, textCol, threshold)
      .select(col("id_b").as(idCol)).distinct()
    df.join(dupIds, Seq(idCol), "left_anti")
  }
}

/** A dedup index as the probe consumes it — three co-staged tables
  * ([[Dedup.writeIndex]] layout):
  *
  *  - `docs(id, bands, sh, fp)` per-doc record of truth; probe reads
  *                              ONLY (id, sh) to verify candidates and
  *                              (fp) for the exact-replica screen
  *  - `postings(id, bk)`        exploded band keys; the candidate
  *                              equi-join's reference side
  *  - `bucketStats(bk, n)`      per-bucket occupancy, mergeable
  *                              partials — the hot-bucket router reads
  *                              this |buckets|-row sidecar instead of
  *                              re-grouping the corpus's band arrays
  *                              on every delta
  */
final case class DedupIndex(docs: DataFrame, postings: DataFrame,
    bucketStats: DataFrame, bands: Int = Dedup.Bands,
    rows: Int = Dedup.RowsPerBand,
    /** Persisted index root — the probe-verdict memo's identity. The
      * probe re-stamps it ([[Dedup.contentStamp]]: file counts + byte
      * totals + mtimes of the live artifact dirs) AT PROBE TIME, so a
      * handle held across an [[Dedup.appendIndex]] memo-misses cleanly
      * (the frames see the refreshed post-append files, and so does
      * the stamp — a stamp frozen at readIndex time paired pre-append
      * scalars with post-append scans). Only [[Dedup.readIndex]] fills
      * it; an in-plan [[DedupIndex.fromDocs]] index has no stable
      * content identity, so probes of it are never memoized. */
    root: Option[String] = None)

object DedupIndex {
  /** Derives the probe-side tables in-plan from a per-doc index frame —
    * the spelling for an index that is not (yet) persisted. A staged
    * index should be read with [[Dedup.readIndex]] so the probe scans
    * the pre-derived parquet artifacts instead. `bands`/`rows` must
    * match the geometry `docs` was built at (default 16×4). */
  def fromDocs(docs: DataFrame, bands: Int = Dedup.Bands,
      rows: Int = Dedup.RowsPerBand): DedupIndex = {
    val post = Dedup.indexPostings(docs)
    DedupIndex(docs, post, IndexStore.bucketStats(post), bands, rows)
  }
}
