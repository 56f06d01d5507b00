package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search [EXT] (north_star "similarity search")
  * over `embeddings.embedding: ARRAY<FLOAT>`.
  *
  * Kernels are pure Column compositions (`zip_with` + `aggregate`) in
  * double precision with a fixed left-to-right fold — deterministic and
  * codegen'd. Three search paths:
  *
  *  - brute-force top-k: broadcast the query vector, one linear scan,
  *    TakeOrderedAndProject (no global sort) — the correctness baseline;
  *  - per-group top-k: window row_number inside each label partition;
  *  - IVF: coarse-quantize by per-label centroids, probe the nprobe
  *    nearest cells, scan only those cells — the 100 TB path (scan cost
  *    drops by ~nlabels/nprobe; cells are the natural partition key).
  *
  *  - sign-bit LSH buckets for near-dup pairing (see [[signBucket]]).
  */
object Similarity {

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / nullif(norm(a) * norm(b), lit(0.0))

  /** Native codegen'd cosine (graft.plans.CosineSimilarity): one fused
    * array pass, bit-identical to [[cosine]]. Used on every bulk
    * embedding scan; the declarative form stays for mixed-type inputs
    * (double-array centroids) and as the cross-check in tests. */
  private def cosFast(df: DataFrame)(a: Column, b: Column): Column = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    graft.plans.GraftFunctions.cosineSim(a, b)
  }

  /** The query row (lowest vec_id) as a 1-row DataFrame for broadcast. */
  def queryVector(emb: DataFrame): DataFrame =
    emb.orderBy("vec_id").limit(1)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  /** Brute-force cosine top-k against the query vector. */
  def bruteForceTopK(emb: DataFrame, k: Int = 10): DataFrame =
    emb.crossJoin(broadcast(queryVector(emb)))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("vec_id"), col("label"),
        cosFast(emb)(col("embedding"), col("q_emb")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id")).limit(k)

  /** Per-label top-k nearest to the query vector. */
  def perLabelTopK(emb: DataFrame, k: Int = 3): DataFrame = {
    val w = Window.partitionBy("label")
      .orderBy(col("cos_sim").desc, col("vec_id"))
    emb.crossJoin(broadcast(queryVector(emb)))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("vec_id"), col("label"),
        cosFast(emb)(col("embedding"), col("q_emb")).as("cos_sim"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
  }

  /** Batched multi-query top-k — the PRODUCTION shape of ANN serving
    * (queries arrive in batches; re-scanning the corpus per query
    * wastes the scan): the `nQueries` lowest vec_ids form the query
    * batch, broadcast as one tiny frame, and a SINGLE corpus scan
    * scores every (vector, query) pair — scan cost amortizes across
    * the batch. Exact top-k per query WITHOUT a per-query global
    * sort: phase 1 ranks inside (query, input-partition) cells —
    * bounded by the partition size, never the corpus — and keeps k;
    * phase 2 ranks the ≤ k·partitions survivors per query. Any
    * partitioning's per-cell top-k is a superset of the global
    * top-k, so the result is partitioning-independent (the
    * TakeOrderedAndProject idea generalized to a query batch). Ties
    * break on vec_id; distinct random cosines make ranks
    * engine-stable (the sim_topk_brute convention). */
  def multiQueryTopK(emb: DataFrame, nQueries: Int = 5, k: Int = 3)
      : DataFrame = {
    val qs = broadcast(emb.orderBy("vec_id").limit(nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")))
    val scored = emb.crossJoin(qs)
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("label"),
        cosFast(emb)(col("embedding"), col("q_emb")).as("cos_sim"))
      // materialized in a Project (a nondeterministic expression may
      // not appear in a window spec itself); any pid assignment
      // yields the same final top-k — see the superset argument above
      .withColumn("__pid", spark_partition_id())
    val w1 = Window.partitionBy(col("q_id"), col("__pid"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    val w2 = Window.partitionBy("q_id")
      .orderBy(col("cos_sim").desc, col("vec_id"))
    scored
      .withColumn("r1", row_number().over(w1)).filter(col("r1") <= k)
      .withColumn("rank", row_number().over(w2).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "vec_id", "label")
      .orderBy("q_id", "rank")
  }

  /** Radius query: all vectors with cosine ≥ threshold of the query
    * vector — one broadcast + one filtered scan, no sort (unlike top-k
    * this needs no TakeOrderedAndProject; selectivity does the work). */
  def rangeSearch(emb: DataFrame, threshold: Double): DataFrame =
    emb.crossJoin(broadcast(queryVector(emb)))
      .filter(col("vec_id") =!= col("q_id"))
      .filter(cosFast(emb)(col("embedding"), col("q_emb")) >= threshold)
      .select(col("vec_id"), col("label"))

  /** Element-wise mean vector per label — the IVF coarse centroids.
    * posexplode → per-(label,pos) avg → re-assemble ordered array.
    * The collect_list buffer is one (pos, mean) struct per embedding
    * DIMENSION (64 here) — bounded by dimensionality, not rows. */
  def labelCentroids(emb: DataFrame): DataFrame =
    emb.select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("label", "pos").agg(avg(col("v")).as("m"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("label"), transform(col("pm"), x => x.getField("m")).as("centroid"))

  /** IVF search: probe the `nprobe` nearest centroids, brute-force only
    * inside those cells. */
  def ivfTopK(emb: DataFrame, k: Int = 10, nprobe: Int = 2): DataFrame = {
    val q = broadcast(queryVector(emb))
    val cells = labelCentroids(emb).crossJoin(q)
      .select(col("label"), cosine(col("centroid"), col("q_emb")).as("c_sim"))
      .orderBy(col("c_sim").desc, col("label")).limit(nprobe)
      .select(col("label"))
    emb.join(broadcast(cells), Seq("label"))
      .crossJoin(q)
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("vec_id"), col("label"),
        cosFast(emb)(col("embedding"), col("q_emb")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id")).limit(k)
  }

  /** IVF with kmeans-trained cells (the FAISS IVF-Flat structure):
    * probe the `nprobe` centroids nearest the query in EXACT grid
    * distance (deterministic cell choice — no float tie risk), then
    * brute-force cosine only inside those cells. */
  def ivfKmeansTopK(emb: DataFrame, k: Int = 10, kClusters: Int = 5,
      nprobe: Int = 2): DataFrame = {
    val (assigned, cents) = Clustering.kmeansFull(emb, kClusters)
    val q = broadcast(emb.orderBy("vec_id").limit(1)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")))
    val cells = probeCells(emb, cents, nprobe)
    assigned.select("vec_id", "cluster")
      .join(broadcast(cells), Seq("cluster"))
      .join(emb, Seq("vec_id"))
      .crossJoin(q)
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("vec_id"), col("label"),
        cosFast(emb)(col("embedding"), col("q_emb")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id")).limit(k)
  }

  /** The `nprobe` kmeans cells nearest the query vector in EXACT grid
    * distance, ties to the lowest cell id — the ONE probe spelling
    * shared by IVF-Flat ([[ivfKmeansTopK]]) and IVF-PQ
    * ([[Pq.topKIvfPq]]), so the two structures can never drift on
    * cell choice. Returns a ≤nprobe-row (cluster) frame. */
  private[sim] def probeCells(emb: DataFrame, cents: DataFrame,
      nprobe: Int): DataFrame = {
    graft.plans.GraftFunctions.register(emb.sparkSession)
    val q = broadcast(emb.orderBy("vec_id").limit(1)
      .select(Clustering.quantize(col("embedding")).as("q_v")))
    val d2 = call_function("l2sq_longs", col("c"), col("q_v"))
    cents.crossJoin(q).select(col("j").as("cluster"), d2.as("d2"))
      .orderBy("d2", "cluster").limit(nprobe).select("cluster")
  }

  /** 16-bit sign-LSH bucket from the first 16 dimensions. r17: the
    * native [[graft.plans.SignBandMask]] kernel (codegen, no sliced /
    * zipped temporaries) replaces the interpreted slice/zip_with fold —
    * bit-parity pinned by SignBandMaskExprSpec. Callers must have
    * GraftFunctions registered on the analyzing session (every banded
    * entry point does). */
  def signBucket(emb: Column): Column =
    call_function("sign_band_mask", emb, lit(0), lit(16))

  /** Embedding-cosine near-dup pairs: bucket by sign-LSH, verify cosine
    * within buckets only. Buckets with more than `maxBucket` occupants
    * are dropped BEFORE the self-join — the same hot-bucket guard as
    * the text-LSH path: a degenerate bucket (dead all-zero embeddings,
    * a model whose first 16 dims are positive-biased) would otherwise
    * pair quadratically with full embedding payloads crossing the
    * join. The guard is a count aggregation (constant-size buffers) +
    * an equi-join, so the hot bucket's rows are discarded at the join,
    * never materialized as pairs. */
  def nearDupPairs(emb: DataFrame, threshold: Double = 0.95,
      maxBucket: Int = 100): DataFrame = {
    val h = emb.select(col("vec_id"), col("embedding"),
      signBucket(col("embedding")).as("bucket"))
    val ok = h.groupBy("bucket").agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucket).select("bucket")
    val hh = h.join(ok, "bucket")
    val a = hh.select(col("bucket"), col("vec_id").as("id_a"), col("embedding").as("e_a"))
    val b = hh.select(col("bucket"), col("vec_id").as("id_b"), col("embedding").as("e_b"))
    a.join(b, "bucket").filter(col("id_a") < col("id_b"))
      .withColumn("cos_sim", cosFast(emb)(col("e_a"), col("e_b")))
      .filter(col("cos_sim") >= threshold)
      .select("id_a", "id_b", "cos_sim")
  }

  /** Embedding near-dedup → kept corpus. */
  def dedupEmbeddings(emb: DataFrame, threshold: Double = 0.95,
      maxBucket: Int = 100): DataFrame = {
    val dupIds = nearDupPairs(emb, threshold, maxBucket)
      .select(col("id_b").as("vec_id")).distinct()
    emb.join(dupIds, Seq("vec_id"), "left_anti")
  }

  /** Sentinel band width meaning "derive from corpus density"
    * ([[autoBandBits]]); the default of every banded entry point. */
  val AutoBandBits = 0

  /** The corpus-density sizing rule for the sign-LSH band width
    * (SERIAL.md band-width A/B): per-band expected occupancy is
    * n/2^bits, and the hot-bucket guard (maxBucket, default 100)
    * DROPS buckets past its cap — so with a fixed width a grown
    * corpus saturates the band space and the guard silently blinds
    * the probe (measured at the 100× replica corpus: 8-bit bands
    * keep 2/512 buckets, 200 of 400 k postings). The rule keeps
    * expected occupancy at `targetOccupancy` — guard/4, headroom for
    * the skew real sign bits have (they are correlated, not uniform):
    *
    *   bits = clamp(ceil(log2(n / targetOccupancy)), 8, 24)
    *
    * The 8-bit floor IS the historical default, so every corpus up to
    * 6 400 vectors (all driver-gate SFs: 500/500/2000) resolves to
    * the exact pre-auto behavior and the fixed DuckDB oracles hold;
    * the 24-bit ceiling keeps two bands inside the 64 embedding dims
    * with slack. This rule alone assumes d ≥ 48; [[resolveWidth]] —
    * the resolution every auto-width entry point goes through —
    * ENFORCES bits ≤ minDim/2 on top of it (slicing past the array
    * end degenerates that band's mask to a constant, which the guard
    * then drops — recall halves with no signal), and
    * [[bandOccupancyReport]] flags when that clamp fired. At the
    * measured replica corpora: 20 k → 10 bits,
    * 200 k → 13 bits (occupancy ≈ 20/24 — under the guard with no
    * manual knob, where fixed 8-bit was blind). */
  def autoBandBits(n: Long, targetOccupancy: Int = 25): Int = {
    val raw = math.ceil(
      math.log(math.max(n, 1L).toDouble / targetOccupancy) / math.log(2.0)).toInt
    math.max(8, math.min(24, raw))
  }

  /** The ONE spelling of width resolution from measured corpus stats —
    * shared by the engine ([[resolveBandBits]]) and the oracle
    * renderer (graft.Verify computes the same (n, minDim) from the
    * corpus parquet and renders the banded SQL at this width, so the
    * DuckDB check exercises the width that actually ran, not a fixed
    * spelling):
    *
    *  - the density rule [[autoBandBits]] with the target occupancy
    *    tied to the guard ACTUALLY IN FORCE — maxBucket/4, not a
    *    constant 25 — so a caller running a tighter guard (the A/B
    *    harness's maxBucket=40 path) gets widths sized for it;
    *  - clamped to minDim/2 (two bands must fit inside the SHORTEST
    *    embedding): past that, a band's slice runs off the array end,
    *    `slice` returns the truncated remainder, the mask degenerates
    *    toward a constant, the bucket goes hot, and the guard silently
    *    drops it — recall halves with no signal. The clamp keeps both
    *    bands real and [[bandOccupancyReport]] flags when it fired.
    *
    * @return (bits, clamped) */
  def resolveWidth(n: Long, minDim: Int, maxBucket: Int): (Int, Boolean) = {
    val auto = autoBandBits(n, math.max(1, maxBucket / 4))
    val cap = math.max(1, minDim / 2)
    if (auto > cap) (cap, true) else (auto, false)
  }

  /** One corpus-stats job per (session, input plan), memoized like the
    * shared k-means/pair materializations: every banded entry point in
    * a suite run resolves its width off the SAME cached
    * (count, min dimensionality) pair. The min over `size(embedding)`
    * rides the same single scan as the count. */
  private val statsJobMemo =
    new graft.plans.PlanMemo[String, (Long, Int)](_ => Nil)

  /** The memoized (row count, min embedding dimensionality) of a
    * corpus. The stats job runs OUTSIDE the memo lock (peek → compute
    * → insert): PlanMemo's build contract is construct-only, and a
    * count inside the coarse lock would serialize every concurrent
    * banded query on a full corpus scan. A lost race costs one
    * duplicate scan, never a wrong value. */
  private[sim] def corpusStats(emb: DataFrame): (Long, Int) =
    statsJobMemo.peek(emb, "stats").getOrElse {
      val row = emb.agg(count(lit(1)), min(size(col("embedding")))).head()
      val v = (row.getLong(0), if (row.isNullAt(1)) 64 else row.getInt(1))
      statsJobMemo.getOrCompute(emb, "stats")(v)
    }

  /** Resolve a band-width knob: explicit values pass through (the
    * A/B harness and tests override); [[AutoBandBits]] derives the
    * width from the memoized corpus stats via [[resolveWidth]]. */
  private[sim] def resolveBandBits(emb: DataFrame, bandBits: Int,
      maxBucket: Int): Int =
    if (bandBits != AutoBandBits) bandBits
    else {
      val (n, minDim) = corpusStats(emb)
      resolveWidth(n, minDim, maxBucket)._1
    }

  /** TWO sign bands of `bits` dims each (bits=8: dims 1-8 and
    * 9-16): a pair collides when EITHER band's sign pattern matches
    * exactly — the multi-probe recall upgrade over the single 16-bit
    * [[signBucket]] (one flipped sign among 16 kills the
    * single-bucket probe; with two bands it still collides on the
    * untouched half). `bits` is the CORPUS-SIZE knob: bucket
    * occupancy ~ n/2^bits per band, so when the corpus grows past
    * maxBucket·2^bits the hot-bucket guard starts dropping everything
    * and the probe goes blind — every banded entry point therefore
    * derives it from the corpus count by default ([[autoBandBits]];
    * measured at the 100× corpus: 8-bit bands keep 2/512 buckets,
    * auto-sized bands restore discrimination; see SERIAL.md). */
  def signBandKeys(emb: Column, bits: Int = 8): Column =
    // r17: masks through the native SignBandMask kernel (the struct /
    // array shell was always codegen — only the per-band fold was an
    // interpreted HOF chain); bit-parity pinned by SignBandMaskExprSpec
    array((0 until 2).map { b =>
      struct(lit(b).as("band"),
        call_function("sign_band_mask", emb, lit(b * bits), lit(bits))
          .as("mask"))
    }: _*)

  /** The ONE spelling of the exact-integer threshold verify, shared by
    * every embedding-dedup path: over columns `dot`, `na`, `nb` (1e-6
    * grid integer dot product and squared norms), cos ≥ num/den decided
    * as dot ≥ 0 ∧ den²·dot² ≥ num²·na·nb in DECIMAL(38,0) — dot ≤
    * d·(2e6)² ≈ 2.6e14 at d=64, dot² ≈ 7e28, inside 38 digits. The
    * na/nb > 0 guard: a zero-norm vector (dead/underflow embedding) has
    * an UNDEFINED cosine; without it 0 ≥ 0 marks it a duplicate of
    * every bucket-mate, where the float kernel's nullif yields null. */
  private[sim] def exactCosAtLeast(num: Int, den: Int): Column = {
    val dec = "decimal(38,0)"
    col("na") > 0 && col("nb") > 0 && col("dot") >= 0 &&
      col("dot").cast(dec) * col("dot").cast(dec) * lit(den.toLong * den) >=
        col("na").cast(dec) * col("nb").cast(dec) * lit(num.toLong * num)
  }

  /** The banded candidate stage alone: (id_a < id_b, dot, na, nb) for
    * every band-colliding pair (either sign band, hot buckets
    * guarded at `maxBucket`), with the 1e-6-grid integer dot product
    * and squared norms attached — the shared input of the threshold
    * verify ([[bandedVerifiedPairs]]) and the cross-label ranking
    * ([[hardNegativesBanded]]). The band width defaults to
    * [[AutoBandBits]] — derived from the corpus count so occupancy
    * stays under the guard at every scale ([[autoBandBits]]). */
  /** Session memo for the candidate-stats relation: the kept-corpus
    * dedup, the density clustering, and the hard-negative miner all
    * consume the SAME (pairs, dot, na, nb) relation for a given
    * (corpus plan, guard, resolved width), so it materializes once
    * per session and is shared — the Dedup.nearDupPairs /
    * kmeansFull shared-build-artifact shape. The first consumer in a
    * session pays the build (the bench headline convention: run1 =
    * cold artifact cost, min = steady-state); every later banded
    * query rides the materialization.
    *
    * LAZY localCheckpoint, NOT persist: Spark does not re-optimize
    * inside a cached (InMemoryRelation) subtree — caching this
    * relation froze the skew-sensitive candidate self-join into its
    * static pre-AQE shape, measured 537 s vs ~105 s at the 100×
    * corpus. The checkpoint materializes the SAME relation through
    * the full AQE plan (the dbscan pair-loop idiom), and the memo
    * keeps it single-build per session (persistables = Nil — the
    * checkpointed RDD is the artifact; the ContextCleaner reaps it
    * when the memo entry is evicted). */
  private val statsMemo =
    new graft.plans.PlanMemo[(Int, Int), DataFrame](_ => Nil)

  def bandedCandidateStats(emb: DataFrame, maxBucket: Int = 100,
      bandBits: Int = AutoBandBits): DataFrame = {
    val bits = resolveBandBits(emb, bandBits, maxBucket)
    statsMemo.getOrCompute(emb, (maxBucket, bits)) {
      // eager=false: PlanMemo builds must only CONSTRUCT — the first
      // action materializes the checkpoint
      bandedCandidateStatsUncached(emb, maxBucket, bits)
        .localCheckpoint(eager = false)
    }
  }

  /** The unshared builder (also the plan the shape spec pins — the
    * memo wraps exactly this). */
  private[graft] def bandedCandidateStatsUncached(emb: DataFrame,
      maxBucket: Int, bits: Int): DataFrame = {
    // registered before the first native call below: the select
    // analyzes eagerly, so a session no earlier query registered
    // (sim_hard_negatives first in a fresh Verify) fails to resolve
    graft.plans.GraftFunctions.register(emb.sparkSession)
    // r17: native QuantizeLongs kernel (codegen, no interpreted
    // per-element lambda; bit-parity pinned by QuantizeLongsExprSpec)
    val qe = call_function("quantize_longs", col("embedding"),
      lit(1e6), lit(0L))
    val h = emb.select(col("vec_id"), qe.as("qe"),
      explode(signBandKeys(col("embedding"), bits)).as("bk"))
    val ok = h.groupBy("bk").agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucket).select("bk")
    val bb = h.join(ok, "bk")
    val cand = bb.select(col("bk"), col("vec_id").as("id_a"), col("qe").as("qa"))
      .join(bb.select(col("bk"), col("vec_id").as("id_b"), col("qe").as("qb")), "bk")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "qa", "qb").distinct()
    // r16: the integer dot/norm moments run through the native fused
    // kernels (graft.plans.DotLongs — whole-stage codegen, zero
    // temporary arrays) instead of the interpreted zip_with/aggregate
    // fold; wrap-addition associativity keeps them bit-identical.
    cand
      .withColumn("dot", call_function("dot_longs", col("qa"), col("qb")))
      .withColumn("na", call_function("dot_longs", col("qa"), col("qa")))
      .withColumn("nb", call_function("dot_longs", col("qb"), col("qb")))
      .select("id_a", "id_b", "dot", "na", "nb")
  }

  /** The banded candidate-generation + exact verify, factored to ONE
    * spelling: (id_a, id_b) with id_a < id_b, every pair band-colliding
    * (either auto-width sign band, hot buckets guarded at `maxBucket`)
    * AND verified cos ≥ num/den by [[exactCosAtLeast]] — embeddings
    * quantize to a 1e-6 grid (round half away from zero, identical in
    * both engines) and the threshold is decided as dot ≥ 0 ∧
    * den²·dot² ≥ num²·|a|²·|b|² in 128-bit integer arithmetic
    * (DECIMAL(38,0); dot ≤ d·(2e6)² ≈ 2.6e14 at d=64, dot² ≈ 7e28 —
    * inside 38 digits). Raw-cosine thresholding is margin-fragile
    * cross-engine — the banded candidate set on this corpus has pairs
    * within 2e-5 of any plausible threshold — so the compare is exact
    * instead of hoping for a margin (the repo float policy). This
    * relation is the ε-neighbor graph both consumers read — the
    * kept-corpus dedup ([[dedupEmbeddingsBandedExact]]) and the
    * density clustering ([[dbscanBanded]]). */
  def bandedVerifiedPairs(emb: DataFrame, num: Int, den: Int,
      maxBucket: Int = 100, bandBits: Int = AutoBandBits): DataFrame =
    bandedCandidateStats(emb, maxBucket, bandBits)
      .filter(exactCosAtLeast(num, den))
      .select("id_a", "id_b")

  /** Hard-negative mining for contrastive training (the in-batch /
    * mined-negative recipe of DPR, Karpukhin et al. 2020, and SimCSE):
    * for every anchor vector, the `k` most similar vectors with a
    * DIFFERENT label — "hard" because they sit close in embedding
    * space yet must be pushed apart. Candidates come from the banded
    * sign-LSH probe ([[bandedCandidateStats]] — the scale path: pair
    * work stays inside guarded buckets, never corpus²), similarity is
    * the µ-rounded cosine over the exact integer dot/norms (identical
    * in both engines — the sim_knn_graph float policy), zero-norm
    * vectors are excluded (undefined cosine), and ties break on
    * neighbor id so ranks cannot drift. Per-anchor ranking is a
    * rank-window over the symmetrized pair relation — group sizes are
    * bounded by the bucket guard (≤ 2·bands·maxBucket rows per
    * anchor), not the corpus. */
  def hardNegativesBanded(emb: DataFrame, k: Int,
      maxBucket: Int = 100, bandBits: Int = AutoBandBits): DataFrame = {
    // the symmetrize union consumes this twice; the candidate join
    // runs once regardless — bandedCandidateStats is session-memoized
    // and persisted, so both branches scan the cache and only the
    // cheap per-row cos_e6 arithmetic re-runs (the former
    // localCheckpoint here double-materialized the relation)
    val stats = bandedCandidateStats(emb, maxBucket, bandBits)
      .filter(col("na") > 0 && col("nb") > 0)
      .withColumn("cos_e6",
        expr("""CAST(round(CAST(dot AS DOUBLE)
               | / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
               | * 1e6) AS BIGINT)""".stripMargin))
      .select("id_a", "id_b", "cos_e6")
    val sym = stats.select(col("id_a").as("anchor"),
        col("id_b").as("neg_id"), col("cos_e6"))
      .unionByName(stats.select(col("id_b").as("anchor"),
        col("id_a").as("neg_id"), col("cos_e6")))
    val lab = emb.select(col("vec_id"), col("label"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("anchor").orderBy(col("cos_e6").desc, col("neg_id"))
    sym
      .join(lab.select(col("vec_id").as("anchor"),
        col("label").as("anchor_label")), "anchor")
      .join(lab.select(col("vec_id").as("neg_id"),
        col("label").as("neg_label")), "neg_id")
      .filter(col("anchor_label") =!= col("neg_label"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("anchor").as("vec_id"), col("anchor_label"), col("rn"),
        col("neg_id"), col("neg_label"), col("cos_e6"))
  }

  /** Banded embedding near-dedup: drops the higher vec_id of each
    * [[bandedVerifiedPairs]] pair (auto-width bands, exact-integer
    * threshold verify — see there for the arithmetic contract). */
  def dedupEmbeddingsBandedExact(emb: DataFrame, num: Int, den: Int,
      maxBucket: Int = 100, bandBits: Int = AutoBandBits): DataFrame = {
    val dup = bandedVerifiedPairs(emb, num, den, maxBucket, bandBits)
      .select(col("id_b").as("vec_id")).distinct()
    emb.join(dup, Seq("vec_id"), "left_anti")
  }

  /** DBSCAN (Ester et al. 1996, KDD) over the banded-LSH ε-graph: the
    * neighborhood relation is [[bandedVerifiedPairs]] — band-blocked
    * candidates verified cos ≥ num/den in exact integer arithmetic —
    * so "ε-reachable" means reachable through pairs the probe SEES,
    * the standard LSH-DBSCAN approximation (exact DBSCAN's
    * neighborhood query is the all-pairs problem; at 100 TB the
    * bucketed graph IS the tractable definition, and
    * `emb_band_recall` quantifies what the probe misses).
    *
    * Classic roles, made deterministic: a point is CORE when its
    * ε-neighborhood (self included) has ≥ minPts members; core points
    * cluster by connected components over core–core edges
    * ([[graft.ops.Graph.connectedComponents]] — pointer-jumping
    * min-label, O(log diameter) rounds), labeled by the minimum core
    * id; a non-core point with a core neighbor is BORDER and joins
    * its minimum-labeled core neighbor's cluster (textbook DBSCAN
    * leaves border assignment scan-order-dependent — min-label is the
    * order-free spelling); everything else is NOISE with the
    * conventional -1 label.
    *
    * Scale shape: degree/core are count aggregations on the pair
    * relation (constant-size buffers), the CC edge set is a subset of
    * the guarded pair relation, and border assignment is one
    * aggregation over the neighbor list — nothing materializes a
    * neighborhood beyond the maxBucket² per-bucket pair bound. The
    * pair relation feeds three consumers, so it is localCheckpoint-ed
    * once (same policy as the CC loop's label generations).
    *
    * @return (vec_id, role ∈ {core,border,noise}, cluster_id; -1 for noise)
    */
  def dbscanBanded(emb: DataFrame, num: Int, den: Int, minPts: Int,
      maxBucket: Int = 100, bandBits: Int = AutoBandBits): DataFrame = {
    val pairs = bandedVerifiedPairs(emb, num, den, maxBucket, bandBits)
      .localCheckpoint()
    val nbrs = pairs.select(col("id_a").as("id"), col("id_b").as("nb"))
      .unionByName(pairs.select(col("id_b").as("id"), col("id_a").as("nb")))
    val deg = nbrs.groupBy("id").agg(count(lit(1)).as("deg"))
    val cores = deg.filter(col("deg") + 1 >= minPts).select("id")
    val coreEdges = pairs
      .join(cores.select(col("id").as("id_a")), "id_a")
      .join(cores.select(col("id").as("id_b")), "id_b")
      .select("id_a", "id_b")
    val cc = graft.ops.Graph.connectedComponents(coreEdges)
    // isolated cores (≥ minPts-1 border neighbors, no core neighbor)
    // have no CC row — they seed their own singleton cluster
    val coreLab = cores.join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("cluster_id"))
    val borderLab = nbrs
      .join(coreLab.select(col("id").as("nb"), col("cluster_id")), "nb")
      .join(cores, Seq("id"), "left_anti")
      .groupBy("id").agg(min("cluster_id").as("cluster_id"))
    emb.select(col("vec_id"))
      .join(coreLab.select(col("id").as("vec_id"),
        col("cluster_id").as("c_core")), Seq("vec_id"), "left")
      .join(borderLab.select(col("id").as("vec_id"),
        col("cluster_id").as("c_border")), Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("c_core").isNotNull, lit("core"))
          .when(col("c_border").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("c_core"), col("c_border"), lit(-1L)).as("cluster_id"))
  }

  /** Semantic (cluster-blocked) embedding near-dedup — the SemDeDup
    * shape (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540):
    * instead of hashing into LSH buckets, candidates are blocked by
    * the k-means cell of the SAME exact-integer coarse quantizer the
    * ANN ladder uses ([[Clustering.kmeansFull]], shared with
    * cluster_kmeans / sim_topk_ivf_kmeans / sim_topk_ivfpq — memoized,
    * so in a suite run the quantizer trains once). Within a cell,
    * pairing is sub-blocked by the two 8-bit [[signBandKeys]] sign
    * bands, and every candidate pair is verified by the shared
    * 128-bit-integer threshold kernel ([[exactCosAtLeast]]).
    *
    * Scale shape: SemDeDup's own work bound is the cell size — the
    * paper scales k with the corpus so cells stay O(corpus/k). The
    * band sub-block keeps within-cell pairing off the O(cell²) cliff
    * even at fixed k (work per (cell, band, mask) key is guarded at
    * maxBucket², same policy as every bucketed pairing path), at the
    * recall cost the banded probe already quantifies
    * (`emb_band_recall`). Relative to [[dedupEmbeddingsBandedExact]],
    * the cell conjunction is blocking precision: band-colliding pairs
    * in DIFFERENT semantic cells are never even candidates — at 100 TB
    * that is the IVF routing win applied to dedup (candidate volume
    * drops by ~1/k for random band collisions while true near-dups,
    * which the quantizer co-locates, survive). One guard asymmetry:
    * because the hot-bucket guard runs at the FINER (cell, band, mask)
    * key, a band bucket too hot for the banded path can split across
    * cells into guardable pieces here — the cell structure rescuing
    * pairing inside hot buckets is SemDeDup's tractability argument in
    * miniature, and the one case where this path can drop an id the
    * banded path kept.
    * Kept corpus drops the higher vec_id of each verified pair. */
  def dedupSemantic(emb: DataFrame, num: Int, den: Int, kCells: Int,
      maxBucket: Int = 100, bandBits: Int = AutoBandBits): DataFrame = {
    // the cell conjunction already splits band buckets ~kCells ways,
    // but the width still follows corpus density (the same auto rule
    // as every banded path): the cells are headroom, not the sizing
    val bits = resolveBandBits(emb, bandBits, maxBucket)
    val assigned = Clustering.kmeansFull(emb, kCells)._1
      .select(col("vec_id"), col("cluster"))
    graft.plans.GraftFunctions.register(emb.sparkSession)
    val qe = call_function("quantize_longs", col("embedding"),
      lit(1e6), lit(0L))
    val h = emb.select(col("vec_id"), qe.as("qe"),
        explode(signBandKeys(col("embedding"), bits)).as("bk"))
      .join(assigned, "vec_id")
      .select(col("vec_id"), col("qe"),
        struct(col("cluster"), col("bk")).as("key"))
    val ok = h.groupBy("key").agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucket).select("key")
    val bb = h.join(ok, "key")
    val cand = bb.select(col("key"), col("vec_id").as("id_a"), col("qe").as("qa"))
      .join(bb.select(col("key"), col("vec_id").as("id_b"), col("qe").as("qb")),
        "key")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "qa", "qb").distinct()
    val dup = cand
      .withColumn("dot", call_function("dot_longs", col("qa"), col("qb")))
      .withColumn("na", call_function("dot_longs", col("qa"), col("qa")))
      .withColumn("nb", call_function("dot_longs", col("qb"), col("qb")))
      .filter(exactCosAtLeast(num, den))
      .select(col("id_b").as("vec_id")).distinct()
    emb.join(dup, Seq("vec_id"), "left_anti")
  }

  /** Candidate-recall report for the embedding LSH probes: how much of
    * the EXACT threshold-pair set (cos ≥ num/den decided in the same
    * 128-bit integer arithmetic as [[dedupEmbeddingsBandedExact]], so
    * engine-exact) each probe's candidate set covers — the single
    * 16-bit [[signBucket]] vs the two 8-bit [[signBandKeys]] bands.
    * One row: n_true, per-probe hit counts, µ-int recalls. This is the
    * measurement that justifies the banded variant: one flipped sign
    * among 16 kills the single probe, while the banded probe still
    * collides on the untouched half.
    *
    * Scale shape: the gold standard is inherently all-pairs O(n²·d),
    * so the whole measurement runs on a bounded DETERMINISTIC sample —
    * the `sampleCap` lowest vec_ids (identical in both engines; at the
    * driver-gate SFs the cap exceeds the corpus, so every vector is
    * in and the cap is invisible). The cap makes the report's cost
    * O(sampleCap²·d) — a CONSTANT in the corpus size — which is the
    * production shape: recall is a ratio and a sample estimates it,
    * while the dedup paths being MEASURED stay bucket-joined over the
    * full corpus. Measured uncapped at a 50k-vector corpus the exact
    * side alone is ~470 s (100.2× the 500-vector pair space); capped
    * it is the sample cost forever. The exact side is the same
    * integer verify kernel, so the report is hash-exact against the
    * oracle rather than a float estimate. */
  def bandRecallReport(emb0: DataFrame, num: Int, den: Int,
      maxBucket: Int = 100, sampleCap: Int = 2000): DataFrame = {
    // the probe under measurement is auto-width sized for the corpus
    // it actually probes — the ≤sampleCap sample. The actual sample is
    // min(corpus, cap) rows, and the rule floors at 8 bits for every
    // count up to targetOccupancy·2^8, so as long as the CAP sits
    // under that bound the cap-width and the actual-sample-width
    // coincide (both = the floor) and the report's oracle is a fixed
    // spelling with no count job. The require makes a future larger
    // cap fail loudly here instead of measuring wider bands than the
    // probed corpus would ever run.
    val targetOcc = math.max(1, maxBucket / 4)
    require(sampleCap <= targetOcc.toLong * (1L << 8),
      s"sampleCap $sampleCap exceeds the 8-bit-floor coverage " +
        s"(${targetOcc * (1L << 8)} at guard $maxBucket): the cap-sized " +
        "width would no longer equal the actual-sample width — resolve " +
        "bits from the sampled frame's count instead")
    val bits = autoBandBits(sampleCap, targetOcc)
    // the limit materializes on ONE partition (TakeOrderedAndProject),
    // and the sample is byte-tiny, so AQE would coalesce a plain
    // repartition right back to one partition — serializing the
    // quadratic pair join on a single core (measured 14× slower). An
    // EXPLICIT partition count is user-fixed, which AQE honors: the
    // n² work downstream is what needs the parallelism, not the bytes.
    val emb = emb0.orderBy("vec_id").limit(sampleCap)
      .repartition(32, col("vec_id"))
    val qeCol = call_function("quantize_longs", col("embedding"),
      lit(1e6), lit(0L))
    // squared norms are per-VECTOR: computed once on the n-row side
    // and joined in, not re-folded on every one of the n² pairs (the
    // dot product is the only inherently per-pair fold)
    graft.plans.GraftFunctions.register(emb.sparkSession)
    val q = emb.select(col("vec_id"), qeCol.as("qe"))
    val qn = q.select(col("vec_id"), col("qe"),
      call_function("dot_longs", col("qe"), col("qe")).as("nn"))
    val truePairs = qn.select(col("vec_id").as("id_a"), col("qe").as("qa"),
        col("nn").as("na"))
      .join(qn.select(col("vec_id").as("id_b"), col("qe").as("qb"),
        col("nn").as("nb")), col("id_a") < col("id_b"))
      .withColumn("dot", call_function("dot_longs", col("qa"), col("qb")))
      .filter(exactCosAtLeast(num, den))
      .select("id_a", "id_b")
    val h1 = emb.select(col("vec_id"), signBucket(col("embedding")).as("bucket"))
    val ok1 = h1.groupBy("bucket").agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucket).select("bucket")
    val hh1 = h1.join(ok1, "bucket")
    val c1 = hh1.select(col("bucket"), col("vec_id").as("id_a"))
      .join(hh1.select(col("bucket"), col("vec_id").as("id_b")), "bucket")
      .filter(col("id_a") < col("id_b")).select("id_a", "id_b").distinct()
    val h2 = emb.select(col("vec_id"),
      explode(signBandKeys(col("embedding"), bits)).as("bk"))
    val ok2 = h2.groupBy("bk").agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucket).select("bk")
    val hh2 = h2.join(ok2, "bk")
    val c2 = hh2.select(col("bk"), col("vec_id").as("id_a"))
      .join(hh2.select(col("bk"), col("vec_id").as("id_b")), "bk")
      .filter(col("id_a") < col("id_b")).select("id_a", "id_b").distinct()
    // ONE evaluation of the expensive all-pairs side: both candidate
    // sets (distinct pairs, so the left joins cannot fan out) are
    // marked onto it and all three counts fall out of a single
    // aggregation — the naive three-branch spelling re-ran the O(n²·d)
    // scan once per count.
    val keys = Seq("id_a", "id_b")
    truePairs
      .join(c1.withColumn("__c1", lit(1L)), keys, "left")
      .join(c2.withColumn("__c2", lit(1L)), keys, "left")
      .agg(count(lit(1)).cast("long").as("n_true"),
        count(col("__c1")).cast("long").as("n_single"),
        count(col("__c2")).cast("long").as("n_banded"))
      .select(col("n_true"), col("n_single"), col("n_banded"),
        expr("CAST(n_single * 1000000 DIV GREATEST(n_true, 1) AS BIGINT)")
          .as("recall_single_e6"),
        expr("CAST(n_banded * 1000000 DIV GREATEST(n_true, 1) AS BIGINT)")
          .as("recall_banded_e6"))
  }

  /** Density-health report for the banded sign-LSH family — the
    * saturation diagnostic (SERIAL.md band-width A/B) promoted to a
    * registered query, so "is the band space still discriminating at
    * this corpus size" is a queryable artifact, not a harness run.
    * Per band: the RESOLVED width (auto by default — the report
    * documents what the dedup/dbscan/hard-negative paths actually
    * ran), bucket count, max occupancy, buckets under the hot-bucket
    * guard, and postings kept vs total — `postings_kept ≈
    * postings_total` means the probe sees the corpus; the saturated
    * failure mode reads as kept ≪ total (the 100× corpus at fixed
    * 8 bits: 200 of 400 k). All exact integers; scale shape is one
    * explode to 2n band keys and two count aggregations — no pairing,
    * so the report costs a scan even when the corpus is degenerate. */
  def bandOccupancyReport(emb: DataFrame, maxBucket: Int = 100,
      bandBits: Int = AutoBandBits): DataFrame = {
    // resolved inline (not via resolveBandBits) because the report
    // also SURFACES whether the dimensionality clamp fired — the
    // short-embedding failure mode (bits > d/2 → a band slices past
    // the array end, degenerates to a near-constant mask, goes hot,
    // and the guard silently drops it) must be visible in the
    // density-health artifact, not just prevented
    val (bits, clamped) =
      if (bandBits != AutoBandBits) (bandBits, false)
      else {
        val (n, minDim) = corpusStats(emb)
        resolveWidth(n, minDim, maxBucket)
      }
    graft.plans.GraftFunctions.register(emb.sparkSession)
    val occ = emb
      .select(explode(signBandKeys(col("embedding"), bits)).as("bk"))
      .groupBy(col("bk.band").cast("long").as("band"), col("bk.mask"))
      .agg(count(lit(1)).as("n"))
    occ.groupBy("band").agg(
        lit(bits.toLong).as("bits"),
        lit(clamped).as("width_clamped"),
        count(lit(1)).cast("long").as("n_buckets"),
        max("n").cast("long").as("max_occ"),
        sum(when(col("n") <= maxBucket, 1L).otherwise(0L)).cast("long")
          .as("n_under_guard"),
        sum(when(col("n") <= maxBucket, col("n")).otherwise(0L)).cast("long")
          .as("postings_kept"),
        sum(col("n")).cast("long").as("postings_total"))
      .orderBy("band")
  }
}
