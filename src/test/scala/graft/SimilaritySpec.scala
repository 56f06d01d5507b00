package graft

import graft.sim.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f), 0),
    (1L, Array(0.9f, 0.1f, 0.0f), 0),   // closest to query (id 0)
    (2L, Array(0.0f, 1.0f, 0.0f), 1),   // orthogonal
    (3L, Array(-1.0f, 0.0f, 0.0f), 1),  // opposite
    (4L, Array(0.7f, 0.7f, 0.0f), 2)
  ).toDF("vec_id", "embedding", "label")

  test("cosine kernel matches hand computation") {
    val df = vecs.filter(col("vec_id") === 4)
      .withColumn("c", Similarity.cosine(col("embedding"), array(lit(1.0f), lit(0.0f), lit(0.0f))))
    val got = df.select("c").collect().head.getDouble(0)
    val expect = 0.7 / math.sqrt(0.7 * 0.7 + 0.7 * 0.7)
    assert(math.abs(got - expect) < 1e-6)
  }

  test("brute-force top-k ranks by cosine descending") {
    val top = Similarity.bruteForceTopK(vecs, 4).collect().map(_.getLong(0)).toSeq
    assert(top == Seq(1L, 4L, 2L, 3L))
  }

  test("per-label top-k returns k best per label") {
    val out = Similarity.perLabelTopK(vecs, 1).collect()
      .map(r => r.getAs[Int]("label") -> r.getAs[Long]("vec_id")).toMap
    assert(out(0) == 1L && out(1) == 2L && out(2) == 4L)
  }

  test("ivf probes nearest cells only but finds the true neighbor") {
    val top = Similarity.ivfTopK(vecs, 2, nprobe = 2).collect().map(_.getLong(0)).toSeq
    assert(top.head == 1L)
  }

  test("embedding near-dedup drops the higher-id near-identical vector") {
    val dupVecs = Seq(
      (0L, Array(1.0f, 2.0f, 3.0f), 0),
      (1L, Array(1.0f, 2.0f, 3.0f), 0),       // exact dup of 0
      (2L, Array(-5.0f, 1.0f, 0.5f), 1)
    ).toDF("vec_id", "embedding", "label")
    val kept = Similarity.dedupEmbeddings(dupVecs, 0.99)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 2L))
  }

  test("embedding near-dup drops a degenerate hot bucket before pairing") {
    // 150 identical vectors share one sign-LSH bucket (> maxBucket=100):
    // the guard must discard the bucket BEFORE the self-join — no pair
    // from the clique survives (recall sacrificed for survival, the
    // documented contract) — while a small bucket still pairs normally.
    val hot = (0L until 150L).map(i => (i, Array.fill(16)(1.0f)))
    val pairA = Seq((1000L, (Array.fill(15)(-1.0f) :+ 1.0f)),
      (1001L, (Array.fill(15)(-1.0f) :+ 1.0f)))
    val emb = (hot ++ pairA).toDF("vec_id", "embedding")
    val pairs = Similarity.nearDupPairs(emb, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1000L, 1001L)))
    // and with the cutoff raised past the clique, the pairs reappear —
    // the guard, not the verify, removed them
    val all = Similarity.nearDupPairs(emb, threshold = 0.9, maxBucket = 200)
    assert(all.count() == 150L * 149 / 2 + 1)
  }

  test("banded near-dedup finds a one-sign-flip pair the single bucket misses") {
    // vectors 0/1: nearly identical (cosine ≈ 0.996) but dim 3's sign
    // flips — the single 16-bit sign bucket differs, so the unbanded
    // probe NEVER pairs them; band 1 (dims 9-16) is untouched, so the
    // banded probe must catch and drop the higher id. Vector 2 is far
    // from both (negative cosine) and must survive.
    val base = Array.tabulate(16)(i => 1.0f + i * 0.1f)
    val flipped = base.clone(); flipped(2) = -0.05f
    val emb = Seq((0L, base), (1L, flipped),
      (2L, Array.tabulate(16)(i => if (i % 2 == 0) -1.0f else 1.0f)))
      .toDF("vec_id", "embedding")
    // unbanded probe is blind to the pair
    assert(Similarity.nearDupPairs(emb, threshold = 0.2).count() == 0)
    val kept = Similarity.dedupEmbeddingsBandedExact(emb, 1, 5)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 2L))
  }

  test("semantic dedup drops the higher id of a same-cell near-dup pair") {
    // identical vectors share the kmeans cell AND both sign bands, so
    // the semantic path must verify and drop the higher id; vector 2
    // is far from both and survives.
    val base = Array.tabulate(16)(i => (i + 1).toFloat / 16f)
    val emb = Seq((0L, base), (1L, base.clone()),
      (2L, Array.tabulate(16)(i => if (i % 2 == 0) -1.0f else 1.0f)))
      .toDF("vec_id", "embedding")
    val kept = Similarity.dedupSemantic(emb, 1, 5, 5)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 2L))
  }

  test("semantic survivors are a superset of banded survivors (cell " +
      "conjunction is pure blocking precision)") {
    // dedup_semantic's candidate set is dedup_embedding_banded's
    // intersected with same-cell, so with the same verify it drops
    // FEWER ids — on this data, where no hot-bucket guard fires (the
    // finer-keyed semantic guard could otherwise reactivate pairing
    // inside a band bucket the banded guard excluded).
    val emb = io.Tables.embeddings(spark, sf0001)
    val banded = Similarity.dedupEmbeddingsBandedExact(emb, 1, 5)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val semantic = Similarity.dedupSemantic(emb, 1, 5, 5)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(banded.subsetOf(semantic))
    assert(semantic.size <= emb.count())
  }

  test("dbscan roles on a constructed star: center core, leaves border, " +
      "far point noise") {
    // All of v0..v2 share band-1 mask 0 (dims 9-16 non-positive), so
    // every pair is a candidate; verified ε-neighbors (cos ≥ 0.2) are
    // exactly {v0,v1} and {v0,v2} (cos = 1/√8 ≈ 0.354; cos(v1,v2)=0).
    // With minPts=3: v0 has ε-neighborhood {v0,v1,v2} → core, its own
    // singleton-CC cluster 0; v1/v2 are non-core with a core neighbor
    // → border in cluster 0; v3 collides with nothing → noise, -1.
    val z8 = Array.fill(8)(0.0f)
    val emb = Seq(
      (0L, Array.fill(8)(1.0f) ++ z8),
      (1L, (1.0f +: Array.fill(7)(0.0f)) ++ z8),
      (2L, (Array.fill(7)(0.0f) :+ 1.0f) ++ z8),
      (3L, Array.fill(8)(-1.0f) ++ Array.fill(8)(1.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.dbscanBanded(emb, 1, 5, minPts = 3)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(0L) == ("core", 0L), out)
    assert(out(1L) == ("border", 0L), out)
    assert(out(2L) == ("border", 0L), out)
    assert(out(3L) == ("noise", -1L), out)
  }

  test("dbscan on real embeddings: role partition pinned, labels are " +
      "minimum member ids") {
    val emb = io.Tables.embeddings(spark, sf0001)
    val out = Similarity.dbscanBanded(emb, 1, 5, minPts = 3).cache()
    // pinned at sf0.001 (deterministic: integer verify + min-label CC)
    val roles = out.groupBy("role").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(roles == Map("noise" -> 335L, "core" -> 85L, "border" -> 80L), roles)
    assert(out.filter(col("cluster_id") >= 0).select("cluster_id")
      .distinct().count() == 40)
    // every cluster's label IS its minimum CORE member id (borders may
    // sit below it — the min-core-id contract, not min-member)
    val badLabel = out.filter(col("role") === "core")
      .groupBy("cluster_id").agg(min("vec_id").as("lo"))
      .filter(col("cluster_id") =!= col("lo")).count()
    assert(badLabel == 0)
    // noise ⟺ cluster_id = -1
    assert(out.filter((col("role") === "noise") =!= (col("cluster_id") === -1))
      .count() == 0)
    out.unpersist()
  }

  test("hard negatives on a constructed fixture: cross-label only, " +
      "ranked by cosine, tie-broken by id") {
    import spark.implicits._
    // same band geometry as the dbscan star: v0/v1/v2 share band-1
    // mask 0 (dims 9-16 non-positive) so all three pairs are
    // candidates; v3 collides with nothing. cos(v0,v1)=cos(v0,v2)
    // =1/√8 → 353553 µ-cos; cos(v1,v2)=0. Labels: v0,v1 → 0; v2 → 1.
    val z8 = Array.fill(8)(0.0f)
    val emb = Seq(
      (0L, Array.fill(8)(1.0f) ++ z8, 0),
      (1L, (1.0f +: Array.fill(7)(0.0f)) ++ z8, 0),
      (2L, (Array.fill(7)(0.0f) :+ 1.0f) ++ z8, 1),
      (3L, Array.fill(8)(-1.0f) ++ Array.fill(8)(1.0f), 2)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegativesBanded(emb, 3).collect()
      .map(r => (r.getLong(0), r.getLong(2)) ->
        (r.getLong(3), r.getLong(5))).toMap
    // v0 (label 0): v1 is same-label (excluded) → only v2 at 353553
    // v1 (label 0): only v2, at cos 0
    // v2 (label 1): v0 (353553) outranks v1 (0)
    // v3: no candidates → absent
    assert(out == Map(
      (0L, 1L) -> ((2L, 353553L)),
      (1L, 1L) -> ((2L, 0L)),
      (2L, 1L) -> ((0L, 353553L)),
      (2L, 2L) -> ((1L, 0L))), out)
  }

  test("band width is the saturation knob: saturated narrow bands find " +
      "nothing, wider bands restore the pairs") {
    import spark.implicits._
    // 240 8-dim vectors in 8 sign-groups of 30 over dims 1-3 (group g
    // = sign pattern of g's three bits; dims 4-8 all positive), guard
    // at 40. bits=2 → band0 (dims 1-2) has 4 patterns × 60 occupants,
    // band1 (dims 3-4) has 2 patterns × 120 — every bucket over the
    // guard, the probe is blind. bits=4 → band0 (dims 1-4) has 8
    // patterns × 30 ≤ 40 (kept), band1 (dims 5-8) stays one saturated
    // bucket of 240 — candidates = within-group pairs = 8·C(30,2)
    // = 3480. The miniature of the SERIAL.md 100× band-width A/B table.
    val emb = (0 until 240).map { i =>
      val g = i % 8
      val d13 = (0 until 3).map(b => if (((g >> b) & 1) == 1) 1.0f else -1.0f)
      (i.toLong, (d13 ++ Seq.fill(5)(1.0f)).toArray)
    }.toDF("vec_id", "embedding")
    assert(Similarity.bandedCandidateStats(emb, 40, 2).count() == 0L)
    assert(Similarity.bandedCandidateStats(emb, 40, 4).count() == 3480L)
  }

  test("auto band width: the sizing rule keeps occupancy at guard/4 " +
      "and floors at the gate-SF default") {
    // bits = clamp(ceil(log2(n/25)), 8, 24): every corpus up to 6400
    // vectors resolves to the historical 8-bit default (all driver
    // gate SFs: 500/500/2000 — the fixed oracles hold), then widths
    // track density (20k → 10, 200k → 13 — the measured A/B corpora)
    assert(Similarity.autoBandBits(1) == 8)
    assert(Similarity.autoBandBits(500) == 8)
    assert(Similarity.autoBandBits(2000) == 8)
    assert(Similarity.autoBandBits(6400) == 8)
    assert(Similarity.autoBandBits(6401) == 9)
    assert(Similarity.autoBandBits(20000) == 10)
    assert(Similarity.autoBandBits(200000) == 13)
    assert(Similarity.autoBandBits(1L << 40) == 24) // dim-bounded ceiling
  }

  test("resolveWidth: the guard in force sizes the target occupancy " +
      "and the dimensionality clamp bounds the width at minDim/2") {
    // default guard 100 → target 25: the historical rule, unchanged
    assert(Similarity.resolveWidth(2000, 64, 100) == (8, false))
    assert(Similarity.resolveWidth(20000, 64, 100) == (10, false))
    assert(Similarity.resolveWidth(200000, 64, 100) == (13, false))
    // a TIGHTER guard (40 → target 10) must widen the bands — the rule
    // protects the guard actually in force, not a constant 25
    assert(Similarity.resolveWidth(20000, 64, 40) == (11, false))
    assert(Similarity.resolveWidth(2000, 64, 40) == (8, false))
    // short embeddings: two bands must fit inside the SHORTEST vector —
    // past minDim/2 a band slices off the array end, its mask
    // degenerates, the bucket goes hot and the guard drops it
    assert(Similarity.resolveWidth(20000, 16, 100) == (8, true))
    assert(Similarity.resolveWidth(1L << 40, 16, 100) == (8, true))
    assert(Similarity.resolveWidth(200000, 64, 100) == (13, false))
    assert(Similarity.resolveWidth(100, 6, 100) == (3, true))
  }

  test("occupancy report flags the dimensionality clamp on short " +
      "embeddings (d=16 corpus past the 8-bit density point)") {
    import spark.implicits._
    def mix(i: Int, j: Int): Long = {
      var h = i.toLong * 0x9E3779B97F4A7C15L + j.toLong * 0xBF58476D1CE4E5B9L
      h ^= h >>> 30; h *= 0xBF58476D1CE4E5B9L
      h ^= h >>> 27; h *= 0x94D049BB133111EBL
      h ^ (h >>> 31)
    }
    // 6500 16-dim vectors: density wants 9 bits (autoBandBits(6500)=9)
    // but d/2 = 8 caps it — the report must run 8-bit bands AND say so
    val short = (0 until 6500).map { i =>
      (i.toLong, (0 until 16).map(j =>
        if ((mix(i, j) & 1L) == 1L) 1.0f else -1.0f).toArray)
    }.toDF("vec_id", "embedding")
    val rep = Similarity.bandOccupancyReport(short).collect()
    assert(rep.forall(_.getAs[Long]("bits") == 8L))
    assert(rep.forall(_.getAs[Boolean]("width_clamped")))
    // same corpus at d=64 (density 9 fits): unclamped
    val long = (0 until 6500).map { i =>
      (i.toLong, (0 until 64).map(j =>
        if ((mix(i, j) & 1L) == 1L) 1.0f else -1.0f).toArray)
    }.toDF("vec_id", "embedding")
    val rep2 = Similarity.bandOccupancyReport(long).collect()
    assert(rep2.forall(_.getAs[Long]("bits") == 9L))
    assert(rep2.forall(!_.getAs[Boolean]("width_clamped")))
  }

  test("banded entry points resolve the auto width from the corpus " +
      "count: 10k vectors run 9-bit bands, not the saturated 8") {
    import spark.implicits._
    // 10 000 18-dim vectors with hash-derived sign patterns →
    // autoBandBits(10000) = ceil(log2(400)) = 9. The default-width
    // candidate count must equal the explicit-9 run and differ from
    // the explicit-8 run (coarser buckets admit more collisions), so
    // the default demonstrably FOLLOWS density instead of hardcoding 8.
    def mix(i: Int, j: Int): Long = { // splitmix64 — uniform sign bits
      var h = i.toLong * 0x9E3779B97F4A7C15L + j.toLong * 0xBF58476D1CE4E5B9L
      h ^= h >>> 30; h *= 0xBF58476D1CE4E5B9L
      h ^= h >>> 27; h *= 0x94D049BB133111EBL
      h ^ (h >>> 31)
    }
    val emb = (0 until 10000).map { i =>
      val e = (0 until 18).map(j =>
        if ((mix(i, j) & 1L) == 1L) 1.0f else -1.0f).toArray
      (i.toLong, e)
    }.toDF("vec_id", "embedding")
    val auto = Similarity.bandedCandidateStats(emb, 100).count()
    val nine = Similarity.bandedCandidateStats(emb, 100, 9).count()
    val eight = Similarity.bandedCandidateStats(emb, 100, 8).count()
    assert(auto == nine, s"auto=$auto nine=$nine")
    assert(auto != eight, s"auto width did not move off 8 (count $auto)")
  }

  test("batched multi-query top-k equals the single-query scan per query") {
    // the two-phase (query, partition)-cell rank must reproduce the
    // single-query TakeOrderedAndProject result for EVERY query in the
    // batch — partitioning-independence made concrete on real data
    val emb = io.Tables.embeddings(spark, sf0001)
    val batch = Similarity.multiQueryTopK(emb, 2, 5).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq).toMap
    val qids = emb.orderBy("vec_id").limit(2).collect().map(_.getLong(0))
    // single-query reference for the FIRST query id (bruteForceTopK's
    // query is always the lowest vec_id)
    val single = Similarity.bruteForceTopK(emb, 5).collect()
      .map(_.getLong(0)).toSeq
    assert(batch.keySet == qids.toSet, batch.keySet)
    // other batch queries may rank the first query's vector among
    // their neighbors; q0's own list must match the solo scan exactly
    assert(batch(qids(0)) == single,
      s"batch=${batch(qids(0))} single=$single")
    assert(batch.values.forall(_.size == 5))
  }

  test("sim on real embeddings: brute-force and ivf overlap on top hits") {
    val emb = io.Tables.embeddings(spark, sf0001)
    val brute = Similarity.bruteForceTopK(emb, 10).collect().map(_.getLong(0)).toSet
    val ivf = Similarity.ivfTopK(emb, 10, 2).collect().map(_.getLong(0)).toSet
    // IVF is approximate: require non-trivial overlap, not equality
    assert((brute & ivf).nonEmpty)
  }
}
