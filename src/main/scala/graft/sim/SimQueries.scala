package graft.sim

import graft.Q
import graft.io.Tables._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Registered similarity-search queries over `embeddings`.
  *
  * Cosine VALUES can differ from DuckDB's in the last ulps (different
  * accumulators), so no query outputs a raw similarity — they output
  * ids/ranks, whose ORDER is identical across engines for distinct
  * random vectors (ties are measure-zero; thresholds sit ≥ 1e-2 from
  * every actual pair value — verified at all three SFs).
  */
object SimQueries {

  /** The banded family's registered oracles at the gate-SF resolution:
    * every driver-gate corpus (≤ 6400 vectors, d = 64) resolves
    * (8 bits, unclamped) — see [[bandedOracles]]; graft.Verify
    * re-renders these five entries at the verify corpus's actual
    * width. */
  private lazy val gateBandedOracles = bandedOracles(8, clamped = false)

  private val oracleTopBase =
    """WITH q AS (SELECT embedding AS qe, vec_id AS qid
      |           FROM embeddings ORDER BY vec_id LIMIT 1),
      |s AS (SELECT e.vec_id, e.label,
      |        list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
      |                               CAST(q.qe AS DOUBLE[])) AS cs
      |      FROM embeddings e, q WHERE e.vec_id <> q.qid)""".stripMargin

  def queries: Seq[Q] = Seq(
    // brute-force cosine top-10 vs the lowest-id query vector; output is
    // (rank, id, label) — ranks are engine-stable, raw cosines are not.
    Q("sim_topk_brute",
      Some(s"""$oracleTopBase
             |SELECT CAST(row_number() OVER (ORDER BY cs DESC, vec_id) AS BIGINT) AS rank,
             |       vec_id, label
             |FROM s ORDER BY rank LIMIT 10""".stripMargin),
      (s, d) => Similarity.bruteForceTopK(embeddings(s, d), 10)
        .withColumn("rank", row_number()
          .over(Window.orderBy(col("cos_sim").desc, col("vec_id"))).cast("long"))
        .select("rank", "vec_id", "label")
        .orderBy("rank")),

    // id-level top-k without rank (kept as the minimal interop shape).
    Q("sim_topk_ids",
      Some("""WITH q AS (SELECT embedding AS qe, vec_id AS qid
             |           FROM embeddings ORDER BY vec_id LIMIT 1)
             |SELECT e.vec_id, e.label FROM embeddings e, q
             |WHERE e.vec_id <> q.qid
             |ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             |                                CAST(q.qe AS DOUBLE[])) DESC, e.vec_id
             |LIMIT 10""".stripMargin),
      (s, d) => Similarity.bruteForceTopK(embeddings(s, d), 10)
        .select("vec_id", "label")),

    // per-label top-3 (window row_number inside each label).
    Q("sim_topk_per_label",
      Some(s"""$oracleTopBase
             |SELECT vec_id, label, CAST(rn AS BIGINT) AS rn FROM (
             |  SELECT vec_id, label,
             |         row_number() OVER (PARTITION BY label ORDER BY cs DESC, vec_id) AS rn
             |  FROM s) t
             |WHERE rn <= 3 ORDER BY label, rn""".stripMargin),
      (s, d) => Similarity.perLabelTopK(embeddings(s, d), 3)
        .select("vec_id", "label", "rn")
        .orderBy("label", "rn")),

    // batched multi-query top-k — the production serving shape: the 5
    // lowest-id vectors are the query batch, broadcast once, and ONE
    // corpus scan scores all (vector, query) pairs (scan amortized
    // across the batch). Exact per-query top-3 via the two-phase
    // (query, partition)-cell rank — no per-query global sort; the
    // per-cell top-k is a superset of the global top-k under ANY
    // partitioning, so the result is partitioning-independent. Ranks
    // order on distinct cosines (the sim_topk_brute float convention).
    Q("sim_topk_batch",
      Some("""WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
             |           FROM embeddings ORDER BY vec_id LIMIT 5),
             |s AS (SELECT q.q_id, e.vec_id, e.label,
             |        list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe) AS cs
             |      FROM embeddings e, q WHERE e.vec_id <> q.q_id)
             |SELECT q_id, CAST(rn AS BIGINT) AS rank, vec_id, label
             |FROM (SELECT s.*, row_number() OVER (PARTITION BY q_id
             |        ORDER BY cs DESC, vec_id) AS rn FROM s) t
             |WHERE rn <= 3 ORDER BY q_id, rank""".stripMargin),
      (s, d) => Similarity.multiQueryTopK(embeddings(s, d), 5, 3)),

    // range search: every vector within cosine ≥ 0.3 of the query (the
    // radius-query companion to top-k; margins to 0.3 are ≥ 4e-4 at
    // every SF — far beyond cross-engine float noise).
    Q("sim_range_search",
      Some("""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe, vec_id AS qid
             |           FROM embeddings ORDER BY vec_id LIMIT 1)
             |SELECT e.vec_id, e.label FROM embeddings e, q
             |WHERE e.vec_id <> q.qid
             |  AND list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe) >= 0.3
             |ORDER BY e.vec_id""".stripMargin),
      (s, d) => Similarity.rangeSearch(embeddings(s, d), 0.3)
        .select("vec_id", "label").orderBy("vec_id")),

    // IVF: probe the 2 nearest label-centroid cells, scan only those.
    // Oracle-able: the rank-2→rank-3 centroid-similarity gap is ≥ 0.009
    // at every SF — five orders of magnitude above the avg-accumulation
    // noise that makes raw centroid values engine-specific.
    Q("sim_topk_ivf",
      Some("""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe, vec_id AS qid
             |           FROM embeddings ORDER BY vec_id LIMIT 1),
             |pos AS (SELECT label, generate_subscripts(embedding, 1) AS p,
             |               unnest(CAST(embedding AS DOUBLE[])) AS v
             |        FROM embeddings),
             |cent AS (SELECT label, p, avg(v) AS m FROM pos GROUP BY 1, 2),
             |carr AS (SELECT label, list(m ORDER BY p) AS c FROM cent GROUP BY label),
             |cells AS (SELECT label FROM carr, q
             |          ORDER BY list_cosine_similarity(c, qe) DESC, label LIMIT 2)
             |SELECT e.vec_id, e.label FROM embeddings e JOIN cells USING (label), q
             |WHERE e.vec_id <> q.qid
             |ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe) DESC,
             |         e.vec_id
             |LIMIT 10""".stripMargin),
      (s, d) => Similarity.ivfTopK(embeddings(s, d), 10, 2)
        .select("vec_id", "label")),

    // embedding-cosine near-dedup → kept corpus (sign-LSH buckets +
    // in-bucket cosine ≥ 0.2; 0.2 so the drop path actually fires on
    // this corpus — max pair cosine is 0.60, none within 9e-3 of the
    // threshold at any SF).
    // L2 normalization — the embedding-preprocessing op every similarity
    // pipeline runs first. First 4 dims reported as µ-scaled ints; both
    // engines fold the squared sum left-to-right in double, so the
    // pre-round values are bit-identical.
    Q("emb_norm",
      Some("""SELECT vec_id,
             |       CAST(round(emb[1] / nrm * 1e6) AS BIGINT) AS d1,
             |       CAST(round(emb[2] / nrm * 1e6) AS BIGINT) AS d2,
             |       CAST(round(emb[3] / nrm * 1e6) AS BIGINT) AS d3,
             |       CAST(round(emb[4] / nrm * 1e6) AS BIGINT) AS d4
             |FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
             |        sqrt(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
             |             x -> x * x), 'sum')) AS nrm
             |      FROM embeddings) t
             |ORDER BY vec_id""".stripMargin),
      (s, d) => embeddings(s, d)
        // Similarity.norm IS the bit-exactness contract for this fold
        // order — one definition, not an inline copy that could drift
        .withColumn("nrm", Similarity.norm(col("embedding")))
        .select(col("vec_id") +: (1 to 4).map(i =>
          expr(s"CAST(round(CAST(element_at(embedding, $i) AS DOUBLE) / nrm * 1e6) AS BIGINT)")
            .as(s"d$i")): _*)
        .orderBy("vec_id")),

    // the hot-bucket guard (occupancy ≤ 100 before pairing — the
    // engine's degenerate-bucket survival contract) is mirrored in the
    // oracle; it never fires on this data (max occupancy 2 at every SF,
    // checked), so the cutoff is plan armor, not a semantics change.
    Q("dedup_embedding",
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
             |  list_sum(list_transform(range(16),
             |    i -> CASE WHEN embedding[i+1] > 0 THEN 1<<i ELSE 0 END)) AS bucket
             |  FROM embeddings),
             |ok AS (SELECT bucket FROM e GROUP BY bucket HAVING count(*) <= 100),
             |e2 AS (SELECT e.* FROM e JOIN ok USING (bucket)),
             |dup AS (SELECT DISTINCT b.vec_id AS ib
             |        FROM e2 a JOIN e2 b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
             |        WHERE list_cosine_similarity(a.emb, b.emb) >= 0.2)
             |SELECT vec_id FROM embeddings
             |WHERE vec_id NOT IN (SELECT ib FROM dup) ORDER BY vec_id""".stripMargin),
      (s, d) => Similarity.dedupEmbeddings(embeddings(s, d), 0.2)
        .select("vec_id").orderBy("vec_id")),

    // BANDED sign-LSH near-dedup, exact-integer verify — the
    // multi-probe recall upgrade over dedup_embedding's single 16-bit
    // bucket (one flipped sign kills the single probe; two 8-bit
    // bands still collide on the untouched half), and the threshold
    // compare is ENGINE-EXACT: embeddings quantize to a 1e-6 grid
    // (round-half-away identical in both engines) and cos ≥ 1/5 is
    // decided as dot ≥ 0 ∧ 25·dot² ≥ |a|²·|b|² in 128-bit integers —
    // no float margin analysis needed (the banded candidate set has
    // pairs within 2e-5 of the threshold, where raw-cosine comparison
    // would be a cross-engine coin flip). Same per-band hot-bucket
    // guard (never fires on this data).
    Q("dedup_embedding_banded",
      Some(gateBandedOracles("dedup_embedding_banded")),
      (s, d) => Similarity.dedupEmbeddingsBandedExact(embeddings(s, d), 1, 5)
        .select("vec_id").orderBy("vec_id")),

    // SemDeDup-style semantic dedup (arXiv:2303.09540): the exact-
    // integer kmeans coarse quantizer (ONE spelling, shared with
    // cluster_kmeans / sim_topk_ivf_kmeans / sim_topk_ivfpq) blocks
    // candidates by semantic cell; within a cell the two 8-bit sign
    // bands sub-block the pairing (SemDeDup's own work bound is the
    // cell size — the paper scales k with the corpus; the band
    // sub-block keeps fixed-k cells off the O(cell²) cliff); the
    // same 128-bit-integer cos ≥ 1/5 verify decides each pair. The
    // cell conjunction is the IVF routing win applied to dedup:
    // band collisions across semantic cells never become candidates.
    Q("dedup_semantic",
      Some(gateBandedOracles("dedup_semantic")),
      (s, d) => Similarity.dedupSemantic(embeddings(s, d), 1, 5, 5)
        .select("vec_id").orderBy("vec_id")),

    // exact-arithmetic k-means (2 Lloyd iterations, k=5, seeded from
    // the 5 lowest vec_ids): coordinates quantized to a 1e-7 integer
    // grid → every distance and centroid mean is exact BIGINT math,
    // bit-identical across engines and partitionings (graft.sim
    // .Clustering). The oracle spells the same integer algorithm
    // relationally (dims exploded); integer arithmetic is
    // formulation-independent, so array-form and relational-form agree
    // exactly.
    Q("cluster_kmeans",
      Some(s"""WITH $kmeansCte
              |SELECT vec_id, j AS cluster, d2 AS dist2
              |FROM a2 WHERE rn = 1 ORDER BY vec_id""".stripMargin),
      (s, d) => Clustering.kmeans(embeddings(s, d), k = 5)),

    // DBSCAN over the banded-LSH ε-graph (Ester et al. 1996; the
    // neighborhood relation is the SAME verified pair set
    // dedup_embedding_banded reads — bandedVerifiedPairs, band-blocked
    // + 128-bit-integer cos ≥ 1/5 verify, so the whole clustering is
    // engine-exact). minPts=3: core ⟺ ε-neighborhood (self included)
    // ≥ 3; cores cluster by connected components over core–core edges
    // (min-core-id label); borders take the min-labeled core
    // neighbor's cluster (the order-free spelling of textbook
    // DBSCAN's scan-order-dependent border rule); noise = -1. Oracle:
    // identical band/verify CTEs + transitive-closure reachability
    // for the CC (the dedup_clusters recursive-CTE pattern). All
    // three roles non-empty at every SF (335/85/80 n/c/b at
    // sf0.001, 214/1444/342 at sf0.1 — checked).
    Q("cluster_dbscan",
      Some(gateBandedOracles("cluster_dbscan")),
      (s, d) => Similarity.dbscanBanded(embeddings(s, d), 1, 5, 3)
        .orderBy("vec_id")),

    // Hard-negative mining (DPR, Karpukhin et al. 2020 / SimCSE): per
    // anchor, the 3 most-similar DIFFERENT-label vectors among its
    // banded sign-LSH candidates — the contrastive-training pair
    // generator. Shares bandedCandidateStats with the dedup/dbscan
    // family; similarity is the µ-rounded cosine over exact integer
    // dot/norms (both engines compute the identical IEEE chain), ties
    // break on neg_id. Oracle mirrors the bands + the rank window.
    Q("sim_hard_negatives",
      Some(gateBandedOracles("sim_hard_negatives")),
      (s, d) => Similarity.hardNegativesBanded(embeddings(s, d), 3)
        .orderBy("vec_id", "rn")),

    // IVF-Flat with kmeans-trained cells (the structure FAISS ships):
    // cell choice = exact-integer distance to the trained centroids
    // (deterministic), in-cell ranking = brute cosine over only the
    // probed cells. Completes the ANN ladder: brute → label-IVF →
    // kmeans-IVF.
    Q("sim_topk_ivf_kmeans",
      Some(s"""WITH $kmeansCte,
              |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe, vec_id AS qid
              |      FROM embeddings ORDER BY vec_id LIMIT 1),
              |qd AS (SELECT i, v FROM dims
              |       WHERE vec_id = (SELECT min(vec_id) FROM embeddings)),
              |probe AS (
              |  SELECT c.j FROM cent2 c JOIN qd ON c.i = qd.i
              |  GROUP BY c.j
              |  ORDER BY sum((qd.v - c.cv) * (qd.v - c.cv)), c.j LIMIT 2),
              |cand AS (SELECT vec_id FROM a2
              |         WHERE rn = 1 AND j IN (SELECT j FROM probe))
              |SELECT e.vec_id, e.label
              |FROM embeddings e JOIN cand USING (vec_id), q
              |WHERE e.vec_id <> q.qid
              |ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe) DESC,
              |         e.vec_id
              |LIMIT 10""".stripMargin),
      (s, d) => Similarity.ivfKmeansTopK(embeddings(s, d), 10, 5, 2)
        .select("vec_id", "label")),

    // signed-random-projection LSH: 16 pseudo-random hyperplanes (±1
    // components from md5-nibble parity of "plane_dim" — deterministic
    // and engine-portable), each vector hashed to the 16-bit sign
    // pattern of its projections. Same-bucket vectors are cosine-ANN
    // candidates; n_in_bucket sizes the probe cost. Integer-exact end
    // to end: dims quantize to round(x·1000) BIGINTs before the dot
    // products, so no float accumulation crosses the hash gate.
    // Scale shape: one explode to dims×16 contributions feeding a
    // partial+final sum keyed (vec, plane) — no joins; the plane
    // "matrix" is synthesized in-expression, never materialized.
    Q("sim_srp_buckets",
      Some("""WITH dims AS (
             |  SELECT vec_id,
             |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS q,
             |         unnest(range(len(embedding))) AS d
             |  FROM embeddings
             |), contrib AS (
             |  SELECT vec_id, p,
             |         q * (CASE WHEN (instr('0123456789abcdef',
             |                substr(md5(CAST(p AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 1)) - 1) % 2 = 1
             |              THEN 1 ELSE -1 END) AS c
             |  FROM dims, range(16) r(p)
             |), bits AS (
             |  SELECT vec_id, p, CASE WHEN sum(c) > 0 THEN 1 ELSE 0 END AS bit
             |  FROM contrib GROUP BY vec_id, p
             |), sig AS (
             |  SELECT vec_id, CAST(sum(bit * CAST(pow(2, p) AS BIGINT)) AS BIGINT) AS srp_sig
             |  FROM bits GROUP BY vec_id
             |)
             |SELECT vec_id, srp_sig,
             |       CAST(count(*) OVER (PARTITION BY srp_sig) AS BIGINT) AS n_in_bucket
             |FROM sig ORDER BY vec_id""".stripMargin),
      (s, d) => {
        val dims = embeddings(s, d)
          .select(col("vec_id"), posexplode(col("embedding")))
          .select(col("vec_id"), col("pos").as("d"),
            expr("CAST(round(CAST(col AS DOUBLE) * 1000) AS BIGINT)").as("q"))
        val contrib = dims
          .select(col("vec_id"), col("q"), col("d"),
            explode(sequence(lit(0), lit(15))).as("p"))
          .select(col("vec_id"), col("p"),
            expr("""q * (CASE WHEN (instr('0123456789abcdef',
                   |       substring(md5(concat(CAST(p AS STRING), '_',
                   |                            CAST(d AS STRING))), 1, 1)) - 1) % 2 = 1
                   |     THEN 1 ELSE -1 END)""".stripMargin).as("c"))
        val bits = contrib.groupBy("vec_id", "p")
          .agg(expr("CASE WHEN sum(c) > 0 THEN 1 ELSE 0 END").as("bit"))
        bits.groupBy("vec_id")
          .agg(expr("CAST(sum(bit * CAST(pow(2, p) AS BIGINT)) AS BIGINT)")
            .as("srp_sig"))
          .withColumn("n_in_bucket",
            count(lit(1)).over(Window.partitionBy("srp_sig")).cast("long"))
          .orderBy("vec_id")
      }),

    // ANN recall measurement: |IVF top-k ∩ brute-force top-k| / k —
    // the quality metric every approximate index ships with, here
    // computed exactly because both id lists are engine-deterministic
    // (ranks order on distinct cosines, measure-zero ties). One row:
    // k, overlap, recall µ-int. The brute list is the gold standard
    // scan; the IVF list probes 2 of the label cells.
    Q("sim_recall_report",
      Some("""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe, vec_id AS qid
             |           FROM embeddings ORDER BY vec_id LIMIT 1),
             |brute AS (SELECT e.vec_id FROM embeddings e, q
             |          WHERE e.vec_id <> q.qid
             |          ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe)
             |                   DESC, e.vec_id
             |          LIMIT 10),
             |pos AS (SELECT label, generate_subscripts(embedding, 1) AS p,
             |               unnest(CAST(embedding AS DOUBLE[])) AS v
             |        FROM embeddings),
             |cent AS (SELECT label, p, avg(v) AS m FROM pos GROUP BY 1, 2),
             |carr AS (SELECT label, list(m ORDER BY p) AS c FROM cent GROUP BY label),
             |cells AS (SELECT label FROM carr, q
             |          ORDER BY list_cosine_similarity(c, qe) DESC, label LIMIT 2),
             |ivf AS (SELECT e.vec_id FROM embeddings e JOIN cells USING (label), q
             |        WHERE e.vec_id <> q.qid
             |        ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe)
             |                 DESC, e.vec_id
             |        LIMIT 10)
             |SELECT CAST(10 AS BIGINT) AS k,
             |       CAST((SELECT count(*) FROM brute JOIN ivf USING (vec_id)) AS BIGINT)
             |         AS n_common,
             |       CAST((SELECT count(*) FROM brute JOIN ivf USING (vec_id)) * 100000
             |            AS BIGINT) AS recall_e6""".stripMargin),
      (s, d) => {
        val brute = Similarity.bruteForceTopK(embeddings(s, d), 10)
          .select("vec_id")
        val ivf = Similarity.ivfTopK(embeddings(s, d), 10, 2)
          .select("vec_id")
        brute.join(ivf, "vec_id")
          .agg(count(lit(1)).cast("long").as("n_common"))
          .select(lit(10L).as("k"), col("n_common"),
            (col("n_common") * 100000).cast("long").as("recall_e6"))
      }),

    // candidate recall of the embedding LSH probes against the EXACT
    // threshold-pair set (the same 128-bit integer cos ≥ 1/5 verify as
    // dedup_embedding_banded, so the gold standard is engine-exact and
    // the report hash-matches instead of being a float estimate):
    // single 16-bit sign bucket vs two 8-bit bands. Quantifies what
    // the banded multi-probe buys — the measurement dedup_lsh_recall /
    // sim_recall_report provide for the text-LSH and IVF families. The
    // gold standard is inherently all-pairs O(n²·d), so the WHOLE
    // measurement runs on a bounded deterministic sample — the 2000
    // lowest vec_ids, a no-op at the driver-gate SFs (≤500 vectors)
    // and a corpus-size-independent constant beyond (uncapped, the
    // exact side alone measured ~470 s at a 50k-vector corpus); the
    // dedup paths being measured stay bucket-joined over the full
    // corpus. The absolute
    // recalls are LOW here (~0.01%/2.5% single/banded) because the
    // corpus's demo threshold 0.2 is loose — random-ish pairs at
    // cos≈0.2 share few sign bits; at a production near-dup threshold
    // (≥0.95) sign-LSH recall approaches 1. The measurement's point is
    // the ~170× banded-over-single ratio, which is threshold-robust.
    // product-quantization ADC top-k — the memory-compression half of
    // FAISS's IVF-PQ, closing the ANN ladder (graft.sim.Pq). Exact
    // integer end-to-end (grid quantize → integer Lloyd → integer ADC
    // sums), so unlike the cosine queries the DISTANCE ITSELF is
    // reported and hash-checked, not just the ranks.
    Q("sim_topk_pq",
      Some(s"""WITH $pqCte,
              |cand AS (SELECT vec_id FROM embeddings),
              |$pqAdcTail""".stripMargin),
      (s, d) => Pq.topK(embeddings(s, d), 10)),

    // IVF-PQ — the two structures composed exactly as FAISS ships
    // them: the kmeans coarse quantizer (same exact-integer training
    // as cluster_kmeans, same probe spelling as sim_topk_ivf_kmeans)
    // routes the query to its 2 nearest cells, and the ADC scan runs
    // only over the probed cells' code rows. The 100 TB operating
    // point of the ANN ladder: |corpus|·nprobe/kCells code lookups,
    // no raw vectors touched after encode.
    Q("sim_topk_ivfpq",
      Some(s"""WITH $pqCte,
              |$kmeansCtePrefixed,
              |qcell AS (SELECT c.j,
              |            CAST(sum((qv.v - c.cv) * (qv.v - c.cv)) AS BIGINT) AS kd2
              |          FROM km_cent2 c JOIN km_dims qv ON c.i = qv.i
              |          WHERE qv.vec_id = (SELECT min(vec_id) FROM embeddings)
              |          GROUP BY 1),
              |probe AS (SELECT j FROM qcell ORDER BY kd2, j LIMIT 2),
              |cand AS (SELECT vec_id FROM km_a2
              |         WHERE rn = 1 AND j IN (SELECT j FROM probe)),
              |$pqAdcTail""".stripMargin),
      (s, d) => Pq.topKIvfPq(embeddings(s, d), 10, 5, 2)),

    // per-subspace PQ quantization distortion — the quality companion
    // every PQ index ships with (sim_recall_report's counterpart for
    // the compressed path). Exact: the corpus-scaling distortion sum is
    // decimal-widened before accumulating, the mean is a truncating
    // integer division in both engines.
    Q("sim_pq_distortion",
      Some(s"""WITH $pqCte
              |SELECT sub, CAST(count(*) AS BIGINT) AS n,
              |       CAST((sum(d2) - sum(d2) % count(*)) // count(*) AS BIGINT)
              |         AS avg_d2
              |FROM codes GROUP BY sub ORDER BY sub""".stripMargin),
      (s, d) => Pq.distortion(embeddings(s, d))),

    // PQ recall@k against the exact SAME-METRIC gold standard (squared
    // L2 on the 1e-7 integer grid over the uncompressed vectors) — the
    // ranking-quality number a FAISS user reads next to a PQ index;
    // sim_pq_distortion gives the distance-space error, this the rank
    // error. Both id lists are integer-exact with vec_id ties, so the
    // report hash-matches. The ADC side reuses the ONE pqCte/pqAdcCtes
    // spelling (and the session-memoized codebook on the Spark side).
    Q("sim_recall_pq",
      Some(pqRecallOracle(PqRecallK)),
      (s, d) => Pq.recallReport(embeddings(s, d), PqRecallK)),

    Q("emb_band_recall",
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
             |          FROM embeddings ORDER BY vec_id LIMIT 2000),
             |q AS (SELECT vec_id,
             |        list_transform(emb, x -> CAST(round(x * 1e6) AS BIGINT)) AS qe
             |      FROM e),
             |t0 AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
             |         list_sum(list_transform(range(len(a.qe)),
             |           i -> a.qe[i+1] * b.qe[i+1])) AS dot,
             |         list_sum(list_transform(a.qe, x -> x * x)) AS na,
             |         list_sum(list_transform(b.qe, x -> x * x)) AS nb
             |       FROM q a JOIN q b ON a.vec_id < b.vec_id),
             |t AS (SELECT ia, ib FROM t0
             |      WHERE na > 0 AND nb > 0 AND dot >= 0
             |        AND CAST(dot AS HUGEINT) * dot * 25 >=
             |            CAST(na AS HUGEINT) * nb),
             |s AS (SELECT vec_id,
             |        list_sum(list_transform(range(16),
             |          i -> CASE WHEN emb[i+1] > 0 THEN 1<<i ELSE 0 END)) AS bucket
             |      FROM e),
             |ok1 AS (SELECT bucket FROM s GROUP BY bucket
             |        HAVING count(*) <= 100),
             |s2 AS (SELECT s.* FROM s JOIN ok1 USING (bucket)),
             |c1 AS (SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
             |       FROM s2 a JOIN s2 b ON a.bucket = b.bucket
             |                          AND a.vec_id < b.vec_id),
             |k AS (SELECT e.vec_id, b AS band,
             |        list_sum(list_transform(range(8),
             |          i -> CASE WHEN emb[b*8+i+1] > 0 THEN 1<<i ELSE 0 END)) AS mask
             |      FROM e, LATERAL unnest([0, 1]) AS u(b)),
             |ok2 AS (SELECT band, mask FROM k GROUP BY band, mask
             |        HAVING count(*) <= 100),
             |k2 AS (SELECT k.* FROM k JOIN ok2 USING (band, mask)),
             |c2 AS (SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
             |       FROM k2 a JOIN k2 b ON a.band = b.band AND a.mask = b.mask
             |                          AND a.vec_id < b.vec_id)
             |SELECT CAST((SELECT count(*) FROM t) AS BIGINT) AS n_true,
             |       CAST((SELECT count(*) FROM t JOIN c1 USING (ia, ib)) AS BIGINT)
             |         AS n_single,
             |       CAST((SELECT count(*) FROM t JOIN c2 USING (ia, ib)) AS BIGINT)
             |         AS n_banded,
             |       CAST((SELECT count(*) FROM t JOIN c1 USING (ia, ib)) * 1000000
             |            // greatest((SELECT count(*) FROM t), 1) AS BIGINT)
             |         AS recall_single_e6,
             |       CAST((SELECT count(*) FROM t JOIN c2 USING (ia, ib)) * 1000000
             |            // greatest((SELECT count(*) FROM t), 1) AS BIGINT)
             |         AS recall_banded_e6""".stripMargin),
      (s, d) => Similarity.bandRecallReport(embeddings(s, d), 1, 5)),

    // density health of the banded sign-LSH family as a queryable
    // artifact (the band-width A/B saturation diagnostic of SERIAL.md,
    // registered):
    // per band — the RESOLVED auto width (corpus-count-derived, so
    // this row documents what dedup_embedding_banded/cluster_dbscan/
    // sim_hard_negatives actually ran), bucket count, max occupancy,
    // buckets under the ≤100 hot-bucket guard, postings kept vs
    // total. kept ≪ total is the saturation failure mode the auto
    // width exists to prevent. At every gate SF (≤2000 vectors) the
    // auto width resolves to the 8-bit floor, which the oracle spells
    // literally. Exact integers end-to-end; one explode + two count
    // aggregations — no pairing.
    Q("emb_band_occupancy",
      Some(gateBandedOracles("emb_band_occupancy")),
      (s, d) => Similarity.bandOccupancyReport(embeddings(s, d)))
  )

  /** Width-parameterized DuckDB oracles for the banded sign-LSH family
    * — ONE spelling of each banded query's SQL, rendered at a given
    * band width, so the oracle can follow [[Similarity.resolveWidth]]
    * instead of hardcoding the 8-bit gate-SF floor. The registered
    * `queries` entries render at (8, unclamped) — exactly what every
    * driver-gate corpus (≤ 6400 vectors, d = 64) resolves, so the
    * static contract map is unchanged — and graft.Verify OVERRIDES
    * those five entries with the width resolved from the verify
    * corpus's actual (count, minDim) ([[resolvedBandedOracles]]): on a
    * grown corpus the DuckDB check exercises the band construction the
    * engine actually ran (10 bits at the 10× replica, 13 at 100×),
    * closing the gap where the auto-width regime was measured but
    * never cross-engine hash-verified. */
  private[graft] def bandedOracles(bits: Int, clamped: Boolean)
      : Map[String, String] = Map(
    "dedup_embedding_banded" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
         |          FROM embeddings),
         |${BandedSql.quantizeCte},
         |${BandedSql.bandKeysCte(bits)},
         |${BandedSql.guardCtes},
         |p AS (SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
         |      FROM k2 a JOIN k2 b ON a.band = b.band AND a.mask = b.mask
         |                         AND a.vec_id < b.vec_id),
         |${BandedSql.pairStatsCte("d", "p", "ia", "ib")},
         |dup AS (SELECT DISTINCT ib FROM d
         |        WHERE ${BandedSql.verifyQuarterPredicate})
         |SELECT vec_id FROM embeddings
         |WHERE vec_id NOT IN (SELECT ib FROM dup) ORDER BY vec_id""".stripMargin,

    "dedup_semantic" ->
      s"""WITH $kmeansCtePrefixed,
         |asg AS (SELECT vec_id, j AS cluster FROM km_a2 WHERE rn = 1),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
         |      FROM embeddings),
         |${BandedSql.quantizeCte},
         |k AS (SELECT e.vec_id, a.cluster, b AS band,
         |        list_sum(list_transform(range($bits),
         |          i -> CASE WHEN emb[b*$bits+i+1] > 0 THEN 1<<i ELSE 0 END)) AS mask
         |      FROM e JOIN asg a USING (vec_id),
         |           LATERAL unnest([0, 1]) AS u(b)),
         |ok AS (SELECT cluster, band, mask FROM k GROUP BY 1, 2, 3
         |       HAVING count(*) <= 100),
         |kk AS (SELECT k.* FROM k JOIN ok USING (cluster, band, mask)),
         |p AS (SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
         |      FROM kk a JOIN kk b ON a.cluster = b.cluster
         |                         AND a.band = b.band AND a.mask = b.mask
         |                         AND a.vec_id < b.vec_id),
         |${BandedSql.pairStatsCte("pd", "p", "ia", "ib")},
         |dup AS (SELECT DISTINCT ib FROM pd
         |        WHERE ${BandedSql.verifyQuarterPredicate})
         |SELECT vec_id FROM embeddings
         |WHERE vec_id NOT IN (SELECT ib FROM dup) ORDER BY vec_id""".stripMargin,

    "cluster_dbscan" ->
      s"""WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
         |          FROM embeddings),
         |${BandedSql.quantizeCte},
         |${BandedSql.bandKeysCte(bits)},
         |${BandedSql.guardCtes},
         |p AS (SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
         |      FROM k2 a JOIN k2 b ON a.band = b.band AND a.mask = b.mask
         |                         AND a.vec_id < b.vec_id),
         |${BandedSql.pairStatsCte("pd", "p", "ia", "ib")},
         |vp AS (SELECT ia, ib FROM pd
         |       WHERE ${BandedSql.verifyQuarterPredicate}),
         |nbrs AS (SELECT ia AS id, ib AS nb FROM vp
         |         UNION ALL SELECT ib, ia FROM vp),
         |deg AS (SELECT id, count(*) AS deg FROM nbrs GROUP BY id),
         |core AS (SELECT id FROM deg WHERE deg + 1 >= 3),
         |ce AS (SELECT v.ia AS a, v.ib AS b FROM vp v
         |       JOIN core ca ON ca.id = v.ia JOIN core cb ON cb.id = v.ib),
         |edges AS (SELECT a, b FROM ce UNION SELECT b, a FROM ce),
         |reach AS (SELECT a AS s, b AS t FROM edges
         |          UNION SELECT r.s, e2.b FROM reach r
         |                JOIN edges e2 ON r.t = e2.a),
         |cl AS (SELECT s AS id, least(s, min(t)) AS cluster_id
         |       FROM reach GROUP BY s),
         |corelab AS (SELECT c.id, coalesce(cl.cluster_id, c.id) AS cluster_id
         |            FROM core c LEFT JOIN cl ON cl.id = c.id),
         |border AS (SELECT n.id, min(corelab.cluster_id) AS cluster_id
         |           FROM nbrs n JOIN corelab ON corelab.id = n.nb
         |           WHERE n.id NOT IN (SELECT id FROM core)
         |           GROUP BY n.id)
         |SELECT em.vec_id,
         |       CASE WHEN corelab.id IS NOT NULL THEN 'core'
         |            WHEN border.id IS NOT NULL THEN 'border'
         |            ELSE 'noise' END AS role,
         |       CAST(coalesce(corelab.cluster_id, border.cluster_id, -1)
         |            AS BIGINT) AS cluster_id
         |FROM embeddings em
         |LEFT JOIN corelab ON corelab.id = em.vec_id
         |LEFT JOIN border ON border.id = em.vec_id
         |ORDER BY em.vec_id""".stripMargin,

    "sim_hard_negatives" ->
      s"""WITH e AS (SELECT vec_id, label,
         |            CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |${BandedSql.quantizeCte},
         |${BandedSql.bandKeysCte(bits)},
         |${BandedSql.guardCtes},
         |p AS (SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
         |      FROM k2 a JOIN k2 b ON a.band = b.band AND a.mask = b.mask
         |                         AND a.vec_id < b.vec_id),
         |${BandedSql.pairStatsCte("pd", "p", "ia", "ib")},
         |c AS (SELECT ia, ib,
         |        CAST(round(CAST(dot AS DOUBLE)
         |             / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
         |             * 1e6) AS BIGINT) AS cos_e6
         |      FROM pd WHERE na > 0 AND nb > 0),
         |sym AS (SELECT ia AS anchor, ib AS neg_id, cos_e6 FROM c
         |        UNION ALL SELECT ib, ia, cos_e6 FROM c),
         |x AS (SELECT sym.anchor, la.label AS anchor_label,
         |        sym.neg_id, lb.label AS neg_label, sym.cos_e6
         |      FROM sym JOIN e la ON la.vec_id = sym.anchor
         |               JOIN e lb ON lb.vec_id = sym.neg_id
         |      WHERE la.label <> lb.label)
         |SELECT anchor AS vec_id, anchor_label,
         |       CAST(rn AS BIGINT) AS rn, neg_id, neg_label, cos_e6
         |FROM (SELECT x.*, row_number() OVER (PARTITION BY anchor
         |        ORDER BY cos_e6 DESC, neg_id) AS rn FROM x) t
         |WHERE rn <= 3 ORDER BY vec_id, rn""".stripMargin,

    "emb_band_occupancy" ->
      s"""WITH k AS (SELECT CAST(b AS BIGINT) AS band,
         |        list_sum(list_transform(range($bits),
         |          i -> CASE WHEN embedding[b*$bits+i+1] > 0 THEN 1<<i ELSE 0 END)) AS mask
         |      FROM embeddings, LATERAL unnest([0, 1]) AS u(b)),
         |occ AS (SELECT band, mask, count(*) AS n FROM k GROUP BY 1, 2)
         |SELECT band, CAST($bits AS BIGINT) AS bits,
         |       ${if (clamped) "TRUE" else "FALSE"} AS width_clamped,
         |       CAST(count(*) AS BIGINT) AS n_buckets,
         |       CAST(max(n) AS BIGINT) AS max_occ,
         |       CAST(sum(CASE WHEN n <= 100 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_under_guard,
         |       CAST(sum(CASE WHEN n <= 100 THEN n ELSE 0 END) AS BIGINT)
         |         AS postings_kept,
         |       CAST(sum(n) AS BIGINT) AS postings_total
         |FROM occ GROUP BY band ORDER BY band""".stripMargin)

  /** The banded oracle entries re-rendered at the width the engine
    * actually resolves for `sfDir`'s embeddings corpus — the Verify
    * override. Uses the SAME memoized corpus-stats job and the SAME
    * [[Similarity.resolveWidth]] rule as the registered queries (guard
    * 100 — the only guard any registered banded query runs), so the
    * oracle construction and the engine construction cannot drift. */
  def resolvedBandedOracles(s: org.apache.spark.sql.SparkSession,
      sfDir: String): Map[String, String] = {
    val (n, minDim) = Similarity.corpusStats(embeddings(s, sfDir))
    val (bits, clamped) = Similarity.resolveWidth(n, minDim, maxBucket = 100)
    // the persisted-index pair resolves from the BASE subset it
    // indexes (vec_id % 5 ≠ 0) — the width frozen in the staged
    // manifest — which can differ from the full-corpus width near a
    // power-of-two boundary
    val (nb, dimB) = Similarity.corpusStats(
      embeddings(s, sfDir).filter(col("vec_id") % 5 =!= 0))
    val (idxBits, _) = Similarity.resolveWidth(nb, dimB, maxBucket = 100)
    // the repair artifact indexes the % 4 ∈ {0,1} half — its manifest
    // width resolves from THAT count
    val (nr, dimR) = Similarity.corpusStats(
      embeddings(s, sfDir).filter(col("vec_id") % 4 <= 1))
    val (repBits, _) = Similarity.resolveWidth(nr, dimR, maxBucket = 100)
    // the append cycle runs at the DAY-0 manifest width — resolved
    // from the % 3 = 0 third (one width per generation)
    val (na, dimA) = Similarity.corpusStats(
      embeddings(s, sfDir).filter(col("vec_id") % 3 === 0))
    val (appBits, _) = Similarity.resolveWidth(na, dimA, maxBucket = 100)
    // the compaction artifact's day-0 base is the % 8 = 0 eighth
    val (nc, dimC) = Similarity.corpusStats(
      embeddings(s, sfDir).filter(col("vec_id") % 8 === 0))
    val (cmpBits, _) = Similarity.resolveWidth(nc, dimC, maxBucket = 100)
    // the streaming ingest fold runs at ITS day-0 manifest width —
    // resolved from the % 4 = 0 quarter
    val (ni, dimI) = Similarity.corpusStats(
      embeddings(s, sfDir).filter(col("vec_id") % 4 === 0))
    val (ingBits, _) = Similarity.resolveWidth(ni, dimI, maxBucket = 100)
    // the rebuild lifecycle's REBUILT width resolves from the FULL
    // corpus count under the scenario's tight maxBucket = 4 guard
    // (target occupancy 1) — the width the staged
    // rebuildIfDegraded publishes
    val (rebBits, _) = Similarity.resolveWidth(n, minDim, maxBucket = 4)
    // the maintenance pass's rebuild step resolves from the SURVIVOR
    // count (% 10 ≠ 1 — the erased members left the live view before
    // the trigger ran) under the same tight guard
    val (nm, dimM) = Similarity.corpusStats(
      embeddings(s, sfDir).filter(col("vec_id") % 10 =!= 1))
    val (mntBits, _) = Similarity.resolveWidth(nm, dimM, maxBucket = 4)
    bandedOracles(bits, clamped) ++
      EmbIndexQueries.indexOracles(idxBits) ++
      EmbIndexQueries.repairOracles(repBits) ++
      EmbIndexQueries.appendOracles(appBits) ++
      EmbIndexQueries.ingestOracles(ingBits) ++
      EmbIndexQueries.compactOracles(cmpBits) ++
      // the erase artifact indexes the SAME % 5 ≠ 0 base as
      // emb_index_build (erasure never re-resolves the frozen width)
      EmbIndexQueries.eraseOracles(idxBits) ++
      EmbIndexQueries.rebuildOracles(rebBits) ++
      EmbIndexQueries.maintainOracles(mntBits) ++
      // the fleet health report's emb geometry column rides the same
      // corpus-resolved width as the rest of the % 5 ≠ 0 base family
      Map("obs_index_health" ->
        graft.io.HealthQueries.healthOracle(idxBits))
  }

  /** The exact-integer PQ pipeline as DuckDB CTEs — the ONE
    * [[PqSql.pipelineCtes]] spelling rendered at the whole-corpus
    * populations (train = encode = every vector), shared by
    * sim_topk_pq / sim_pq_distortion / sim_recall_pq; the persisted
    * PQ index queries render the same builder at subset populations
    * ([[PqIndexQueries]]). */
  private val pqCte = PqSql.pipelineCtes("TRUE", "TRUE")

  /** One recall@k value, shared by the engine call and the rendered
    * oracle so the two cannot desync on k or on the e6 multiplier
    * (which must divide exactly — Pq.recallReport require()s it). */
  private[sim] val PqRecallK = 10

  /** The sim_recall_pq oracle, parameterized on k: both the LIMIT and
    * the fixed-point multiplier are rendered from the ONE k, with the
    * same divisibility guard as the engine side. */
  private def pqRecallOracle(k: Int): String = {
    require(1000000 % k == 0, s"recall@k requires k | 1e6, got $k")
    val mult = 1000000 / k
    s"""WITH $pqCte,
       |cand AS (SELECT vec_id FROM embeddings),
       |$pqAdcCtes,
       |gold AS (SELECT d.vec_id, sum((d.v - qv.v) * (d.v - qv.v)) AS gd2
       |         FROM d JOIN (SELECT i, v FROM d
       |                      WHERE vec_id = (SELECT min(vec_id) FROM embeddings)) qv
       |                ON d.i = qv.i
       |         WHERE d.vec_id <> (SELECT min(vec_id) FROM embeddings)
       |         GROUP BY 1),
       |gtop AS (SELECT vec_id FROM gold ORDER BY gd2, vec_id LIMIT $k),
       |pqtop AS (SELECT vec_id FROM adc ORDER BY approx_d2, vec_id LIMIT $k)
       |SELECT CAST($k AS BIGINT) AS k,
       |       CAST((SELECT count(*) FROM gtop JOIN pqtop USING (vec_id))
       |            AS BIGINT) AS n_common,
       |       CAST((SELECT count(*) FROM gtop JOIN pqtop USING (vec_id))
       |            * $mult AS BIGINT) AS recall_e6""".stripMargin
  }

  /** The ADC CTEs shared by sim_topk_pq / sim_topk_ivfpq /
    * sim_recall_pq — ONE spelling of the distance table + lookup-sum,
    * so every consumer can only differ in the `cand` candidate CTE it
    * prepends (all vectors / probed cells' members) and in what it
    * SELECTs off `adc` (ranked rows vs the recall intersection). */
  private val pqAdcCtes = PqSql.adcCtes("TRUE")

  /** The top-10 tail sim_topk_pq and sim_topk_ivfpq append to
    * [[pqAdcCtes]]. */
  private val pqAdcTail =
    s"""$pqAdcCtes
             |SELECT CAST(row_number() OVER (ORDER BY approx_d2, vec_id) AS BIGINT)
             |         AS rank,
             |       a.vec_id, e.label, a.approx_d2
             |FROM adc a JOIN embeddings e USING (vec_id)
             |ORDER BY rank LIMIT 10""".stripMargin

  /** [[kmeansCte]] with every CTE name km_-prefixed, so the coarse
    * quantizer composes with [[pqCte]] inside ONE WITH clause
    * (sim_topk_ivfpq needs both; the names dims/init/a1/upd/cent2
    * would collide). The rename is mechanical over the SINGLE kmeans
    * spelling — the training text itself cannot drift from
    * cluster_kmeans / sim_topk_ivf_kmeans. */
  private lazy val kmeansCtePrefixed =
    Seq("dims", "init", "d1", "a1", "upd", "cent2", "d2t", "a2")
      .foldLeft(kmeansCte)((s, n) => s.replaceAll(s"\\b$n\\b", "km_" + n))

  /** The exact-integer kmeans pipeline as DuckDB CTEs (shared by
    * cluster_kmeans and sim_topk_ivf_kmeans): quantized dims → seeded
    * centroids → assign → exact floor-division update → re-assign. */
  private val kmeansCte =
    """dims AS (
             |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             |         CAST(round(unnest(embedding) * 1e7) AS BIGINT) + 10000000 AS v
             |  FROM embeddings),
             |init AS (
             |  SELECT d.i, d.v AS cv, r.j FROM dims d
             |  JOIN (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS j
             |        FROM embeddings ORDER BY vec_id LIMIT 5) r
             |    ON d.vec_id = r.vec_id),
             |d1 AS (
             |  SELECT d.vec_id, c.j,
             |         CAST(sum((d.v - c.cv) * (d.v - c.cv)) AS BIGINT) AS d2
             |  FROM dims d JOIN init c ON d.i = c.i GROUP BY 1, 2),
             |a1 AS (
             |  SELECT vec_id, j, d2,
             |         row_number() OVER (PARTITION BY vec_id ORDER BY d2, j) AS rn
             |  FROM d1),
             |upd AS (
             |  SELECT a1.j, d.i, CAST(sum(d.v) AS BIGINT) AS s, count(*) AS n
             |  FROM a1 JOIN dims d ON a1.vec_id = d.vec_id
             |  WHERE a1.rn = 1 GROUP BY 1, 2),
             |cent2 AS (SELECT j, i, CAST((s - s % n) // n AS BIGINT) AS cv FROM upd),
             |d2t AS (
             |  SELECT d.vec_id, c.j,
             |         CAST(sum((d.v - c.cv) * (d.v - c.cv)) AS BIGINT) AS d2
             |  FROM dims d JOIN cent2 c ON d.i = c.i GROUP BY 1, 2),
             |a2 AS (
             |  SELECT vec_id, j, d2,
             |         row_number() OVER (PARTITION BY vec_id ORDER BY d2, j) AS rn
             |  FROM d2t)""".stripMargin
}
