package graft.sim

import graft.Q
import graft.io.Tables._
import org.apache.spark.sql.functions._

/** Registered queries for the persisted PQ index ([[PqIndex]]) — the
  * frozen-codebook lifecycle, mirroring the text/embedding index
  * trios: phase 1 trains on the base corpus (vec_id % 5 ≠ 0) and
  * persists codebook + codes; phase 2 encodes the DELTA (% 5 = 0) at
  * the frozen codebook with zero training and zero base re-reads; the
  * append cycle grows the codes artifact across two delta days at the
  * day-0 codebook. The frozen-codebook contract is externally
  * hash-checked: the oracles train on the BASE population only (seeds
  * = the base's 4 lowest vec_ids — the full corpus would seed a
  * DIFFERENT codebook, since vec_id 0 is delta), so an engine that
  * silently retrained on base ∪ delta would hash-mismatch. M/K are
  * compile-time constants (no width-style re-resolution across corpus
  * scales), so these oracles need no graft.Verify override. */
object PqIndexQueries {

  private val basePred = "vec_id % 5 <> 0"
  private val deltaPred = "vec_id % 5 = 0"

  def queries: Seq[Q] = Seq(
    // PHASE 1: build & persist. Output = the full persisted payload
    // per (vector, subspace): the code AND its exact integer encoding
    // distortion (recomputed by the oracle from raw embeddings and
    // the base-trained codebook), plus the manifest's m/k — so
    // artifact CONTENT is hash-gated, not just staged.
    Q("pq_index_build",
      Some(s"""WITH ${PqSql.pipelineCtes(basePred, basePred)}
              |SELECT vec_id, sub, code, d2,
              |       CAST(4 AS BIGINT) AS m, CAST(4 AS BIGINT) AS k
              |FROM codes ORDER BY vec_id, sub""".stripMargin),
      (s, d) => {
        val root = stagedPqIndexPath(s, d)
        val (m, k, _, _) = PqIndex.readManifest(s, root)
        s.read.parquet(PqIndex.codesLive(root))
          .select(col("vec_id"), col("sub"), col("code"), col("d2"),
            lit(m.toLong).as("m"), lit(k.toLong).as("k"))
          .orderBy("vec_id", "sub")
      }),

    // PHASE 2: delta encode at the FROZEN codebook — the recurring
    // cost path (one delta scan against a broadcast 256-row codebook;
    // PqIndexSpec pins that the plan reads no base vectors and runs
    // no training aggregation). The oracle's codebook is base-trained,
    // so a silent retrain would hash-mismatch.
    Q("pq_incremental",
      Some(s"""WITH ${PqSql.pipelineCtes(basePred, deltaPred)}
              |SELECT vec_id, sub, code, d2
              |FROM codes ORDER BY vec_id, sub""".stripMargin),
      (s, d) => Pq.encodeAt(
          embeddings(s, d).filter(col("vec_id") % 5 === 0),
          PqIndex.readIndex(s, stagedPqIndexPath(s, d)).codebook)
        .select("vec_id", "sub", "code", "d2").orderBy("vec_id", "sub")),

    // ADC SERVING through the persisted artifact — the query a FAISS
    // user runs against a loaded index: top-10 by asymmetric distance
    // over the PERSISTED codes at the PERSISTED codebook. The query
    // vector (the base's lowest vec_id) is the only raw embedding the
    // plan reads — the ranked scan touches codes only, which is the
    // whole point of the compression.
    Q("pq_index_query",
      Some(s"""WITH ${PqSql.pipelineCtes(basePred, basePred)},
              |cand AS (SELECT DISTINCT vec_id FROM codes),
              |${PqSql.adcCtes(basePred)}
              |SELECT CAST(row_number() OVER (ORDER BY approx_d2, vec_id) AS BIGINT)
              |         AS rank,
              |       a.vec_id, e.label, a.approx_d2
              |FROM adc a JOIN embeddings e USING (vec_id)
              |ORDER BY rank LIMIT 10""".stripMargin),
      (s, d) => {
        val ix = PqIndex.readIndex(s, stagedPqIndexPath(s, d))
        Pq.adcTopK(embeddings(s, d).filter(col("vec_id") % 5 =!= 0),
          ix.codebook, ix.codes, 10)
      }),

    // ROUTED serving through the persisted IVF structure — the
    // steady-state query shape at 10⁹ codes, where pq_index_query's
    // full ADC scan stops being viable: the query routes to its 2
    // nearest of the 8 persisted coarse cells and the ADC scan reads
    // ONLY those cells' code partitions (dynamic partition pruning on
    // the `cell` directory column — PqIndexSpec pins the pruned scan).
    // The oracle replays the whole routed path from raw embeddings:
    // coarse kmeans training, cell assignment, probe choice, and the
    // cell-restricted ADC — so a drifted quantizer, a mis-assigned
    // cell, or a probe that silently widened all hash-mismatch.
    Q("pq_index_query_ivf",
      Some(s"""WITH ${PqSql.pipelineCtes(basePred, basePred)},
              |${PqSql.coarseCtes(basePred, PqIndex.KC, 2)},
              |${PqSql.adcCtes(basePred)}
              |SELECT CAST(row_number() OVER (ORDER BY approx_d2, vec_id) AS BIGINT)
              |         AS rank,
              |       a.vec_id, e.label, a.approx_d2
              |FROM adc a JOIN embeddings e USING (vec_id)
              |ORDER BY rank LIMIT 10""".stripMargin),
      (s, d) => {
        val ix = PqIndex.readIndex(s, stagedPqIndexPath(s, d))
        PqIndex.topKRouted(
          embeddings(s, d).filter(col("vec_id") % 5 =!= 0), ix, 10, 2)
      }),

    // MULTI-DAY APPEND cycle: day 0 trains on the % 3 = 0 third and
    // persists; days 1 and 2 (% 3 = 1, 2) append their codes encoded
    // at the DAY-0 codebook. Output = the grown codes artifact read
    // back in full — every row the oracle recomputes at the day-0
    // codebook, so the one-codebook-per-generation contract gates the
    // whole cycle (a day-2 retrain would flip codes corpus-wide).
    Q("pq_index_append",
      Some(s"""WITH ${PqSql.pipelineCtes("vec_id % 3 = 0", "TRUE")}
              |SELECT vec_id, sub, code, d2
              |FROM codes ORDER BY vec_id, sub""".stripMargin),
      (s, d) => s.read
        .parquet(PqIndex.codesLive(stagedPqAppendPath(s, d)))
        .select("vec_id", "sub", "code", "d2").orderBy("vec_id", "sub")),

    // TORN-APPEND REPAIR — completing the repair column of the
    // lifecycle matrix (text: dedup_index_repair; embedding:
    // emb_index_repair): the staged artifact suffered a RETRIED torn
    // append (the full delta landed, then a retry died after two of
    // the four subspaces — duplicate sub-0/1 rows for every delta
    // vector), repairIndex detected the M-codes-per-vector violation
    // and re-encoded the damaged vectors from source at the FROZEN
    // codebook. Output = the healed codes artifact read back in full;
    // the oracle recomputes every row at the base-trained codebook,
    // so surviving duplicates, lost rows, OR a repair that silently
    // retrained all hash-mismatch. Stage-time require()s pin that
    // repair fired once and is then idempotent.
    Q("pq_index_repair",
      Some(s"""WITH ${PqSql.pipelineCtes(basePred, "TRUE")}
              |SELECT vec_id, sub, code, d2
              |FROM codes ORDER BY vec_id, sub""".stripMargin),
      (s, d) => s.read
        .parquet(PqIndex.codesLive(stagedPqRepairPath(s, d)))
        .select("vec_id", "sub", "code", "d2").orderBy("vec_id", "sub")),

    // ERASURE through the PQ index — the third family's erasure
    // lifecycle (text: dedup_index_erase; embedding: emb_index_erase):
    // tombstone append, immediate probe exclusion, physical purge of
    // the codes at PqIndex.compactIndex. The CODEBOOK is deliberately
    // untouched — it is a trained model, and the oracle trains on the
    // FULL pre-erase base (erasure never retrains; a rebuild decision)
    // while encoding only survivors. Part 1 reads the purged codes
    // parquet DIRECTLY (an unpurged erased row hash-mismatches); part
    // 2 is the ADC top-10 through the erased artifact — a tombstoned
    // vector can appear in no ranking.
    Q("pq_index_erase",
      Some(s"""WITH ${PqSql.pipelineCtes(basePred,
                s"($basePred) AND vec_id % 10 <> 1")},
              |cand AS (SELECT DISTINCT vec_id FROM codes),
              |${PqSql.adcCtes(s"($basePred) AND vec_id % 10 <> 1")}
              |SELECT CAST(1 AS BIGINT) AS part, vec_id,
              |       sub AS a, code AS b, d2
              |FROM codes
              |UNION ALL
              |SELECT CAST(2 AS BIGINT), vec_id, rank,
              |       CAST(0 AS BIGINT), approx_d2
              |FROM (SELECT vec_id, approx_d2,
              |        CAST(row_number() OVER (ORDER BY approx_d2, vec_id)
              |             AS BIGINT) AS rank
              |      FROM adc ORDER BY approx_d2, vec_id LIMIT 10) t
              |ORDER BY part, vec_id, a""".stripMargin),
      (s, d) => {
        val root = stagedPqErasePath(s, d)
        val survivors = embeddings(s, d)
          .filter(col("vec_id") % 5 =!= 0 && col("vec_id") % 10 =!= 1)
        val ix = PqIndex.readIndex(s, root)
        val part1 = s.read.parquet(PqIndex.codesLive(root))
          .select(lit(1L).as("part"), col("vec_id"), col("sub").as("a"),
            col("code").as("b"), col("d2"))
        val part2 = Pq.adcTopK(survivors, ix.codebook, ix.codes, 10)
          .select(lit(2L).as("part"), col("vec_id"), col("rank").as("a"),
            lit(0L).as("b"), col("approx_d2").as("d2"))
        part1.unionByName(part2).orderBy("part", "vec_id", "a")
      }),

    // CODEBOOK REFRESH — the maintenance the frozen-model contract
    // eventually demands: the staged scenario is the production
    // COLD START (bootstrap the codebook on the first 16 arrivals,
    // append the whole corpus at it frozen — encoding distortion
    // rises decisively; the sim_pq_distortion signal), and
    // PqIndex.refreshIfDrifted fires
    // (live mean d2 > 1.1× the build-time baseline persisted in the
    // manifest), retraining on the FULL corpus and publishing the
    // re-encoded index as model generation 1 — with generation 0
    // left INTACT for in-flight readers (stage require()s + spec pin
    // both, and that the new generation's drift signal is reset).
    // Output = the refreshed generation's codes read back in full;
    // the oracle trains AND encodes on the full corpus, so a refresh
    // that silently kept the stale codebook — or retrained on the
    // wrong population — hash-mismatches every row.
    Q("pq_index_refresh",
      Some(s"""WITH ${PqSql.pipelineCtes("TRUE", "TRUE")}
              |SELECT vec_id, sub, code, d2
              |FROM codes ORDER BY vec_id, sub""".stripMargin),
      (s, d) => s.read
        .parquet(PqIndex.codesLive(stagedPqRefreshPath(s, d)))
        .select("vec_id", "sub", "code", "d2").orderBy("vec_id", "sub")),

    // NIGHTLY MAINTENANCE through the PQ index — the ONE idempotent
    // pass a scheduler runs ([[PqIndex.maintainIndex]]: compact
    // pending erasure tombstones → repair torn/retried appends by
    // re-encode at the FROZEN codebook → retrain only if the live
    // distortion drifted past the build-time baseline;
    // graft.io.MaintenanceReport pins the step order — compact FIRST,
    // so repair is never asked to re-encode a vector the corpus of
    // record no longer has — and graft.MaintenanceSpec the crash matrix).
    // The staged artifact is a damaged index: the % 5 = 0 delta
    // appended then its first two subspaces RETRIED (the partial
    // write a crash mid-append leaves), the % 10 = 1 members erased
    // but not yet purged — healed by one maintainIndex call. The
    // refresh trigger stays QUIET (the delta is i.i.d. with the
    // training base, so live distortion sits at the ~1.04× noise
    // floor, under the 11/10 budget — the retrain lifecycle is gated
    // separately by pq_index_refresh). Output = the healed codes
    // artifact in full at the ORIGINAL base-trained codebook: a
    // surviving duplicate code row, a lost subspace, an unpurged
    // erasure, or a stray retrain each hash-mismatch.
    Q("pq_index_maintain",
      Some(s"""WITH ${PqSql.pipelineCtes(basePred, "vec_id % 10 <> 1")}
              |SELECT vec_id, sub, code, d2
              |FROM codes ORDER BY vec_id, sub""".stripMargin),
      (s, d) => s.read
        .parquet(PqIndex.codesLive(stagedPqMaintainPath(s, d)))
        .select("vec_id", "sub", "code", "d2").orderBy("vec_id", "sub"))
  )

  /** Stages the base PQ index (train + encode over vec_id % 5 ≠ 0)
    * once per testdata generation. */
  private[graft] def stagedPqIndexPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    stageOnce("graft_pq_index2_", dir) { root =>
      PqIndex.writeIndex(
        embeddings(s, dir).filter(col("vec_id") % 5 =!= 0), root)
    }

  /** Stages the `pq_index_append` artifact: day-0 build over
    * vec_id % 3 = 0, then two delta appends at the frozen codebook. */
  private[graft] def stagedPqAppendPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    stageOnce("graft_pq_append2_", dir) { root =>
      val emb = embeddings(s, dir)
      PqIndex.writeIndex(emb.filter(col("vec_id") % 3 === 0), root)
      PqIndex.appendIndex(root, emb.filter(col("vec_id") % 3 === 1))
      PqIndex.appendIndex(root, emb.filter(col("vec_id") % 3 === 2))
    }

  /** Stages the `pq_index_repair` artifact: build over vec_id % 5 ≠ 0,
    * append the % 5 = 0 delta COMPLETELY, then simulate a torn RETRY
    * of that append (only subspaces 0–1 land a second time — the
    * partial write a crash mid-append leaves), then repair. The
    * require()s pin the lifecycle: damage is detected and healed
    * exactly once; a second repair call finds a clean artifact. */
  private[graft] def stagedPqRepairPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    stageOnce("graft_pq_repair2_", dir) { root =>
      val emb = embeddings(s, dir)
      PqIndex.writeIndex(emb.filter(col("vec_id") % 5 =!= 0), root)
      val delta = emb.filter(col("vec_id") % 5 === 0)
      PqIndex.appendIndex(root, delta)
      val live = PqIndex.codesLive(root)
      Pq.encodeAt(delta, s.read.parquet(s"$root/codebook"))
        .filter(col("sub") < 2) // the torn retry: 2 of 4 subspaces
        .join(Clustering.assignAt(delta, s.read.parquet(s"$root/coarse"))
          .select(col("vec_id"), col("cluster").as("cell")), "vec_id")
        .write.partitionBy("cell").mode("append").parquet(live)
      s.catalog.refreshByPath(live)
      require(PqIndex.repairIndex(s, root, emb),
        "pq repair stage: torn retry left no detectable damage")
      require(!PqIndex.repairIndex(s, root, emb),
        "pq repair stage: repair is not idempotent")
    }

  /** Stages the `pq_index_maintain` artifact: a DAMAGED index — build
    * over vec_id % 5 ≠ 0, the % 5 = 0 delta appended then its first
    * two subspaces RETRIED (the M-codes-per-vector invariant
    * violated), the % 10 = 1 members erased but not yet purged —
    * healed by ONE [[PqIndex.maintainIndex]] nightly pass. The
    * require()s pin the report (compacted, repaired, NO retrain: the
    * i.i.d. delta keeps live distortion under the 11/10 budget) and
    * that a second pass is a three-way no-op. */
  private[graft] def stagedPqMaintainPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    stageOnce("graft_pq_maintain1_", dir) { root =>
      val emb = embeddings(s, dir)
      PqIndex.writeIndex(emb.filter(col("vec_id") % 5 =!= 0), root)
      val delta = emb.filter(col("vec_id") % 5 === 0)
      PqIndex.appendIndex(root, delta)
      val live = PqIndex.codesLive(root)
      Pq.encodeAt(delta, s.read.parquet(s"$root/codebook"))
        .filter(col("sub") < 2) // the torn retry: 2 of 4 subspaces
        .join(Clustering.assignAt(delta, s.read.parquet(s"$root/coarse"))
          .select(col("vec_id"), col("cluster").as("cell")), "vec_id")
        .write.partitionBy("cell").mode("append").parquet(live)
      s.catalog.refreshByPath(live)
      PqIndex.eraseFromIndex(root,
        emb.filter(col("vec_id") % 10 === 1).select("vec_id"))
      val source = emb.filter(col("vec_id") % 10 =!= 1)
      val rep = PqIndex.maintainIndex(s, root, source)
      require(rep.compacted && rep.repaired && rep.regenerated.isEmpty,
        s"pq maintain stage: unexpected report $rep")
      require(PqIndex.maintainIndex(s, root, source).noop,
        "pq maintain stage: second pass not a no-op")
    }

  /** Stages the `pq_index_erase` artifact: build over vec_id % 5 ≠ 0,
    * erase the % 10 = 1 members, purge via [[PqIndex.compactIndex]] —
    * with require()s pinning the physical purge and tombstone reset. */
  private[graft] def stagedPqErasePath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    stageOnce("graft_pq_erase2_", dir) { root =>
      val emb = embeddings(s, dir)
      PqIndex.writeIndex(emb.filter(col("vec_id") % 5 =!= 0), root)
      PqIndex.eraseFromIndex(root,
        emb.filter(col("vec_id") % 10 === 1).select("vec_id"))
      PqIndex.compactIndex(s, root)
      require(s.read.parquet(PqIndex.codesLive(root))
        .filter(col("vec_id") % 10 === 1).limit(1).count() == 0,
        "pq erase stage: erased rows survived the codes purge")
      require(graft.io.IndexStore.open(s, root, "tomb").count() == 0,
        "pq erase stage: tombstone list not reset")
    }

  /** Stages the `pq_index_refresh` artifact — the COLD-START drift
    * scenario, where refresh matters most in production: the index is
    * bootstrapped on the first 16 arrivals (vec_id ≤ 15 — the
    * codebook is essentially those vectors, so their own encoding
    * distortion is the low build-time baseline), the rest of the
    * corpus appends at that frozen undertrained codebook (measured
    * live/base mean-d2 ratio 1.67–1.74 at sf0.001 through 10× —
    * decisively over the 1.1 default budget; an i.i.d. random-subset
    * split only reaches ~1.04, which is the quantization noise floor,
    * not drift), and the distortion-triggered refresh retrains on the
    * full corpus, publishing model generation 1. The require()s pin
    * the full trigger lifecycle: fired once, generation 0 left
    * byte-intact for in-flight readers, drift signal reset at the new
    * generation. */
  private[graft] def stagedPqRefreshPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    stageOnce("graft_pq_refresh1_", dir) { root =>
      val emb = embeddings(s, dir)
      PqIndex.writeIndex(emb.filter(col("vec_id") <= 15), root)
      PqIndex.appendIndex(root, emb.filter(col("vec_id") > 15))
      val gen0Codes = graft.io.IndexStore.live(root, "codes")
      val before = s.read.parquet(gen0Codes).count()
      require(PqIndex.refreshIfDrifted(s, root, emb).isDefined,
        "pq refresh stage: drift trigger did not fire on the " +
          "cold-start (first-16-vectors) codebook")
      require(PqIndex.codesLive(root).contains("modelgen"),
        "pq refresh stage: live codes did not move to the new generation")
      require(s.read.parquet(gen0Codes).count() == before,
        "pq refresh stage: generation 0 mutated — stale readers broken")
      require(PqIndex.refreshIfDrifted(s, root, emb).isEmpty,
        "pq refresh stage: drift signal not reset at the new generation")
    }

  private def stageOnce(prefix: String, dir: String)(
      build: String => Unit): String =
    graft.io.Staging.stageOnce(prefix, dir, "embeddings.parquet")(build)
}
