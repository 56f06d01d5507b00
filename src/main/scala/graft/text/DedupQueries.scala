package graft.text

import graft.Q
import graft.io.Tables._
import org.apache.spark.sql.functions._

/** Registered dedup queries over `documents`. The fuzzy variants return
  * the KEPT corpus (dedup's actual contract, and guaranteed non-empty
  * for the rows-only check); pair-level outputs are unit-tested with
  * synthetic near-duplicates where the testdata has none.
  */
object DedupQueries {

  def queries: Seq[Q] = Seq(
    // exact dedup, deterministic survivor: min doc_id per distinct text.
    Q("dedup_exact",
      Some("""SELECT text, min(doc_id) AS doc_id FROM documents
             |GROUP BY text ORDER BY doc_id""".stripMargin),
      (s, d) => documents(s, d).groupBy("text")
        .agg(min("doc_id").as("doc_id")).orderBy("doc_id")),

    // exact full-row distinct (dropDuplicates over every column).
    Q("dedup_distinct_rows",
      Some("SELECT DISTINCT * FROM documents ORDER BY doc_id"),
      (s, d) => documents(s, d).distinct().orderBy("doc_id")),

    // normalized-fingerprint dedup: whitespace/case-insensitive exact.
    Q("dedup_fingerprint",
      Some("""SELECT fp, min(doc_id) AS doc_id FROM (
             |  SELECT doc_id,
             |         md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
             |  FROM documents) t
             |GROUP BY fp ORDER BY doc_id""".stripMargin),
      (s, d) => documents(s, d)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .groupBy("fp").agg(min("doc_id").as("doc_id")).orderBy("doc_id")),

    // MinHash+LSH near-dedup → kept corpus (shingle → 64 minhashes →
    // 16×4 band buckets → candidate join → exact-Jaccard verify ≥ 0.7).
    // Oracle: exact all-pairs shingle-Jaccard dedup. Equal because the
    // LSH candidate stage has verified-100% recall on this corpus (every
    // true pair sits at J ≥ 0.8, detect prob 1-(1-J^4)^16 ≈ 99.98%, and
    // the data + hash family are deterministic — checked at all three
    // SFs), and the bucket/df cutoffs never fire (max band-bucket < 100).
    Q("dedup_minhash",
      Some(jaccardKeptOracle(0.7)),
      (s, d) => Dedup.dedupMinHash(documents(s, d), "doc_id", "text")
        .select("doc_id").orderBy("doc_id")),

    // pair-level minhash contract: the verified near-dup pairs with
    // their exact Jaccard (µ-scaled — both engines divide the same two
    // ints, so the grid is exact).
    Q("dedup_minhash_pairs",
      Some(s"""$jaccardCtePrefix
             |SELECT ia AS id_a, ib AS id_b,
             |       CAST(round(CAST(ns AS DOUBLE) / (sa.n + sb.n - ns) * 1e6) AS BIGINT) AS jaccard_e6
             |FROM pairs
             |JOIN sizes sa ON sa.doc_id = pairs.ia
             |JOIN sizes sb ON sb.doc_id = pairs.ib
             |WHERE CAST(ns AS DOUBLE) / (sa.n + sb.n - ns) >= 0.7
             |ORDER BY id_a, id_b""".stripMargin),
      (s, d) => Dedup.nearDupPairs(documents(s, d), "doc_id", "text", 0.7)
        .select(col("id_a"), col("id_b"),
          expr("CAST(round(jaccard * 1e6) AS BIGINT)").as("jaccard_e6"))
        .orderBy("id_a", "id_b")),

    // PHASE 1 of the incremental-dedup pair: build & persist the base
    // corpus's dedup index (doc_id % 5 ≠ 0 — yesterday's
    // already-deduped corpus) as parquet — per doc the 16 LSH band
    // keys AND the distinct shingle set (Dedup.buildIndex), staged
    // once per testdata generation. The registered output is the
    // index's verifiable content: per doc the shingle count and the
    // PERSISTED `fp` fingerprint column (md5 of the sorted shingle
    // set — the exact-replica screen's key), which the oracle
    // recomputes from raw text — so the persisted artifact's payload,
    // fingerprint column included, is hash-gated. One projection pass
    // over the base, no shuffle; at 100 TB this runs once and is
    // appended to, never rebuilt.
    Q("dedup_index_build",
      Some("""WITH d AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
             |    THEN list_transform(range(len(toks)-2),
             |         i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
             |    ELSE [array_to_string(toks, ' ')] END) AS sh
             |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), ' +') AS toks
             |        FROM documents WHERE doc_id % 5 <> 0) t)
             |SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles,
             |       md5(array_to_string(list_sort(sh), chr(31))) AS sh_fp,
             |       CAST(16 AS BIGINT) AS n_bands
             |FROM d ORDER BY doc_id""".stripMargin),
      (s, d) => s.read.parquet(Dedup.ixLive(stagedIndexPath(s, d)))
        .select(col("id").as("doc_id"),
          size(col("sh")).cast("long").as("n_shingles"),
          col("fp").as("sh_fp"),
          size(col("bands")).cast("long").as("n_bands"))
        .orderBy("doc_id")),

    // PHASE 2 — INCREMENTAL dedup: screen the DELTA (doc_id % 5 = 0 —
    // today's arrivals) against the PERSISTED index from phase 1: the
    // probe plan reads the index parquet + the delta rows and touches
    // raw base text zero times (DedupSpec pins that plan property),
    // so the recurring per-delta cost is delta-side work + an index
    // scan — never an O(|corpus|) re-shingle. Accepted = delta docs
    // that near-dup (J ≥ 0.7) neither any indexed doc nor a lower-id
    // delta doc. Oracle equality holds for the same reason as
    // dedup_minhash: verified-100% LSH recall on this corpus and
    // bucket cutoffs that never fire.
    // Oracle: the fp-screened RESIDUAL spelling ([[jaccardResidualCte]]
    // — provably EQUAL to the full pair CTE, see there): exact
    // replicas leave both sides before the quadratic scan, so the
    // same oracle that gates sf0.01 stays feasible at the 100×
    // replica-mass corpus where the r14 full spelling spilled > 90 GB
    // (accepted = delta survivors with no J ≥ 0.7 edge to a base
    // representative or a lower-id delta survivor).
    Q("dedup_incremental",
      Some(s"""${jaccardResidualCte("doc_id % 5 <> 0", "doc_id % 5 = 0")},
             |jp AS (SELECT ia, ib FROM pairs
             |       JOIN sizes sa ON sa.doc_id = pairs.ia
             |       JOIN sizes sb ON sb.doc_id = pairs.ib
             |       WHERE CAST(ns AS DOUBLE) / (sa.n + sb.n - ns) >= 0.7),
             |rej AS (SELECT ib AS doc_id FROM jp WHERE ib % 5 = 0
             |        UNION
             |        SELECT ia AS doc_id FROM jp
             |        WHERE ia % 5 = 0 AND ib % 5 <> 0)
             |SELECT doc_id FROM dsurv
             |WHERE doc_id NOT IN (SELECT doc_id FROM rej)
             |ORDER BY doc_id""".stripMargin),
      (s, d) => Dedup.incrementalAcceptIndexed(
          Dedup.readIndex(s, stagedIndexPath(s, d)),
          documents(s, d).filter(col("doc_id") % 5 === 0),
          "doc_id", "text")
        .select("doc_id").orderBy("doc_id")),

    // MULTI-DAY INDEX APPEND cycle on testdata — the production
    // lifecycle of the persisted index end-to-end: day 0 builds the
    // index over the doc_id % 3 = 0 corpus (writeIndex: per-doc rows +
    // postings + bucket-occupancy sidecar); day 1's delta
    // (doc_id % 3 = 1) is screened against it and ONLY the accepted
    // rows' index entries are APPENDED (appendIndex: delta-sized
    // appends to all three artifacts — the corpus side is never
    // rewritten); day 2's delta (doc_id % 3 = 2) probes the GROWN
    // index. Output = both days' accepted doc_ids; day 1's membership
    // is read back FROM the appended parquet (ix rows with id % 3 = 1),
    // so the oracle gates the persisted artifact's content, the
    // append-composes semantics, and the day-2 probe at once. Oracle:
    // exact all-pairs Jaccard with the same acceptance rules (a day's
    // doc is rejected iff it near-dups an indexed doc — base or a
    // PRIOR day's accepted doc — or a lower-id same-day doc; rejected
    // same-day docs still block, rejected prior-day docs don't, since
    // they never enter the index). Oracle-exact for the dedup_minhash
    // reasons: verified-100% LSH recall, cutoffs never fire.
    Q("dedup_index_append",
      Some(s"""$jaccardCtePrefix,
             |jp AS (SELECT ia, ib FROM pairs
             |       JOIN sizes sa ON sa.doc_id = pairs.ia
             |       JOIN sizes sb ON sb.doc_id = pairs.ib
             |       WHERE CAST(ns AS DOUBLE) / (sa.n + sb.n - ns) >= 0.7),
             |e AS (SELECT ia AS a, ib AS b FROM jp
             |      UNION SELECT ib AS a, ia AS b FROM jp),
             |rej1 AS (SELECT DISTINCT a AS doc_id FROM e
             |         WHERE a % 3 = 1
             |           AND (b % 3 = 0 OR (b % 3 = 1 AND b < a))),
             |acc1 AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 1
             |         AND doc_id NOT IN (SELECT doc_id FROM rej1)),
             |rej2 AS (SELECT DISTINCT a AS doc_id FROM e
             |         WHERE a % 3 = 2
             |           AND (b % 3 = 0
             |                OR b IN (SELECT doc_id FROM acc1)
             |                OR (b % 3 = 2 AND b < a))),
             |acc2 AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 2
             |         AND doc_id NOT IN (SELECT doc_id FROM rej2))
             |SELECT doc_id, CAST(1 AS BIGINT) AS day FROM acc1
             |UNION ALL
             |SELECT doc_id, CAST(2 AS BIGINT) AS day FROM acc2
             |ORDER BY day, doc_id""".stripMargin),
      (s, d) => {
        val ix = Dedup.readIndex(s, stagedAppendPath(s, d))
        val day1 = ix.docs.filter(col("id") % 3 === 1)
          .select(col("id").as("doc_id"), lit(1L).as("day"))
        val day2 = Dedup.incrementalAcceptIndexed(ix,
            documents(s, d).filter(col("doc_id") % 3 === 2),
            "doc_id", "text")
          .select(col("doc_id"), lit(2L).as("day"))
        day1.unionByName(day2).orderBy("day", "doc_id")
      }),

    // TORN-APPEND REPAIR lifecycle on testdata (the crash-recovery
    // half of the append contract): the staged artifact is an index
    // over doc_id % 4 ∈ {0,1} that suffered a SIMULATED mid-append
    // crash (the % 4 = 2 delta's postings + bucket partials landed,
    // its ix rows did not — the only tear shape appendIndex's ix-last
    // ordering permits) and was then repaired by Dedup.repairIndex
    // (tear detected via the postings-per-doc invariant; post/bk
    // re-derived from ix as next create-only generations; second call
    // a detected no-op — all three require()d at stage time). Output
    // part 1 audits the REPAIR-SENSITIVE invariant from the published
    // artifact itself — exactly Bands=16 postings per BASE doc, the
    // torn delta's orphans gone (without repair these rows would show
    // the % 4 = 2 ids too); part 2 probes the repaired index with the
    // % 4 = 3 delta through the generation-resolved artifacts
    // (post.g1/bk.g1), acceptance oracled the dedup_incremental way.
    Q("dedup_index_repair",
      Some(s"""$jaccardCtePrefix,
             |jp AS (SELECT ia, ib FROM pairs
             |       JOIN sizes sa ON sa.doc_id = pairs.ia
             |       JOIN sizes sb ON sb.doc_id = pairs.ib
             |       WHERE CAST(ns AS DOUBLE) / (sa.n + sb.n - ns) >= 0.7),
             |e AS (SELECT ia AS a, ib AS b FROM jp
             |      UNION SELECT ib AS a, ia AS b FROM jp),
             |rej AS (SELECT DISTINCT a AS doc_id FROM e
             |        WHERE a % 4 = 3
             |          AND (b % 4 IN (0, 1) OR (b % 4 = 3 AND b < a))),
             |acc AS (SELECT doc_id FROM documents WHERE doc_id % 4 = 3
             |        AND doc_id NOT IN (SELECT doc_id FROM rej))
             |SELECT CAST(1 AS BIGINT) AS part, doc_id,
             |       CAST(16 AS BIGINT) AS n
             |FROM documents WHERE doc_id % 4 IN (0, 1)
             |UNION ALL
             |SELECT CAST(2 AS BIGINT) AS part, doc_id, CAST(0 AS BIGINT) AS n
             |FROM acc
             |ORDER BY part, doc_id""".stripMargin),
      (s, d) => {
        val ix = Dedup.readIndex(s, stagedRepairPath(s, d))
        val postAudit = ix.postings
          .groupBy(col("id").as("doc_id"))
          .agg(count(lit(1)).as("n"))
          .select(lit(1L).as("part"), col("doc_id"), col("n"))
        val acc = Dedup.incrementalAcceptIndexed(ix,
            documents(s, d).filter(col("doc_id") % 4 === 3),
            "doc_id", "text")
          .select(lit(2L).as("part"), col("doc_id"), lit(0L).as("n"))
        postAudit.unionByName(acc).orderBy("part", "doc_id")
      }),

    // SIDECAR COMPACTION lifecycle, text side (the embedding twin is
    // emb_index_compact): every appendIndex leaves a `bk` partial
    // row-set and every probe re-aggregates the history, so the
    // staged artifact runs base (doc_id % 8 = 0) + THREE unscreened
    // appends (% 8 ∈ {1,2,3}), then Dedup.compactIndexStats — the
    // maintenance op that restores one row per bucket. The bucket
    // keys are MinHash band signatures (no ANSI spelling — the
    // dedup_simhash situation), so the hash gate here is the % 8 = 4
    // delta's PROBE through the compacted artifact (exact-Jaccard
    // oracle, the dedup_incremental convention), with stage-time
    // require()s pinning that partials existed, the probe result is
    // bit-identical before/after, and the sidecar compacted to
    // exactly one row per bucket.
    Q("dedup_index_compact",
      Some(s"""$jaccardCtePrefix,
             |jp AS (SELECT ia, ib FROM pairs
             |       JOIN sizes sa ON sa.doc_id = pairs.ia
             |       JOIN sizes sb ON sb.doc_id = pairs.ib
             |       WHERE CAST(ns AS DOUBLE) / (sa.n + sb.n - ns) >= 0.7),
             |e AS (SELECT ia AS a, ib AS b FROM jp
             |      UNION SELECT ib AS a, ia AS b FROM jp),
             |rej AS (SELECT DISTINCT a AS doc_id FROM e
             |        WHERE a % 8 = 4
             |          AND (b % 8 <= 3 OR (b % 8 = 4 AND b < a)))
             |SELECT doc_id FROM documents
             |WHERE doc_id % 8 = 4 AND doc_id NOT IN (SELECT doc_id FROM rej)
             |ORDER BY doc_id""".stripMargin),
      (s, d) => Dedup.incrementalAcceptIndexed(
          Dedup.readIndex(s, stagedTextCompactPath(s, d)),
          documents(s, d).filter(col("doc_id") % 8 === 4),
          "doc_id", "text")
        .select("doc_id").orderBy("doc_id")),

    // ERASURE through the persisted text index (the embedding twin is
    // emb_index_erase): eraseFromIndex appends the request ids to the
    // `tomb` artifact — probes exclude them from that moment — and
    // the staged compactIndexStats physically purges ix/post/bk and
    // resets the tombstones LAST. Part 1 reads the purged ix parquet
    // DIRECTLY (an unpurged erased row would hash-mismatch: doc_id +
    // shingle-set size per survivor); part 2 probes the % 5 = 0 delta
    // — the erased docs can no longer reject anything.
    // Oracle: the residual spelling over the POST-ERASURE base
    // population (% 5 ≠ 0 ∧ % 10 ≠ 1 — erased docs are gone from
    // both probe and reference), 100×-feasible like
    // dedup_incremental's; part 1 enumerates the purged ix content
    // from sizes_all (the FULL survivor population — representatives
    // only reduce the pair scan, never the artifact listing).
    Q("dedup_index_erase",
      Some(s"""${jaccardResidualCte(
                 "doc_id % 5 <> 0 AND doc_id % 10 <> 1",
                 "doc_id % 5 = 0")},
             |jp AS (SELECT ia, ib FROM pairs
             |       JOIN sizes sa ON sa.doc_id = pairs.ia
             |       JOIN sizes sb ON sb.doc_id = pairs.ib
             |       WHERE CAST(ns AS DOUBLE) / (sa.n + sb.n - ns) >= 0.7),
             |e AS (SELECT ia AS a, ib AS b FROM jp
             |      UNION SELECT ib AS a, ia AS b FROM jp),
             |rej AS (SELECT DISTINCT a AS doc_id FROM e
             |        WHERE a % 5 = 0
             |          AND ((b % 5 <> 0 AND b % 10 <> 1)
             |               OR (b % 5 = 0 AND b < a)))
             |SELECT CAST(1 AS BIGINT) AS part, doc_id,
             |       CAST(n AS BIGINT) AS n
             |FROM sizes_all WHERE doc_id % 5 <> 0 AND doc_id % 10 <> 1
             |UNION ALL
             |SELECT CAST(2 AS BIGINT), doc_id, CAST(0 AS BIGINT)
             |FROM dsurv
             |WHERE doc_id NOT IN (SELECT doc_id FROM rej)
             |ORDER BY part, doc_id""".stripMargin),
      (s, d) => {
        val root = stagedTextErasePath(s, d)
        val part1 = s.read.parquet(Dedup.ixLive(root))
          .select(lit(1L).as("part"), col("id").as("doc_id"),
            size(col("sh")).cast("long").as("n"))
        val part2 = Dedup.incrementalAcceptIndexed(
            Dedup.readIndex(s, root),
            documents(s, d).filter(col("doc_id") % 5 === 0),
            "doc_id", "text")
          .select(lit(2L).as("part"), col("doc_id"), lit(0L).as("n"))
        part1.unionByName(part2).orderBy("part", "doc_id")
      }),

    // BAND-GEOMETRY REBUILD through the persisted text index —
    // completing the refresh/rebuild column for the fourth family
    // (PQ: distortion-triggered codebook retrain; embeddings:
    // occupancy-triggered width rebuild; media: signature equality
    // has no geometry): the staged index was BUILT over a twentieth
    // of the corpus (its live count resolves the curation 16×4 knee
    // under the staged posture), the other nineteen twentieths
    // appended at that frozen geometry, and Dedup.rebuildIfDense
    // fired — the live count now resolves the dense 8×8 posture — so
    // the corpus was re-signed at 8×8 and published as model
    // generation 1 (generation 0 byte-intact for in-flight readers;
    // stage require()s pin fired-once/quiescent/gen-0-intact, the
    // spec pins stale-reader hash-invariance and probe parity with an
    // in-plan 8×8 index). Output = the rebuilt generation's full ix
    // payload: per doc its shingle-set size, its content fingerprint
    // (both re-derived from raw text by the oracle) and the REBUILT
    // band count — an index left at the stale width, or a rebuild
    // that lost or resurrected a doc, hash-mismatches every row. The
    // band keys themselves are xxhash64-of-minhash values with no
    // ANSI spelling (the dedup_index_build situation).
    Q("dedup_index_rebuild",
      Some("""WITH d AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
             |    THEN list_transform(range(len(toks)-2),
             |         i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
             |    ELSE [array_to_string(toks, ' ')] END) AS sh
             |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), ' +') AS toks
             |        FROM documents) t)
             |SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles,
             |       md5(array_to_string(list_sort(sh), chr(31))) AS sh_fp,
             |       CAST(8 AS BIGINT) AS n_bands
             |FROM d ORDER BY doc_id""".stripMargin),
      (s, d) => {
        val root = graft.io.IndexStore.liveRoot(stagedRebuildPath(s, d))
        s.read.parquet(Dedup.ixLive(root))
          .select(col("id").as("doc_id"),
            size(col("sh")).cast("long").as("n_shingles"),
            col("fp").as("sh_fp"),
            size(col("bands")).cast("long").as("n_bands"))
          .orderBy("doc_id")
      }),

    // NIGHTLY MAINTENANCE through the persisted text index — the ONE
    // idempotent pass a scheduler runs between incidents
    // ([[Dedup.maintainIndex]]: compact pending erasures / sidecar
    // partials → repair torn or replayed appends → re-geometry if the
    // density posture moved; graft.io.MaintenanceReport pins the step
    // order and why, graft.MaintenanceSpec the crash matrix). The staged
    // artifact is a damaged index: one slice's append REPLAYED
    // end-to-end (two ix rows and 2×Bands postings per % 20 = 5 doc),
    // the % 10 = 1 members erased but not yet purged, partials from
    // every append — healed by one maintainIndex call at the default
    // curation posture (regeneration quiet: both the build slice and
    // the live corpus resolve 16×4; the geometry lifecycle is gated
    // separately by dedup_index_rebuild). Output part 1 audits the
    // REPAIR-SENSITIVE invariant from the published artifact — exactly
    // Bands=16 postings per surviving doc (an unhealed replay doubles
    // its count, an unpurged erasure resurrects its doc); part 2 is
    // the ix membership + content record (per-doc shingle-set size +
    // content fingerprint, re-derived from raw text by the oracle),
    // read through the repair contract's distinct-by-id convention —
    // replayed ix duplicates are exact copies, TOLERATED by design
    // (ix stays append-only; see Dedup.repairIndex).
    Q("dedup_index_maintain",
      Some("""WITH d AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
             |    THEN list_transform(range(len(toks)-2),
             |         i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
             |    ELSE [array_to_string(toks, ' ')] END) AS sh
             |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), ' +') AS toks
             |        FROM documents) t)
             |SELECT CAST(1 AS BIGINT) AS part, doc_id,
             |       CAST(16 AS BIGINT) AS n, '' AS sh_fp
             |FROM documents WHERE doc_id % 10 <> 1
             |UNION ALL
             |SELECT CAST(2 AS BIGINT), doc_id, CAST(len(sh) AS BIGINT),
             |       md5(array_to_string(list_sort(sh), chr(31)))
             |FROM d WHERE doc_id % 10 <> 1
             |ORDER BY part, doc_id""".stripMargin),
      (s, d) => {
        val root = graft.io.IndexStore.liveRoot(stagedMaintainPath(s, d))
        val part1 = s.read.parquet(graft.io.IndexStore.live(root, "post"))
          .groupBy(col("id").as("doc_id")).agg(count(lit(1)).as("n"))
          .select(lit(1L).as("part"), col("doc_id"), col("n"),
            lit("").as("sh_fp"))
        val part2 = s.read.parquet(Dedup.ixLive(root)).dropDuplicates("id")
          .select(lit(2L).as("part"), col("id").as("doc_id"),
            size(col("sh")).cast("long").as("n"), col("fp").as("sh_fp"))
        part1.unionByName(part2).orderBy("part", "doc_id")
      }),

    // SimHash fingerprints (+ prefix bucket) for every doc.
    // Rows-only BY DESIGN (no oracle SQL): the production hash family is
    // MurmurHash3 — a tight JVM loop, the right cost profile at 100 TB —
    // and DuckDB has no ANSI-SQL spelling of MurmurHash3, so the
    // fingerprint values cannot be cross-engine-compared. The algorithm
    // is oracle-exact via the md5-family twin `dedup_simhash_md5` below
    // (identical pipeline, engine-shared hash); DedupSpec pins this
    // variant's determinism and Hamming distance behavior.
    Q("dedup_simhash",
      None,
      (s, d) => Dedup.withSimHash(documents(s, d), "text")
        .select("doc_id", "simhash", "sim_bucket").orderBy("doc_id")),

    // oracle-exact SimHash: same algorithm, md5-hex hash family — every
    // step is ANSI SQL both engines evaluate bit-identically (integer
    // arithmetic only), so the fingerprint itself hash-matches, not just
    // row counts. `sim_bucket` = 16-bit hex prefix (the LSH probe key).
    Q("dedup_simhash_md5",
      Some("""WITH tok AS (
             |  SELECT DISTINCT doc_id, tok FROM (
             |    SELECT doc_id,
             |           unnest(string_split_regex(lower(trim(text)), ' +')) AS tok
             |    FROM documents) t
             |), b AS (
             |  SELECT doc_id, j,
             |         CASE WHEN sum(CASE WHEN ((instr('0123456789abcdef',
             |                                    substr(md5(tok), 1 + (j // 4), 1)) - 1)
             |                               // CAST(pow(2, 3 - (j % 4)) AS INT)) % 2 = 1
             |                           THEN 1 ELSE -1 END) > 0
             |              THEN 1 ELSE 0 END AS bit
             |  FROM tok, range(64) r(j)
             |  GROUP BY doc_id, j
             |), nib AS (
             |  SELECT doc_id, j // 4 AS ni,
             |         sum(bit * CAST(pow(2, 3 - (j % 4)) AS INT)) AS v
             |  FROM b GROUP BY doc_id, j // 4
             |), fp AS (
             |  SELECT doc_id,
             |         string_agg(substr('0123456789abcdef', CAST(v AS INT) + 1, 1),
             |                    '' ORDER BY ni) AS simhash_hex
             |  FROM nib GROUP BY doc_id
             |)
             |SELECT doc_id, simhash_hex, substr(simhash_hex, 1, 4) AS sim_bucket
             |FROM fp ORDER BY doc_id""".stripMargin),
      (s, d) => Dedup.simHashMd5(documents(s, d), "doc_id", "text")
        .select(col("id").as("doc_id"), col("simhash_hex"),
          substring(col("simhash_hex"), 1, 4).as("sim_bucket"))
        .orderBy("doc_id")),

    // C4-style global line dedup: a "line" here is a 16-token block
    // (this corpus has no newlines), and a block survives only at its
    // FIRST corpus occurrence — (doc_id, block_idx) lexicographically
    // minimal over every occurrence of the same block text, compared
    // as a STRUCT (the old packed doc_id*1e6+bi key silently collided
    // for any document with ≥1e6 blocks — the width-cliff class, and
    // the oracle shared the formula so the harness was blind to it).
    // Scale shape: ONE explode of the corpus into a (line, doc)-grain
    // aggregate that is locally checkpointed — the dedup working set a
    // C4 pipeline materializes anyway — then the global-first
    // aggregation and the join back both read that materialization
    // instead of re-scanning and re-tokenizing the corpus (the
    // previous plan's two blk subtrees each paid the full scan).
    Q("dedup_lines",
      Some("""WITH tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), ' +') AS toks
             |            FROM documents),
             |blk AS (SELECT doc_id, bi,
             |          array_to_string(toks[1 + bi*16 : (bi+1)*16], ' ') AS line
             |        FROM tok, LATERAL unnest(range(CAST(ceil(len(toks) / 16.0) AS BIGINT))) r(bi)),
             |firsts AS (SELECT line, min({'d': doc_id, 'b': bi}) AS fk
             |           FROM blk GROUP BY line)
             |SELECT b.doc_id,
             |       count(*) AS n_blocks,
             |       CAST(sum(CASE WHEN b.doc_id = (f.fk).d AND b.bi = (f.fk).b
             |                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
             |FROM blk b JOIN firsts f USING (line)
             |GROUP BY b.doc_id ORDER BY doc_id""".stripMargin),
      (s, d) => {
        val blk = documents(s, d)
          .select(col("doc_id"), Dedup.tokensCol(col("text")).as("toks"))
          .select(col("doc_id"),
            posexplode(expr(
              """transform(sequence(0, CAST(ceil(size(toks) / 16.0) AS INT) - 1),
                |          bi -> array_join(slice(toks, 1 + bi*16, 16), ' '))"""
                .stripMargin)))
          .select(col("doc_id"), col("pos").cast("long").as("bi"),
            col("col").as("line"))
        // (line, doc) grain: occurrence count + first position within
        // the doc. Lexicographic min over (doc_id, min_bi) equals the
        // occurrence-level min, so the rollup loses nothing.
        val g1 = blk.groupBy("line", "doc_id")
          .agg(count(lit(1)).as("n_occ"), min(col("bi")).as("min_bi"))
          .localCheckpoint()
        val firsts = g1.groupBy("line")
          .agg(min(struct(col("doc_id").as("d"), col("min_bi").as("b")))
            .as("fk"))
        g1.join(firsts, "line")
          .groupBy("doc_id").agg(
            sum(col("n_occ")).as("n_blocks"),
            sum(when(col("doc_id") === col("fk.d") &&
              col("min_bi") === col("fk.b"), 1L).otherwise(0L)).as("n_kept"))
          .orderBy("doc_id")
      }),

    // duplicate-group assignment: connected components over the
    // verified near-dup pairs (docs in no pair form their own group).
    // A pipeline picks survivors / caps group sizes from THIS table;
    // the kept-corpus queries above are its one-survivor projection.
    // Oracle: transitive closure via recursive CTE over the same exact
    // Jaccard ≥ 0.7 pairs.
    Q("dedup_clusters",
      Some(s"""$clusterOracleCte
             |SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS cluster_id
             |FROM documents d LEFT JOIN cl USING (doc_id)
             |ORDER BY doc_id""".stripMargin),
      (s, d) => {
        val docs = documents(s, d)
        val edges = Dedup.nearDupPairs(docs, "doc_id", "text", 0.7)
          .select("id_a", "id_b")
        val cc = graft.ops.Graph.connectedComponents(edges)
          .withColumnRenamed("id", "doc_id")
        docs.select("doc_id").join(cc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("cluster_id"))
          .orderBy("doc_id")
      }),

    // n-gram-Jaccard near-dedup → kept corpus (inverted index with
    // df-cutoff, count-based Jaccard ≥ 0.5). Oracle: same count-based
    // Jaccard in DuckDB (df cutoff omitted — max shingle df is 25 on
    // this corpus, so the cutoff never fires; margins to the 0.5
    // threshold are ≥ 0.3, far beyond float noise).
    Q("dedup_ngram",
      Some(jaccardKeptOracle(0.5)),
      (s, d) => Dedup.dedupNgram(documents(s, d), "doc_id", "text")
        .select("doc_id").orderBy("doc_id")),

    // asymmetric containment (|A∩B|/|A| ≥ 0.8): sub-document dup
    // detection — the direction-sensitive complement of dedup_ngram's
    // symmetric Jaccard. The ratio divides two small exact integers,
    // so the threshold compare and the µ-scaled output are engine-exact
    // with no margin analysis needed.
    Q("dedup_containment",
      Some(s"""$jaccardCtePrefix,
              |wp AS (SELECT ia, ib, ns, sa.n AS na, sb.n AS nb FROM pairs
              |       JOIN sizes sa ON sa.doc_id = pairs.ia
              |       JOIN sizes sb ON sb.doc_id = pairs.ib),
              |c AS (SELECT ia AS inner_id, ib AS outer_id,
              |             CAST(ns AS DOUBLE) / na AS ct FROM wp
              |      UNION ALL
              |      SELECT ib, ia, CAST(ns AS DOUBLE) / nb FROM wp)
              |SELECT inner_id, outer_id,
              |       CAST(round(ct * 1e6) AS BIGINT) AS containment_micro
              |FROM c WHERE ct >= 0.8 ORDER BY inner_id, outer_id""".stripMargin),
      (s, d) => Dedup.containmentPairs(documents(s, d), "doc_id", "text", 0.8)
        .select(col("inner_id"), col("outer_id"),
          round(col("containment") * 1e6).cast("long").as("containment_micro"))
        .orderBy("inner_id", "outer_id")),

    // similarity histogram of the verified pair space: how much mass
    // sits at each Jaccard band ≥ 0.7 — the threshold-tuning view a
    // dedup rollout reads before committing to a cutoff. µ-scaled
    // Jaccard buckets into exact 0.05-wide integer bins.
    Q("dedup_pair_histogram",
      Some(s"""$jaccardCtePrefix,
             |j AS (SELECT CAST(round(CAST(ns AS DOUBLE) / (sa.n + sb.n - ns) * 1e6)
             |             AS BIGINT) AS j6
             |      FROM pairs
             |      JOIN sizes sa ON sa.doc_id = pairs.ia
             |      JOIN sizes sb ON sb.doc_id = pairs.ib
             |      WHERE CAST(ns AS DOUBLE) / (sa.n + sb.n - ns) >= 0.7)
             |SELECT CAST(j6 // 50000 * 50000 AS BIGINT) AS bin_lo_e6,
             |       count(*) AS n_pairs
             |FROM j GROUP BY 1 ORDER BY bin_lo_e6""".stripMargin),
      (s, d) => Dedup.nearDupPairs(documents(s, d), "doc_id", "text", 0.7)
        .select(expr("CAST(round(jaccard * 1e6) AS BIGINT)").as("j6"))
        .select(expr("j6 div 50000 * 50000").as("bin_lo_e6"))
        .groupBy("bin_lo_e6").agg(count(lit(1)).as("n_pairs"))
        .orderBy("bin_lo_e6")),

    // train/eval decontamination: drop every TRAIN doc that near-dups
    // an EVAL doc (doc_id % 10 = 0 stands in for the benchmark set) —
    // the leakage-removal pass a training corpus runs before any
    // eval is trusted. Reuses the same LSH candidate machinery as
    // dedup_minhash: the cross-set pairs are a filter over the
    // verified pair stream, so decontamination costs ONE extra anti
    // join beyond the dedup the pipeline already pays.
    Q("dedup_decontaminate",
      Some(s"""$jaccardCtePrefix,
             |jp AS (SELECT ia, ib FROM pairs
             |       JOIN sizes sa ON sa.doc_id = pairs.ia
             |       JOIN sizes sb ON sb.doc_id = pairs.ib
             |       WHERE CAST(ns AS DOUBLE) / (sa.n + sb.n - ns) >= 0.7),
             |bad AS (SELECT ib AS id FROM jp WHERE ia % 10 = 0 AND ib % 10 <> 0
             |        UNION
             |        SELECT ia FROM jp WHERE ib % 10 = 0 AND ia % 10 <> 0)
             |SELECT doc_id FROM documents
             |WHERE doc_id % 10 <> 0 AND doc_id NOT IN (SELECT id FROM bad)
             |ORDER BY doc_id""".stripMargin),
      (s, d) => {
        val docs = documents(s, d)
        val pairs = Dedup.nearDupPairs(docs, "doc_id", "text", 0.7)
          .select("id_a", "id_b")
        val contaminated = pairs
          .filter(col("id_a") % 10 === 0 && col("id_b") % 10 =!= 0)
          .select(col("id_b").as("doc_id"))
          .union(pairs
            .filter(col("id_b") % 10 === 0 && col("id_a") % 10 =!= 0)
            .select(col("id_a").as("doc_id")))
          .distinct()
        docs.filter(col("doc_id") % 10 =!= 0)
          .join(contaminated, Seq("doc_id"), "left_anti")
          .select("doc_id").orderBy("doc_id")
      }),

    // CROSS-MODAL dedup agreement: every verified text near-dup pair
    // annotated with whether the documents' EMBEDDINGS also call them
    // similar (cosine ≥ 0.2 — the dedup_embedding threshold; margins
    // to it are ≥ 1e-2 at every SF, far beyond float noise). The QA
    // view that decides whether text LSH and vector similarity are
    // telling the same story. The pair stream is the shared
    // materialization; embeddings join by the aligned id.
    Q("dedup_cross_modal",
      Some(s"""$jaccardCtePrefix,
             |e AS (SELECT ia, ib,
             |             CAST(round(CAST(ns AS DOUBLE) / (sa.n + sb.n - ns) * 1e6) AS BIGINT)
             |               AS jaccard_e6
             |      FROM pairs
             |      JOIN sizes sa ON sa.doc_id = pairs.ia
             |      JOIN sizes sb ON sb.doc_id = pairs.ib
             |      WHERE CAST(ns AS DOUBLE) / (sa.n + sb.n - ns) >= 0.7)
             |SELECT e.ia AS id_a, e.ib AS id_b, e.jaccard_e6,
             |       CAST(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
             |                                   CAST(eb.embedding AS DOUBLE[])) >= 0.2
             |            AS BOOLEAN) AS emb_agrees
             |FROM e JOIN embeddings ea ON ea.vec_id = e.ia
             |       JOIN embeddings eb ON eb.vec_id = e.ib
             |ORDER BY id_a, id_b""".stripMargin),
      (s, d) => {
        val pairs = Dedup.nearDupPairs(documents(s, d), "doc_id", "text", 0.7)
          .select(col("id_a"), col("id_b"),
            expr("CAST(round(jaccard * 1e6) AS BIGINT)").as("jaccard_e6"))
        val emb = embeddings(s, d)
        graft.plans.GraftFunctions.register(s)
        // embeddings SCALE with the corpus — unhinted; the verified
        // pair table is the small side, AQE builds on it (r9 policy)
        pairs
          .join(emb.select(col("vec_id").as("id_a"),
            col("embedding").as("ea")), "id_a")
          .join(emb.select(col("vec_id").as("id_b"),
            col("embedding").as("eb")), "id_b")
          .select(col("id_a"), col("id_b"), col("jaccard_e6"),
            (call_function("cosine_sim", col("ea"), col("eb")) >= 0.2)
              .as("emb_agrees"))
          .orderBy("id_a", "id_b")
      }),

    // Duplicated-SPAN trimming (Lee et al. 2021, "Deduplicating
    // Training Data Makes Language Models Better", arXiv:2107.06499 —
    // ExactSubstr): remove every ≥k-token span whose text occurs
    // elsewhere in the corpus, keeping ONE copy. The paper's suffix
    // array is a single-machine structure; the distributed spelling is
    // rolling k-token windows at EVERY offset (vs dedup_lines' strided
    // blocks) → group by window text → the globally-first occurrence
    // (min (doc_id, pos), order-free determinism) is the kept copy;
    // every other occurrence marks its k positions for removal, and
    // overlapping marked windows merge into maximal cut spans
    // implicitly via the position-set union. Output per doc: token
    // count, tokens cut, and the TRIMMED text (kept tokens rejoined in
    // order) — the artifact a training pipeline feeds downstream.
    // Scale shape: the window explode is k rows per token (linear in
    // corpus tokens, the cost the paper's suffix array also pays in
    // construction); the window groupBy is map-side combinable; the
    // covered-position set is ≤ k·dup_occurrences with per-doc bounded
    // groups; the trimmed-text rebuild sorts ≤ |doc| tokens per group
    // (bounded-buffer policy: per-doc arrays are document-length-
    // bounded, the same bound text_chunks/text_pack_bins carry).
    Q("dedup_span_trim",
      Some("""WITH t AS (SELECT doc_id,
             |            string_split_regex(lower(trim(text)), ' +') AS toks
             |          FROM documents),
             |w AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
             |        substring(md5(array_to_string(toks[i+1 : i+8], ' ')), 1, 16) AS g
             |      FROM t, LATERAL unnest(range(len(toks) - 7)) r(i)),
             |f AS (SELECT g, count(*) AS c,
             |        min({'d': doc_id, 'p': pos}) AS fst FROM w GROUP BY g),
             |dup AS (SELECT w.doc_id, w.pos FROM w JOIN f USING (g)
             |        WHERE f.c > 1
             |          AND NOT (w.doc_id = (f.fst).d AND w.pos = (f.fst).p)),
             |cov AS (SELECT DISTINCT doc_id, pos + u AS cp
             |        FROM dup, LATERAL unnest(range(8)) r(u)),
             |tok AS (SELECT doc_id, CAST(i AS BIGINT) AS p, toks[i+1] AS tk
             |        FROM t, LATERAL unnest(range(len(toks))) r(i)),
             |kept AS (SELECT tok.doc_id, tok.p, tok.tk FROM tok
             |         LEFT JOIN cov ON cov.doc_id = tok.doc_id
             |                      AND cov.cp = tok.p
             |         WHERE cov.doc_id IS NULL),
             |ka AS (SELECT doc_id, count(*) AS n_kept,
             |         string_agg(tk, ' ' ORDER BY p) AS trimmed
             |       FROM kept GROUP BY doc_id)
             |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tok,
             |       CAST(len(t.toks) - coalesce(ka.n_kept, 0) AS BIGINT) AS n_cut,
             |       coalesce(ka.trimmed, '') AS trimmed
             |FROM t LEFT JOIN ka ON ka.doc_id = t.doc_id
             |ORDER BY t.doc_id""".stripMargin),
      (s, d) => {
        val k = 8
        val t = documents(s, d)
          .select(col("doc_id"), Dedup.tokensCol(col("text")).as("toks"))
        // windows group by a 16-hex-char md5 FINGERPRINT, not the raw
        // k-token string — identical grouping (the dedup_fingerprint
        // md5-identity precedent), ~3× fewer shuffle bytes on this
        // corpus and more on real prose (fixed 16 bytes vs k tokens)
        // consumed twice (the first-occurrence groupBy and the dup
        // join) — checkpoint so the scan + window-fingerprint explode
        // runs once; at 26 B/row the materialization is smaller than
        // the token text it derives from
        val w = t.filter(size(col("toks")) >= k)
          .select(col("doc_id"),
            posexplode(transform(sequence(lit(0), size(col("toks")) - k),
              i => substring(md5(
                array_join(slice(col("toks"), i + 1, lit(k)), " ")), 1, 16))))
          .select(col("doc_id"), col("pos").cast("long").as("pos"),
            col("col").as("g"))
          .localCheckpoint()
        val f = w.groupBy("g").agg(count(lit(1)).as("c"),
          min(struct(col("doc_id").as("d"), col("pos").as("p"))).as("fst"))
        val dup = w.join(f, "g")
          .filter(col("c") > 1 &&
            !(col("doc_id") === col("fst.d") && col("pos") === col("fst.p")))
          .select(col("doc_id"), col("pos"))
        val cov = dup
          .select(col("doc_id"),
            explode(sequence(col("pos"), col("pos") + (k - 1))).as("cp"))
          .distinct()
        val tok = t.select(col("doc_id"),
            posexplode(col("toks")).as(Seq("p", "tk")))
          .select(col("doc_id"), col("p").cast("long").as("p"), col("tk"))
        val ka = tok.join(cov,
            tok("doc_id") === cov("doc_id") && tok("p") === cov("cp"),
            "left_anti")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_kept"),
            array_join(transform(
              array_sort(collect_list(struct(col("p"), col("tk")))),
              x => x.getField("tk")), " ").as("trimmed"))
        t.join(ka, Seq("doc_id"), "left")
          .select(col("doc_id"), size(col("toks")).cast("long").as("n_tok"),
            (size(col("toks")).cast("long") -
              coalesce(col("n_kept"), lit(0L))).as("n_cut"),
            coalesce(col("trimmed"), lit("")).as("trimmed"))
          .orderBy("doc_id")
      })
  )

  /** Stages the base-corpus dedup index (Dedup.writeIndex over
    * doc_id % 5 ≠ 0 — per-doc `ix`, postings `post`, bucket-stats
    * sidecar `bk`) ONCE per testdata generation and returns its root —
    * the persisted artifact both `dedup_index_build` (phase 1, content
    * check of `ix`) and `dedup_incremental` (phase 2, delta probe over
    * all three parts) read, so the probe plan scans the index
    * artifacts, never base text. Versioning/publication/reaping are
    * stageOnce's (see there and SCALE.md "staged-artifact lifecycle").
    */
  private[graft] def stagedIndexPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    stageOnce("graft_dedup_index4_", dir) { root =>
      Dedup.writeIndex(
        documents(s, dir).filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", root)
    }

  /** Stages the `dedup_index_append` multi-day artifact once per
    * testdata generation: day-0 index over doc_id % 3 = 0, then day-1
    * delta (doc_id % 3 = 1) screened and its ACCEPTED rows' index
    * entries appended via [[Dedup.appendIndex]] — so the published
    * artifact is a genuinely grown index (parquet appends on all
    * three parts, bucket stats as mergeable partials), which the
    * registered query's day-2 probe then reads. Same
    * versioned-by-generation, create-only publication as the base
    * index stage. */
  private[graft] def stagedAppendPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    stageOnce("graft_dedup_append3_", dir) { root =>
      val docs = documents(s, dir)
      Dedup.writeIndex(docs.filter(col("doc_id") % 3 === 0),
        "doc_id", "text", root)
      val acc1 = Dedup.incrementalAcceptIndexed(Dedup.readIndex(s, root),
        docs.filter(col("doc_id") % 3 === 1), "doc_id", "text")
      Dedup.appendIndex(root, acc1, "doc_id", "text")
    }

  /** Stages the `dedup_index_erase` artifact once per testdata
    * generation: index over the doc_id % 5 ≠ 0 base (the
    * dedup_index_build population), then [[Dedup.eraseFromIndex]] of
    * the % 10 = 1 members and a purging [[Dedup.compactIndexStats]],
    * with require()s pinning the physical purge and the tombstone
    * reset. */
  private[graft] def stagedTextErasePath(
      s: org.apache.spark.sql.SparkSession, dir: String): String =
    stageOnce("graft_dedup_erase3_", dir) { root =>
      val docs = documents(s, dir)
      Dedup.writeIndex(docs.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", root)
      Dedup.eraseFromIndex(root,
        docs.filter(col("doc_id") % 10 === 1)
          .select(col("doc_id").as("id")))
      Dedup.compactIndexStats(s, root)
      def live(part: String) = graft.io.IndexStore.open(s, root, part)
      require(s.read.parquet(Dedup.ixLive(root))
        .filter(col("id") % 10 === 1).limit(1).count() == 0,
        "text erase stage: erased rows survived the ix purge")
      require(live("post")
        .filter(col("id") % 10 === 1).limit(1).count() == 0,
        "text erase stage: erased rows survived the post purge")
      require(live("tomb").count() == 0,
        "text erase stage: tombstone list not reset")
    }

  /** Stages the `dedup_index_rebuild` artifact: the index is built
    * over the % 20 = 0 twentieth at the default 16×4 curation
    * geometry, the other nineteen twentieths append at that frozen
    * geometry, and the density-triggered rebuild fires under the
    * staged denseAt = 100 posture — the full live count resolves 8×8
    * at every SF — re-signing the corpus from raw text and publishing
    * it as model generation 1. The require()s pin the lifecycle:
    * fired once, generation 0 byte-intact for in-flight readers,
    * trigger quiescent at the new generation. */
  private[graft] def stagedRebuildPath(
      s: org.apache.spark.sql.SparkSession, dir: String): String =
    stageOnce("graft_dedup_rebuild1_", dir) { root =>
      val docs = documents(s, dir)
      Dedup.writeIndex(docs.filter(col("doc_id") % 20 === 0),
        "doc_id", "text", root)
      Dedup.appendIndex(root,
        docs.filter(col("doc_id") % 20 =!= 0), "doc_id", "text")
      val gen0Ix = Dedup.ixLive(root)
      val before = s.read.parquet(gen0Ix).count()
      require(Dedup.rebuildIfDense(s, root, docs, "doc_id", "text",
          denseAt = 100).isDefined,
        "text rebuild stage: density trigger did not fire on the " +
          "twentieth-sized build geometry")
      require(graft.io.IndexStore.liveRoot(root).contains("modelgen"),
        "text rebuild stage: live root did not move to the new generation")
      require(s.read.parquet(gen0Ix).count() == before,
        "text rebuild stage: generation 0 mutated — stale readers broken")
      require(Dedup.rebuildIfDense(s, root, docs, "doc_id", "text",
          denseAt = 100).isEmpty,
        "text rebuild stage: trigger not quiescent at the new generation")
    }

  /** Stages the `dedup_index_maintain` artifact: a DAMAGED index — a
    * twentieth-sized build, the rest appended at that frozen geometry,
    * one slice ([[% 20 = 5]]) replayed end-to-end (the
    * postings-per-doc invariant violated, ix rows duplicated), the
    * % 10 = 1 members erased but not yet purged — healed by ONE
    * [[Dedup.maintainIndex]] nightly pass at the default curation
    * posture (the density trigger stays quiet: both the build slice
    * and the live corpus resolve 16×4 below DefaultDenseAt). The
    * require()s pin the report (compacted, repaired, no
    * regeneration) and that a second pass is a three-way no-op. */
  private[graft] def stagedMaintainPath(
      s: org.apache.spark.sql.SparkSession, dir: String): String =
    stageOnce("graft_dedup_maintain1_", dir) { root =>
      val docs = documents(s, dir)
      Dedup.writeIndex(docs.filter(col("doc_id") % 20 === 0),
        "doc_id", "text", root)
      Dedup.appendIndex(root,
        docs.filter(col("doc_id") % 20 =!= 0), "doc_id", "text")
      Dedup.appendIndex(root,
        docs.filter(col("doc_id") % 20 === 5), "doc_id", "text")
      Dedup.eraseFromIndex(root,
        docs.filter(col("doc_id") % 10 === 1)
          .select(col("doc_id").as("id")))
      val live = docs.filter(col("doc_id") % 10 =!= 1)
      val rep = Dedup.maintainIndex(s, root, live, "doc_id", "text")
      require(rep.compacted && rep.repaired && rep.regenerated.isEmpty,
        s"text maintain stage: unexpected report $rep")
      require(Dedup.maintainIndex(s, root, live, "doc_id", "text").noop,
        "text maintain stage: second pass not a no-op")
    }

  /** Stages the `dedup_index_compact` artifact once per testdata
    * generation: day-0 index over doc_id % 8 = 0, three unscreened
    * delta appends (% 8 ∈ {1,2,3}, each leaving a `bk` partial
    * row-set), then [[Dedup.compactIndexStats]] — with require()s
    * pinning that partials existed, the % 8 = 4 probe result is
    * bit-identical across compaction, and the compacted sidecar is
    * one row per bucket. */
  private[graft] def stagedTextCompactPath(
      s: org.apache.spark.sql.SparkSession, dir: String): String =
    stageOnce("graft_dedup_compact3_", dir) { root =>
      val docs = documents(s, dir)
      Dedup.writeIndex(docs.filter(col("doc_id") % 8 === 0),
        "doc_id", "text", root)
      (1 to 3).foreach(m => Dedup.appendIndex(root,
        docs.filter(col("doc_id") % 8 === m), "doc_id", "text"))
      def bk = s.read.parquet(graft.io.IndexStore.live(root, "bk"))
      val (rows, buckets) = (bk.count(), bk.select("bk").distinct().count())
      require(rows > buckets,
        s"text compact stage: no partials to compact ($rows/$buckets)")
      def probeIds = Dedup.incrementalAcceptIndexed(
          Dedup.readIndex(s, root),
          docs.filter(col("doc_id") % 8 === 4), "doc_id", "text")
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      val before = probeIds
      Dedup.compactIndexStats(s, root)
      require(bk.count() == buckets,
        "text compact stage: sidecar not one row per bucket")
      require(probeIds == before,
        "text compact stage: probe result changed across compaction")
    }

  /** Stages the `dedup_index_repair` artifact once per testdata
    * generation: index over doc_id % 4 ∈ {0,1}, then a SIMULATED torn
    * append of the % 4 = 2 delta — the two DERIVED appends (postings,
    * bucket-stat partials) land, the crash hits before the `ix`
    * append, which is exactly the tear [[Dedup.appendIndex]]'s
    * ix-last ordering confines a real crash to — then
    * [[Dedup.repairIndex]], which must detect the tear (postings ≠
    * Bands rows per ix doc), re-derive post/bk from `ix` as next
    * create-only generations, and be a detected no-op on a second
    * call. The published artifact is the REPAIRED index; the
    * registered query audits its postings invariant and probes it. */
  private[graft] def stagedRepairPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    stageOnce("graft_dedup_repair3_", dir) { root =>
      val docs = documents(s, dir)
      Dedup.writeIndex(docs.filter(col("doc_id") % 4 <= 1),
        "doc_id", "text", root)
      val delta1 = docs.filter(col("doc_id") % 4 === 2)
      // the torn-append simulation writes the derived frames straight
      // from the delta's plan — no snapshot needed, because
      // unlike a real appendIndex input this delta reads the SOURCE
      // parquet, not the index being grown (no lineage trap); the tear
      // it leaves (post/bk landed, ix not) is the one the append's
      // derived-first, record-last order permits
      val ixd = Dedup.buildIndex(delta1, "doc_id", "text")
      Dedup.indexPostings(ixd).write.mode("append").parquet(s"$root/post")
      graft.io.IndexStore.bucketStats(Dedup.indexPostings(ixd))
        .write.mode("append").parquet(s"$root/bk")
      require(Dedup.repairIndex(s, root),
        "repair stage: torn append not detected")
      require(!Dedup.repairIndex(s, root),
        "repair stage: repair not idempotent")
    }

  /** Document-keyed staging — delegates to the ONE shared spelling
    * ([[graft.io.Staging.stageOnce]], keyed on documents.parquet). */
  private[graft] def stageOnce(prefix: String, dir: String)(
      build: String => Unit): String =
    graft.io.Staging.stageOnce(prefix, dir, "documents.parquet")(build)

  /** Shared DuckDB CTE prefix: exact distinct-3-shingle sets, inverted
    * index, shared-shingle pair counts, set sizes — the same
    * tokenization as graft.plans.MinHashKernel (lower → trim →
    * split ' +'; short docs collapse to one whole-text shingle). Both
    * the kept-corpus and pair-level oracles build on THIS text, so the
    * two contracts cannot silently diverge. */
  private[graft] val jaccardCtePrefix: String =
    """WITH d AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
      |    THEN list_transform(range(len(toks)-2),
      |         i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
      |    ELSE [array_to_string(toks, ' ')] END) AS sh
      |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), ' +') AS toks
      |        FROM documents) t),
      |inv AS (SELECT doc_id, unnest(sh) AS ng FROM d),
      |pairs AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS ns
      |          FROM inv a JOIN inv b ON a.ng = b.ng AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |sizes AS (SELECT doc_id, len(sh) AS n FROM d)""".stripMargin

  /** fp-screened RESIDUAL spelling of [[jaccardCtePrefix]] for the
    * incremental-probe oracles — the spelling that stays FEASIBLE at
    * the 100× replica-mass corpus, where the full pair CTE spills
    * > 90 GB and dies (SERIAL.md round 14). Exact shingle-set
    * replicas are removed from BOTH sides before the quadratic pair
    * scan, mirroring (and independently re-deriving) the engine's
    * layer-0 screen:
    *
    *  - the BASE side keeps one representative per distinct shingle
    *    set (min doc_id; rejection by an indexed doc is id-agnostic,
    *    and J(d, b) depends only on sh(b), so set-equal base twins
    *    are interchangeable references);
    *  - a DELTA doc survives iff no base doc shares its set and it is
    *    the min-id delta doc of its set (otherwise it is fp-rejected
    *    — and, being set-equal to its surviving representative rep(x)
    *    with rep(x) ≤ x, every doc it would block is equally blocked
    *    by rep(x), which is a base doc or a lower-id delta survivor —
    *    the transitivity argument documented at the engine's screen,
    *    Dedup.incrementalAcceptIndexed layer 0).
    *
    * The reduction is therefore an EQUALITY, not an approximation:
    * the pair scan over (base representatives ∪ delta survivors)
    * yields exactly the full oracle's delta rejections. Replica
    * grouping keys on the SORTED SHINGLE LIST itself (GROUP BY a
    * list value — collision-proof set equality, the SQL analogue of
    * the engine screen's set-equality verify), not an md5 of it.
    *
    * Exposes the same d/inv/pairs/sizes names as [[jaccardCtePrefix]]
    * (over the residual corpus) plus `dsurv` (surviving delta ids —
    * the accepted-candidates population downstream SELECTs filter)
    * and `sizes_all` (per-doc set sizes over the FULL population, for
    * outputs that enumerate non-probe rows). */
  private[graft] def jaccardResidualCte(base: String,
      delta: String): String =
    s"""WITH d0 AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
       |    THEN list_transform(range(len(toks)-2),
       |         i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
       |    ELSE [array_to_string(toks, ' ')] END) AS sh
       |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), ' +') AS toks
       |        FROM documents WHERE ($base) OR ($delta)) t),
       |f AS (SELECT doc_id, sh, list_sort(sh) AS key FROM d0),
       |bfp AS (SELECT key, min(doc_id) AS md FROM f
       |        WHERE $base GROUP BY key),
       |dg AS (SELECT key, min(doc_id) AS md FROM f
       |       WHERE $delta GROUP BY key),
       |dsurv AS (SELECT md AS doc_id FROM dg
       |          WHERE NOT EXISTS (SELECT 1 FROM bfp
       |                            WHERE bfp.key = dg.key)),
       |d AS (SELECT f.doc_id, f.sh FROM f
       |      WHERE f.doc_id IN (SELECT md FROM bfp)
       |         OR f.doc_id IN (SELECT doc_id FROM dsurv)),
       |inv AS (SELECT doc_id, unnest(sh) AS ng FROM d),
       |pairs AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS ns
       |          FROM inv a JOIN inv b ON a.ng = b.ng AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, len(sh) AS n FROM d),
       |sizes_all AS (SELECT doc_id, len(sh) AS n FROM f)""".stripMargin

  /** Shared cluster-assignment oracle CTE: exact Jaccard ≥ 0.7 pairs →
    * transitive closure (recursive CTE) → min-reachable-id per node as
    * `cl(doc_id, cluster_id)`. Used by dedup_clusters here and
    * dedup_survivors (ops.Extras3). */
  private[graft] val clusterOracleCte: String =
    s"""${jaccardCtePrefix.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |e AS (SELECT ia AS a, ib AS b FROM pairs
       |      JOIN sizes sa ON sa.doc_id = pairs.ia
       |      JOIN sizes sb ON sb.doc_id = pairs.ib
       |      WHERE CAST(ns AS DOUBLE) / (sa.n + sb.n - ns) >= 0.7),
       |edges AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
       |reach AS (SELECT a AS s, b AS t FROM edges
       |          UNION SELECT r.s, e2.b FROM reach r JOIN edges e2 ON r.t = e2.a),
       |cl AS (SELECT s AS doc_id, least(s, min(t)) AS cluster_id
       |       FROM reach GROUP BY s)""".stripMargin

  /** Kept-corpus oracle for the fuzzy dedups: drop the higher doc_id of
    * every pair with exact shingle-Jaccard ≥ threshold. */
  private def jaccardKeptOracle(threshold: Double): String =
    s"""$jaccardCtePrefix,
       |dup AS (SELECT DISTINCT ib FROM pairs
       |        JOIN sizes sa ON sa.doc_id = pairs.ia
       |        JOIN sizes sb ON sb.doc_id = pairs.ib
       |        WHERE CAST(ns AS DOUBLE) / (sa.n + sb.n - ns) >= $threshold)
       |SELECT doc_id FROM documents
       |WHERE doc_id NOT IN (SELECT ib FROM dup) ORDER BY doc_id""".stripMargin
}
