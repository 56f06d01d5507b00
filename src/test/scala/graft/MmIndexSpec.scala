package graft

import graft.multimodal.{MmIndex, Multimodal}
import org.apache.spark.sql.functions._

/** Persisted multimodal perceptual-hash index — build/append/probe
  * lifecycle over a tiny synthetic media lake. Mirrors DedupSpec's
  * lifecycle coverage for the text index. */
class MmIndexSpec extends SparkSpec {
  import spark.implicits._

  /** A tiny documents-shaped frame → media lake via the production
    * generator. doc_id % 3 picks the modality; equal (modality,
    * fingerprint) requires equal aHash cells, which for the synthetic
    * pixel/sample formulas happens when the generator parameters
    * (doc_id-derived) collide — so dup pairs are constructed by
    * reusing parameters that make the closed forms equal. */
  private def lake(ids: Seq[Long]) =
    Multimodal.synthMediaTable(spark,
      ids.map(id => (id, "x" * (id % 7 + 3).toInt, (id % 7 + 3)))
        .toDF("doc_id", "text", "n_chars"))

  /** Brute-force acceptance: delta ids whose (media_type, hi, lo)
    * matches no base signature and no lower-id delta signature. */
  private def bruteAccept(base: Seq[Long], delta: Seq[Long]): Set[Long] = {
    def sigs(ids: Seq[Long]) = MmIndex.signatures(spark, lake(ids))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    val b = sigs(base).values.toSet
    val d = sigs(delta)
    d.filter { case (id, s) =>
      !b.contains(s) && !d.exists { case (id2, s2) => s2 == s && id2 < id }
    }.keySet
  }

  test("build → read round-trips every signature bit") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mmix").toString
    val base = lake(1L to 30L)
    MmIndex.writeIndex(base, dir)
    val persisted = MmIndex.readIndex(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), r.getLong(3))).toSet
    val inPlan = MmIndex.signatures(spark, base)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), r.getLong(3))).toSet
    assert(persisted == inPlan && persisted.size == 30)
    // all three modalities present (doc_id % 3 spans 0/1/2)
    assert(persisted.map(_._2) == Set("image", "audio", "video"))
  }

  test("incrementalAccept == brute force, including intra-delta min-id " +
      "and exact-dup rejection across modalities") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mmix2").toString
    val base = 1L to 30L
    // delta reuses ids ≡ base ids' generator params where id repeats
    // mod the formula inputs: ids 31..60 collide with 1..30 whenever
    // the closed forms coincide; ids 1000+k are fresh
    val delta = (31L to 60L) ++ (1001L to 1010L)
    MmIndex.writeIndex(lake(base), dir)
    val got = MmIndex.incrementalAccept(
        MmIndex.readIndex(spark, dir), lake(delta))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == bruteAccept(base, delta),
      s"got=$got want=${bruteAccept(base, delta)}")
    // the screen actually fires both ways on this corpus: something
    // was rejected, something accepted
    assert(got.nonEmpty && got.size < delta.size)
  }

  test("append composes: day-2 probe sees day-1 accepted signatures") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mmix3").toString
    val base = 1L to 12L
    val day1 = 101L to 112L
    val day2 = 201L to 224L
    MmIndex.writeIndex(lake(base), dir)
    val acc1 = MmIndex.incrementalAccept(
      MmIndex.readIndex(spark, dir), lake(day1))
    MmIndex.appendIndex(dir, acc1)
    val acc1Ids = acc1.select("doc_id").collect().map(_.getLong(0)).toSet
    val got2 = MmIndex.incrementalAccept(
        MmIndex.readIndex(spark, dir), lake(day2))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // sequential-fold oracle: day2 vs base ∪ accepted day1
    assert(got2 == bruteAccept(base ++ acc1Ids.toSeq.filter(day1.contains),
      day2))
    // the appended artifact holds exactly base + accepted day1 rows
    assert(MmIndex.readIndex(spark, dir).count() ==
      base.size + acc1Ids.size)
  }

  test("erasure: a tombstoned object can neither appear in a read nor " +
      "reject a delta; compaction purges physically and resets tombs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mmix5").toString
    val base = 1L to 30L
    MmIndex.writeIndex(lake(base), dir)
    import spark.implicits._
    // erase doc 7; a delta replica of doc 7's media must now be ACCEPTED
    MmIndex.eraseFromIndex(dir, Seq(7L).toDF("doc_id"))
    assert(MmIndex.readIndex(spark, dir)
      .filter(col("doc_id") === 7L).count() == 0)
    // 7's dup twin in the delta: id 7 + k where the generator params
    // coincide — easiest exact twin is the same id re-presented with a
    // fresh delta id whose signature equals 7's (lake() derives text
    // and dims from id, so use id 7 itself in a delta frame with a
    // HIGHER id carrying 7's payload row)
    val sig7 = MmIndex.signatures(spark, lake(Seq(7L)))
      .select("media_type", "phash_hi", "phash_lo").head()
    val deltaLake = lake(Seq(7L)).withColumn("doc_id", lit(1007L))
    val acc = MmIndex.incrementalAccept(MmIndex.readIndex(spark, dir),
      deltaLake).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(acc == Set(1007L),
      s"erased signature still rejects: sig=$sig7 accepted=$acc")
    // before compaction the erased row is physically present (tomb-
    // filtered at read); compaction purges it and resets the tombs
    assert(spark.read.parquet(MmIndex.sigLive(dir))
      .filter(col("doc_id") === 7L).count() == 1)
    MmIndex.compactIndex(spark, dir)
    assert(spark.read.parquet(MmIndex.sigLive(dir))
      .filter(col("doc_id") === 7L).count() == 0)
    assert(spark.read.parquet(
      graft.io.IndexStore.livePath(dir, "tomb").toString).count() == 0)
    assert(MmIndex.readIndex(spark, dir).count() == 29)
    // appends after compaction land in the live (purged) generation
    MmIndex.appendIndex(dir, lake(Seq(101L)))
    assert(MmIndex.readIndex(spark, dir).count() == 30)
  }

  test("repair: a replayed append's duplicate signature rows are " +
      "detected and healed by distinct-rewrite; repair is idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mmix6").toString
    MmIndex.writeIndex(lake(1L to 20L), dir)
    val delta = lake(101L to 110L)
    MmIndex.appendIndex(dir, delta)
    MmIndex.appendIndex(dir, delta) // the replay
    assert(spark.read.parquet(MmIndex.sigLive(dir)).count() == 40)
    val want = MmIndex.signatures(spark, lake((1L to 20L) ++ (101L to 110L)))
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), r.getLong(3))).toSet
    assert(MmIndex.repairIndex(spark, dir))
    assert(!MmIndex.repairIndex(spark, dir))
    val healed = spark.read.parquet(MmIndex.sigLive(dir))
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("media_type"), r.getAs[Long]("phash_hi"),
        r.getAs[Long]("phash_lo")))
    assert(healed.length == 30 && healed.toSet == want)
  }

  test("near-dup band probe ≡ brute-force Hamming ≤ 3: pigeonhole " +
      "completeness over planted distances 0..7, media_type keying, " +
      "intra-delta lower-id blocking") {
    // deterministic 64-bit mixer (splitmix64 finalizer) — no RNG state
    def h64(x: Long): Long = {
      var z = x + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def mt(i: Long) = Seq("image", "audio", "video")((i % 3).toInt)
    def flip(f: Long, id: Long, k: Int): Long = {
      var t = f; var j = 0
      // positions (5·id + 11·j) % 64 are distinct for j < 8
      while (j < k) { t ^= 1L << ((5 * id + 11 * j) % 64).toInt; j += 1 }
      t
    }
    val ixH = (1L to 60L).map(i => i -> h64(i)).toMap
    // deltas 103..142 sit at Hamming d % 8 ∈ 0..7 from source d − 102
    // (≡ d mod 3, so the media_type key matches); 201..220 are fresh;
    // 145/151 are intra-delta near-dups of 103/109 (same mt, Δ ≡ 0
    // mod 3) — blocked by a LOWER delta id, not by the index
    val base: Map[Long, Long] =
      ((103L to 142L).map(d => d -> flip(ixH(d - 102), d, (d % 8).toInt)) ++
        (201L to 220L).map(d => d -> h64(d * 7777))).toMap
    val dh: Map[Long, Long] = base +
      (145L -> flip(base(103L), 145L, 2)) +
      (151L -> flip(base(109L), 151L, 1))
    def split(f: Long) = ((f >>> 32) & 0xFFFFFFFFL, f & 0xFFFFFFFFL)
    val ixSig = ixH.toSeq.map { case (i, f) =>
      val (hi, lo) = split(f); (i, mt(i), hi, lo)
    }.toDF("doc_id", "media_type", "phash_hi", "phash_lo")
    val dSig = dh.toSeq.map { case (i, f) =>
      val (hi, lo) = split(f); (i, mt(i), hi, lo)
    }.toDF("doc_id", "media_type", "phash_hi", "phash_lo")
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val brute = dh.keySet.filter { d =>
      ixH.exists { case (b, f) => mt(b) == mt(d) && ham(dh(d), f) <= 3 } ||
        dh.exists { case (d2, f2) =>
          d2 < d && mt(d2) == mt(d) && ham(dh(d), f2) <= 3 }
    }
    val got = MmIndex.nearRejectionPlan(ixSig, dSig)
      .collect().map(_.getLong(0)).toSet
    assert(got == brute, s"band=$got brute=$brute")
    // the boundary is exercised on both sides: distances 0..3 planted
    // (rejected) and 4..7 planted (these specific pairs don't reject —
    // unless a chance collision elsewhere does, which brute reflects)
    assert((103L to 142L).filter(d => d % 8 <= 3).forall(brute.contains))
    assert(Seq(145L, 151L).forall(brute.contains)) // intra-delta blocks
    assert(got.size < dh.size && got.nonEmpty)
    // the LOOSE posture: 8×8-bit bands are pigeonhole-complete to
    // Hamming 7 — probed at ≤ 5 over the same planted distances, the
    // band probe still equals brute force (both verdict sides live:
    // distances 0..5 reject, 6..7 survive)
    val brute5 = dh.keySet.filter { d =>
      ixH.exists { case (b, f) => mt(b) == mt(d) && ham(dh(d), f) <= 5 } ||
        dh.exists { case (d2, f2) =>
          d2 < d && mt(d2) == mt(d) && ham(dh(d), f2) <= 5 }
    }
    val got5 = MmIndex.nearRejectionPlan(ixSig, dSig, maxDist = 5, nBands = 8)
      .collect().map(_.getLong(0)).toSet
    assert(got5 == brute5, s"band8=$got5 brute=$brute5")
    assert((103L to 142L).filter(d => d % 8 <= 5).forall(brute5.contains))
    assert(got5.size < dh.size && (got5 -- got).nonEmpty)
  }

  test("verbatim signature mass cannot evict a bucket: the guard counts " +
      "DISTINCT signatures, so tolerance verdicts survive a tiny maxBucket") {
    def split(f: Long) = ((f >>> 32) & 0xFFFFFFFFL, f & 0xFFFFFFFFL)
    val f0 = 0x0123456789ABCDEFL
    // index: 500 verbatim copies of ONE fingerprint (the crawl-mirror
    // mass) + a handful of unrelated signatures
    val ixSig = ((1L to 500L).map { i =>
      val (hi, lo) = split(f0); (i, "image", hi, lo)
    } ++ (600L to 605L).map { i =>
      val (hi, lo) = split(i * 0x9E3779B97F4A7C15L); (i, "image", hi, lo)
    }).toDF("doc_id", "media_type", "phash_hi", "phash_lo")
    // delta: 1000 sits two bits from f0 (a true near-dup), 1001 is far
    // from everything
    val dSig = Seq(
      { val (hi, lo) = split(f0 ^ 3L); (1000L, "image", hi, lo) },
      { val (hi, lo) = split(0x7777777777777777L); (1001L, "image", hi, lo) })
      .toDF("doc_id", "media_type", "phash_hi", "phash_lo")
    // guard at 4 distinct signatures per bucket: the 500-copy mass
    // collapses to ONE before the guard counts, so no bucket is hot
    // and the near-dup verdict holds — a raw-occupancy guard would
    // have dropped every band of the mass and silently accepted 1000
    val rejected = MmIndex.nearRejectionPlan(ixSig, dSig, maxBucket = 4L)
      .collect().map(_.getLong(0)).toSet
    assert(rejected == Set(1000L))
  }

  test("planted near-dup lake: every payload decodes to exactly " +
      "doc_id % 6 fingerprint bits from its always-indexed source") {
    val docs = (0L to 59L)
      .map(id => (id, "y" * (id % 9 + 2).toInt, id % 9 + 2))
      .toDF("doc_id", "text", "n_chars")
    val srcSig = MmIndex.signatures(spark,
        Multimodal.synthMediaTable(spark, docs))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    val ndSig = MmIndex.signatures(spark,
        Multimodal.synthNearDupMediaTable(spark, docs))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    // one planted row per % 5 = 0 doc with an existing successor
    assert(ndSig.keySet == (0L to 55L by 5).toSet)
    ndSig.foreach { case (d, (dmt, dhi, dlo)) =>
      val (smt, shi, slo) = srcSig(d + 1)
      assert(dmt == smt, s"delta $d modality drifted from source")
      val dist = java.lang.Long.bitCount(dhi ^ shi) +
        java.lang.Long.bitCount(dlo ^ slo)
      assert(dist == (d % 6).toInt, s"delta $d: dist $dist != ${d % 6}")
    }
  }

  test("probe plan decodes ONLY the delta: the rejection plan's file " +
      "relations are the sig parquet, no payload column; the accepted " +
      "plan rides the snapshot ledger (no file scan at all)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mmix4").toString
    MmIndex.writeIndex(lake(1L to 20L), dir)
    val delta = lake(21L to 30L)
    // the rejection subtree (what the checkpointed ledger computes):
    // every FILE relation is the persisted sig artifact (the delta
    // here is a local relation, as a micro-batch is); at 100 TB the
    // absent scan is the media lake's payload — indexed media bytes
    // are read zero times per probe
    val rej = MmIndex.rejectionPlan(MmIndex.readIndex(spark, dir),
      MmIndex.signatures(spark, delta))
    val rejScans = rej.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(rejScans.nonEmpty)
    assert(rejScans.forall(_.relation.location.rootPaths
      .forall(_.toString.contains(dir))))
    assert(!rejScans.exists(_.requiredSchema.fieldNames.contains("payload")))
    // the production probe consumes that subtree through a
    // checkpointed ledger: its own lazy plan touches NO files (delta
    // signatures and the rejection set are each computed once, shared
    // across the accepted-media and accepted-signature outputs)
    val probe = MmIndex.incrementalAccept(
      MmIndex.readIndex(spark, dir), delta)
    assert(probe.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.isEmpty)
  }
}
