package graft

import graft.text.Dedup
import org.apache.spark.sql.functions._

/** Fuzzy-dedup operators on synthetic near-duplicates (the testdata's
  * planted dups are covered by the driver-level rows-only checks). */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 1
    (3L, "spark engines shuffle data between executors during wide transformations"),
    (4L, "completely different content about databases and storage formats parquet"),
    (5L, "the quick brown fox jumps over the lazy dog near the river bank today")  // exact dup of 1
  ).toDF("doc_id", "text")

  test("minhash-LSH finds planted near-dups and keeps lowest id") {
    val pairs = Dedup.nearDupPairs(corpus, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 5L)))
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(3L) })
    val kept = Dedup.dedupMinHash(corpus, "doc_id", "text", threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 4L))
  }

  test("incremental accept: base dups and lower-id delta dups reject; novel docs land") {
    // base: docs 1, 3. delta: 2 (near-dup of base 1 → reject),
    // 4 (novel → accept), 5 (exact dup of base 1 → reject),
    // 6 (near-dup of delta 4 only, higher id → reject),
    // plus 0 (novel → accept; also checks id 0 handling).
    val base = corpus.filter(col("doc_id").isin(1L, 3L))
    val delta = Seq(
      (0L, "entirely novel text about mountain weather patterns and snowfall records"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (4L, "completely different content about databases and storage formats parquet"),
      (5L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (6L, "completely different content about databases and storage formats orc")
    ).toDF("doc_id", "text")
    val accepted = Dedup.incrementalAccept(base, delta, "doc_id", "text",
      threshold = 0.5).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(accepted == Set(0L, 4L))
    // base is never screened against itself: an empty delta accepts nothing,
    // and a delta equal to base's own docs rejects all of them
    assert(Dedup.incrementalAccept(base, delta.limit(0), "doc_id", "text")
      .count() == 0)
    val echoed = base.withColumn("doc_id", col("doc_id") + 100)
    assert(Dedup.incrementalAccept(base, echoed, "doc_id", "text",
      threshold = 0.5).count() == 0)
  }

  test("indexed incremental: persisted index == inline build; probe plan never scans base text") {
    val base = corpus.filter(col("doc_id").isin(1L, 3L))
    val delta = Seq(
      (0L, "entirely novel text about mountain weather patterns and snowfall records"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (4L, "completely different content about databases and storage formats parquet"),
      (5L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (6L, "completely different content about databases and storage formats orc")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_ix_spec").toString
    Dedup.writeIndex(base, "doc_id", "text", dir)
    val viaIndex = Dedup.incrementalAcceptIndexed(
      Dedup.readIndex(spark, dir), delta, "doc_id", "text", threshold = 0.5)
    // same acceptance set as the inline-build spelling
    assert(viaIndex.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Dedup.incrementalAccept(base, delta, "doc_id", "text", threshold = 0.5)
        .select("doc_id").collect().map(_.getLong(0)).toSet)
    // the production boundary: every FILE relation in the probe plan is
    // a staged index artifact — base raw text (a file scan in
    // production) is never re-read; the delta here is a local relation.
    val rels = viaIndex.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }
    assert(rels.nonEmpty)
    assert(rels.forall(_.relation.asInstanceOf[
      org.apache.spark.sql.execution.datasources.HadoopFsRelation]
      .location.rootPaths.forall(_.toString.contains(dir))))
    // no explode of INDEX data: every Generate in the probe plan
    // explodes a delta-side band array — the index's per-doc band
    // arrays are never re-exploded at probe time (the candidate join
    // reads the persisted postings instead). Pinned structurally via
    // the scan schemas below: no file scan ever reads `bands`, so no
    // Generate CAN be fed from the index. (A subtree-leaf check is too
    // strict here — the optimizer legitimately pushes probe-side
    // semi-joins against the bk sidecar BELOW the delta explode.)
    val fileScans = viaIndex.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(!fileScans.exists(_.requiredSchema.fieldNames.contains("bands")))
    // the per-doc `ix` table feeds exactly ONE scan in the lazy probe
    // plan — the columnar (id, sh) projection for the verify join;
    // the exact-replica screen's (fp) scan runs in the eager probe
    // build, whose verified ledger enters the plan as a local relation
    // of ids built on the driver, and the band arrays are never scanned at all
    // (probe/stats read the postings and bucket-stats sidecars).
    val scans = viaIndex.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    def scansOf(part: String) = scans.filter(
      _.relation.location.rootPaths.exists(_.toString.endsWith(part)))
    val ixSchemas = scansOf("/ix").map(_.requiredSchema.fieldNames.toSet)
    assert(ixSchemas == Seq(Set("id", "sh")), ixSchemas)
    // post feeds the lazy candidate join; bk is consumed by the EAGER
    // hot-bucket cost router (its rows for the delta's buckets are
    // fetched at probe build), so it does not appear in the lazy plan
    assert(scansOf("/post").nonEmpty)
    assert(scansOf("/bk").isEmpty)
  }

  test("indexed screen: a null-id exact replica is accepted and blocks " +
      "no other screening, on both routes") {
    // an anti-join by id never matches a null id, so a null-id doc is
    // never rejected — and must not empty the probe side either: the
    // near-dup beside it is still rejected
    val base = corpus.filter(col("doc_id").isin(1L, 3L))
    val delta = Seq(
      (None, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (Some(2L), "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (Some(4L), "completely different content about databases and storage formats parquet")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_ix_null").toString
    try {
      Dedup.writeIndex(base, "doc_id", "text", dir)
      def accepted(maxBucket: Int, budget: Long) =
        Dedup.incrementalAcceptIndexed(Dedup.readIndex(spark, dir), delta,
          "doc_id", "text", threshold = 0.5, maxBucket = maxBucket,
          cascadeBudget = budget)
          .select("doc_id").collect().map(r => Option(r.get(0))).toSet
      assert(accepted(100, Dedup.CascadeBudget) == Set(None, Some(4L)))
      // every bucket hot, cascade forced
      assert(accepted(0, 0L) == Set(None, Some(4L)))
    } finally graft.io.Staging.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("accepted append over string ids: appends exactly the rows the " +
      "anti-join by id keeps, a null id included, with matching post/bk") {
    val base = Seq(
      ("a1", "the quick brown fox jumps over the lazy dog near the river bank today"),
      ("a3", "spark engines shuffle data between executors during wide transformations")
    ).toDF("doc_id", "text")
    val delta = Seq(
      (null, "the quick brown fox jumps over the lazy dog near the river bank today"),
      ("b2", "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      ("b4", "completely different content about databases and storage formats parquet"),
      ("b6", "completely different content about databases and storage formats orc"),
      ("a0", "entirely novel text about mountain weather patterns and snowfall records")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_ix_strid").toString
    def ixRows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "fp", "sh", "bands").collect().map(r =>
        (Option(r.getString(0)), r.getString(1), r.getSeq[String](2),
          r.getSeq[org.apache.spark.sql.Row](3).map(b => (b.getInt(0), b.getLong(1)))))
        .toSeq.sortBy(_.toString)
    try {
      Dedup.writeIndex(base, "doc_id", "text", dir)
      // the old spelling: the delta's index rows anti-joined by the
      // reject set's ids, i.e. buildIndex over the accepted rows
      val kept = ixRows(Dedup.buildIndex(Dedup.incrementalAcceptIndexed(
        Dedup.readIndex(spark, dir), delta, "doc_id", "text", threshold = 0.5),
        "doc_id", "text"))
      assert(kept.map(_._1).toSet == Set(None, Some("b4"), Some("a0")))
      Dedup.appendAcceptedIndexed(dir, Dedup.readIndex(spark, dir), delta,
        "doc_id", "text", threshold = 0.5)
      val ix = spark.read.parquet(Dedup.ixLive(dir))
      assert(ixRows(ix.filter(col("id").isNull || !col("id").isin("a1", "a3")))
        == kept)
      // the driver-derived sidecars equal their derivation from ix
      def post(df: org.apache.spark.sql.DataFrame) =
        df.select(col("id"), col("bk.band"), col("bk.bh")).collect()
          .map(r => (Option(r.getString(0)), r.getInt(1), r.getLong(2)))
          .toSeq.sortBy(_.toString)
      def stats(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("bk").agg(sum("n").as("n"))
          .select(col("bk.band"), col("bk.bh"), col("n")).collect()
          .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      def live(part: String) =
        spark.read.parquet(graft.io.IndexStore.livePath(dir, part).toString)
      assert(post(live("post")) == post(Dedup.indexPostings(ix)))
      assert(stats(live("bk")) ==
        stats(graft.io.IndexStore.bucketStats(Dedup.indexPostings(ix))))
    } finally graft.io.Staging.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("serving lookup: vs-index-only verdicts (intra-delta near-dups do " +
      "NOT flag), fp short-circuit agrees, plan never scans base text") {
    val base = corpus.filter(col("doc_id").isin(1L, 3L))
    val delta = Seq(
      (0L, "entirely novel text about mountain weather patterns and snowfall records"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (4L, "completely different content about databases and storage formats parquet"),
      (5L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (6L, "completely different content about databases and storage formats orc")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_lookup_spec").toString
    Dedup.writeIndex(base, "doc_id", "text", dir)
    val rep = Dedup.lookupReport(Dedup.readIndex(spark, dir), delta,
      "doc_id", "text", threshold = 0.5)
    val got = rep.collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    // the POSTURE difference vs the ingest probe: 6 near-dups only its
    // delta peer 4, so the ingest probe rejects it but the lookup does
    // NOT — a lookup answers membership against the CORPUS alone;
    // 5 is an exact replica of base 1 (the fp short-circuit path),
    // 2 a near-dup of base 1 (the banded path)
    assert(got == Map(0L -> false, 2L -> true, 4L -> false,
      5L -> true, 6L -> false))
    // production boundary: every file relation in the lookup plan is a
    // staged index artifact — base raw text is never re-read — and no
    // scan reads the index band arrays (candidates come from postings)
    val rels = rep.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }
    assert(rels.nonEmpty)
    assert(rels.forall(_.relation.asInstanceOf[
      org.apache.spark.sql.execution.datasources.HadoopFsRelation]
      .location.rootPaths.forall(_.toString.contains(dir))))
    assert(!rep.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.exists(_.requiredSchema.fieldNames.contains("bands")))
  }

  test("serving lookup cascade: maxBucket = 1 (every probed bucket hot) " +
      "keeps verdicts identical to the guard-free lookup") {
    val docs = io.Tables.documents(spark, sf0001).select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_lookup_hot").toString
    Dedup.writeIndex(docs.filter(col("doc_id") % 5 =!= 0),
      "doc_id", "text", dir)
    val ix = Dedup.readIndex(spark, dir)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    def verdicts(batch: org.apache.spark.sql.DataFrame, maxBucket: Int) =
      Dedup.lookupReport(ix, batch, "doc_id", "text", maxBucket = maxBucket)
        .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    val guarded = verdicts(delta, 1)           // both cascade stages exercised
    val guardFree = verdicts(delta, Int.MaxValue) // no bucket ever hot
    assert(guarded == guardFree)
    // the fixture is two-sided and the cascade genuinely fired
    assert(guarded.values.exists(identity) && guarded.values.exists(!_))
    // a verbatim replica mass (every delta doc R times under fresh ids
    // id·R + r, the crawl-spam shape) collapses per fingerprint before
    // probing: no verdict row is lost, and every replica gets its
    // source doc's verdict
    val r = 4
    val replicas = verdicts(delta.crossJoin(spark.range(r.toLong).toDF("__r"))
      .select((col("doc_id") * r + col("__r")).as("doc_id"), col("text")), 100)
    assert(replicas.size == guardFree.size * r)
    val drift = replicas.filter { case (id, v) => guardFree(id / r) != v }
    assert(drift.isEmpty, s"replica verdict drift: ${drift.take(5)}")
  }

  test("multi-day cycle: appending accepted rows' index entries composes") {
    // the production contract SCALE.md claims: day N screens against
    // index(base) ∪ index(accepted day 1) ∪ … — per-generation index
    // parquets APPEND (buildIndex is per-row, so row-wise union IS the
    // grown corpus's index), and rejected docs never enter the index.
    val base = corpus.filter(col("doc_id").isin(1L, 3L))
    val delta1 = Seq(
      (0L, "entirely novel text about mountain weather patterns and snowfall records"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (4L, "completely different content about databases and storage formats parquet")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_ix_cycle").toString
    Dedup.writeIndex(base, "doc_id", "text", dir)
    // day 1: screen, then append ONLY the accepted rows' index entries
    val acc1 = Dedup.incrementalAcceptIndexed(
      Dedup.readIndex(spark, dir), delta1, "doc_id", "text", threshold = 0.5)
    assert(acc1.select("doc_id").collect().map(_.getLong(0)).toSet == Set(0L, 4L))
    Dedup.appendIndex(dir, acc1, "doc_id", "text")
    // the grown index holds exactly base + accepted — never the rejected
    val grown = Dedup.readIndex(spark, dir)
    assert(grown.docs.select("id").collect().map(_.getLong(0)).toSet
      == Set(1L, 3L, 0L, 4L))
    // the appended sidecars stay consistent with the per-doc table:
    // postings == re-derived postings, and summed bucket-stat partials
    // == occupancy recomputed from scratch
    val derived = graft.text.DedupIndex.fromDocs(grown.docs)
    def postSet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("bk.band"), col("bk.bh"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(postSet(grown.postings) == postSet(derived.postings))
    def statsMap(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("bk").agg(sum("n").as("n"))
        .select(col("bk.band"), col("bk.bh"), col("n"))
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(statsMap(grown.bucketStats) == statsMap(derived.bucketStats))
    // day 2: novel doc accepted; near-dups of the ORIGINAL base and of a
    // day-1 ACCEPTED doc both rejected
    val delta2 = Seq(
      (10L, "fresh unrelated prose on orchestral music theory and harmonic motion"),
      (11L, "the quick brown fox jumps over the lazy dog near the river bank yesterday"),
      (12L, "entirely novel text about mountain weather patterns and snowfall totals")
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalAcceptIndexed(
      grown, delta2, "doc_id", "text", threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(10L))
    // and the appended index is indistinguishable from rebuilding over
    // the grown corpus — the append path loses nothing
    val rebuilt = Dedup.incrementalAccept(base.unionByName(acc1), delta2,
      "doc_id", "text", threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == rebuilt)
  }

  test("bucket-stats compaction: one row per bucket, probe bit-identical") {
    val base = corpus.filter(col("doc_id").isin(1L, 3L))
    val dir = java.nio.file.Files.createTempDirectory("graft_ix_compact").toString
    Dedup.writeIndex(base, "doc_id", "text", dir)
    // two append generations → bk holds three partial row-sets
    val day1 = Seq((20L, "entirely novel text about mountain weather patterns and snowfall records"))
      .toDF("doc_id", "text")
    // day 2 carries the EXACT day-1 text under a new id (an operator
    // force-adding a known duplicate — appendIndex doesn't judge), so
    // its 16 band keys all collide with day 1's: the partial rows are
    // genuinely mergeable, and compaction must shrink the sidecar.
    val day2 = Seq((21L, "entirely novel text about mountain weather patterns and snowfall records"))
      .toDF("doc_id", "text")
    Dedup.appendIndex(dir, day1, "doc_id", "text")
    Dedup.appendIndex(dir, day2, "doc_id", "text")
    val before = Dedup.readIndex(spark, dir)
    def stats(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("bk").agg(sum("n").as("n"))
        .select(col("bk.band"), col("bk.bh"), col("n"))
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val statsBefore = stats(before.bucketStats)
    val nRowsBefore = before.bucketStats.count()
    val delta = Seq(
      (30L, "entirely novel text about mountain weather patterns and snowfall totals"),
      (31L, "some text the index has never seen about gardening in arid climates")
    ).toDF("doc_id", "text")
    val accBefore = Dedup.incrementalAcceptIndexed(before, delta,
      "doc_id", "text", threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    Dedup.compactIndexStats(spark, dir)
    val after = Dedup.readIndex(spark, dir)
    // summed stats identical, now exactly one row per bucket
    assert(stats(after.bucketStats) == statsBefore)
    assert(after.bucketStats.count() ==
      after.bucketStats.select("bk").distinct().count())
    assert(after.bucketStats.count() < nRowsBefore)
    // and the probe's acceptance set is bit-identical post-compaction
    val accAfter = Dedup.incrementalAcceptIndexed(after, delta,
      "doc_id", "text", threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(accAfter == accBefore)
  }

  test("sidecar compaction is create-only generational: no zero-bk instant, stale gens reaped") {
    import java.nio.file.{Files, Paths}
    val base = corpus.filter(col("doc_id").isin(1L, 3L))
    val dir = Files.createTempDirectory("graft_ix_gens").toString
    Dedup.writeIndex(base, "doc_id", "text", dir)
    assert(graft.io.IndexStore.livePath(dir, "bk").toUri.getPath == s"$dir/bk")
    // compaction publishes bk.g1 and reaps gen 0 — never the reverse
    Dedup.compactIndexStats(spark, dir)
    assert(Files.exists(Paths.get(dir, "bk.g1")))
    assert(!Files.exists(Paths.get(dir, "bk")))
    assert(graft.io.IndexStore.livePath(dir, "bk").toUri.getPath == s"$dir/bk.g1")
    // appends land their partials on the LIVE generation
    val g1Before = spark.read.parquet(s"$dir/bk.g1").count()
    val day = Seq((40L, "entirely novel text about glacier melt rates and alpine hydrology"))
      .toDF("doc_id", "text")
    Dedup.appendIndex(dir, day, "doc_id", "text")
    assert(spark.read.parquet(s"$dir/bk.g1").count() > g1Before)
    // simulate a crash BETWEEN publish and reap: a stale lower
    // generation left on disk. The resolver must pick the newer one,
    // and the next compaction must reap the stale dir.
    import scala.jdk.CollectionConverters._
    val live = Paths.get(dir, "bk.g1")
    val stale = Paths.get(dir, "bk")
    Files.walk(live).iterator().asScala.toSeq.foreach { p =>
      val t = stale.resolve(live.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    }
    assert(graft.io.IndexStore.livePath(dir, "bk").toUri.getPath == live.toString)
    val statsLive = Dedup.readIndex(spark, dir).bucketStats
      .groupBy("bk").agg(sum("n").as("n"))
      .collect().map(r => r.get(0) -> r.getLong(1)).toMap
    Dedup.compactIndexStats(spark, dir)
    assert(!Files.exists(stale) && !Files.exists(live))
    assert(Files.exists(Paths.get(dir, "bk.g2")))
    // the doubled stale rows were never summed in: post-compaction
    // stats equal the pre-compaction LIVE generation's
    val statsAfter = Dedup.readIndex(spark, dir).bucketStats
      .groupBy("bk").agg(sum("n").as("n"))
      .collect().map(r => r.get(0) -> r.getLong(1)).toMap
    assert(statsAfter == statsLive)
  }

  test("four-day production cycle on testdata: staged index ≡ inline replay, compaction mid-cycle") {
    // the full lifecycle on REAL documents (sf0.001): day-0 build over
    // ~43% of the corpus, then four daily deltas, each screened
    // against the PERSISTED index and its accepted rows appended;
    // bucket stats compacted after day 2 (mid-cycle — later appends
    // land partials on top of a compacted sidecar). Reference = the
    // inline spelling replayed sequentially over growing in-memory
    // corpora. Acceptance must match day by day.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val base = docs.filter(col("doc_id") % 7 <= 2)
    def slice(k: Int) = docs.filter(col("doc_id") % 7 === k)
    val dir = java.nio.file.Files.createTempDirectory("graft_ix_days").toString
    Dedup.writeIndex(base, "doc_id", "text", dir)
    var refCorpus = base
    (3 to 6).foreach { k =>
      val delta = slice(k)
      val staged = Dedup.incrementalAcceptIndexed(
        Dedup.readIndex(spark, dir), delta, "doc_id", "text")
      val inline = Dedup.incrementalAccept(refCorpus, delta, "doc_id", "text")
      val stagedIds = staged.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(stagedIds ==
        inline.select("doc_id").collect().map(_.getLong(0)).toSet,
        s"day ${k - 2} acceptance diverged")
      Dedup.appendIndex(dir, staged, "doc_id", "text")
      refCorpus = refCorpus.unionByName(
        delta.filter(col("doc_id").isin(stagedIds.toSeq: _*)))
      if (k == 4) Dedup.compactIndexStats(spark, dir)
    }
    // the grown artifact's doc set is exactly base + all accepted rows
    assert(Dedup.readIndex(spark, dir).docs.count() == refCorpus.count())
  }

  test("staged index is versioned by source generation; old artifact survives") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    // test-local dataset dir so the regeneration can rewrite the source
    val ds = Files.createTempDirectory("graft_ix_gen").toString
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      Paths.get(s"$ds/documents.parquet"))
    val p1 = graft.text.DedupQueries.stagedIndexPath(spark, ds)
    assert(Files.exists(Paths.get(p1)))
    // all three parts of the layout published atomically together
    Seq("ix", "post", "bk").foreach(part =>
      assert(Files.exists(Paths.get(s"$p1/$part"))))
    val n1 = spark.read.parquet(s"$p1/ix").count()
    // regenerate in place: fewer docs, different size/mtime
    val out = Files.createTempDirectory("graft_ix_regen").toString
    spark.read.parquet(s"$ds/documents.parquet")
      .filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(out)
    val part = Files.list(Paths.get(out)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    Files.move(Paths.get(part), Paths.get(s"$ds/documents.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val p2 = graft.text.DedupQueries.stagedIndexPath(spark, ds)
    // a fresh artifact serves the new generation; the old one is intact
    // (create-only scheme — no delete path exists to race a reader)
    assert(p2 != p1 && Files.exists(Paths.get(p2)))
    assert(Files.exists(Paths.get(p1)))
    assert(spark.read.parquet(s"$p2/ix").count() < n1)
  }

  test("repairIndex: torn append detected and healed; retry-duplication too; no-op when consistent") {
    import java.nio.file.{Files, Paths}
    val base = corpus.filter(col("doc_id").isin(1L, 3L))
    val dir = Files.createTempDirectory("graft_ix_repair").toString
    Dedup.writeIndex(base, "doc_id", "text", dir)
    // consistent index → detected no-op
    assert(!Dedup.repairIndex(spark, dir))
    // torn append: derived artifacts landed, ix did not (the only tear
    // shape appendIndex's ix-last ordering permits)
    val delta = Seq(
      (7L, "entirely novel text about tidal currents and coastal sediment transport"))
      .toDF("doc_id", "text")
    val ixd = Dedup.buildIndex(delta, "doc_id", "text")
    Dedup.indexPostings(ixd).write.mode("append").parquet(s"$dir/post")
    graft.io.IndexStore.bucketStats(Dedup.indexPostings(ixd))
      .write.mode("append").parquet(s"$dir/bk")
    // the tear is conservative even before repair: a near-dup of the
    // torn doc is ACCEPTED (doc 7 never reached the membership record)
    val probe = Seq(
      (8L, "entirely novel text about tidal currents and coastal sediment movement"))
      .toDF("doc_id", "text")
    val accTorn = Dedup.incrementalAcceptIndexed(
      Dedup.readIndex(spark, dir), probe, "doc_id", "text", threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(accTorn == Set(8L))
    // repair: detected, post/bk re-derived from ix as next generations
    assert(Dedup.repairIndex(spark, dir))
    assert(Files.exists(Paths.get(dir, "post.g1")) &&
      !Files.exists(Paths.get(dir, "post")))
    assert(Files.exists(Paths.get(dir, "bk.g1")))
    val healed = Dedup.readIndex(spark, dir)
    assert(healed.postings.select("id").distinct()
      .collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    assert(healed.postings.count() == 2 * Dedup.Bands)
    // same acceptance after repair, and a second call is a no-op
    val healedProbe = Dedup.incrementalAcceptIndexed(healed, probe,
      "doc_id", "text", threshold = 0.5)
    assert(healedProbe.select("doc_id").collect().map(_.getLong(0)).toSet
      == accTorn)
    // the probe PLAN reads the generation-resolved artifacts — the
    // published post.g1, never the reaped plain dirs (bk.g1 is
    // consumed by the EAGER hot-bucket router at probe build, so it
    // does not appear in the lazy plan; its generation resolution is
    // pinned by the live-`bk` asserts in the compaction tests)
    val scanRoots = healedProbe.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.toString)
    }.flatten
    assert(scanRoots.exists(_.endsWith("/post.g1")))
    assert(!scanRoots.exists(p => p.endsWith("/post") || p.endsWith("/bk")))
    assert(!Dedup.repairIndex(spark, dir))
    // retry-duplication tear: a real append lands, then its derived
    // appends are repeated (crash-after-post retry) → per-doc posting
    // counts exceed Bands → detected and healed to exactly Bands each
    Dedup.appendIndex(dir, delta, "doc_id", "text")
    Dedup.indexPostings(ixd).write.mode("append")
      .parquet(graft.io.IndexStore.livePath(dir, "post").toString)
    assert(Dedup.repairIndex(spark, dir))
    val healed2 = Dedup.readIndex(spark, dir)
    assert(healed2.postings.count() == 3 * Dedup.Bands)
    assert(healed2.postings.groupBy("id").count()
      .filter(col("count") =!= Dedup.Bands).count() == 0)
    assert(!Dedup.repairIndex(spark, dir))
    // double-retry tear: the FULL append repeats (ix rows included) —
    // duplicated ix rows must not trap repair in a torn-forever loop
    // (derivation from raw duplicates would emit 2·Bands postings per
    // doc and re-trip detection on every call)
    ixd.write.mode("append").parquet(s"$dir/ix")
    Dedup.indexPostings(ixd).write.mode("append")
      .parquet(graft.io.IndexStore.livePath(dir, "post").toString)
    assert(Dedup.repairIndex(spark, dir))
    assert(!Dedup.repairIndex(spark, dir)) // CONVERGES despite dup ix rows
    val healed3 = Dedup.readIndex(spark, dir)
    assert(healed3.postings.groupBy("id").count()
      .filter(col("count") =!= Dedup.Bands).count() == 0)
    // membership semantics unchanged: doc 7 entered the index via the
    // real append above, so its near-dup probe doc is now REJECTED —
    // the duplicated ix rows neither hide nor double the membership
    assert(Dedup.incrementalAcceptIndexed(healed3, probe,
      "doc_id", "text", threshold = 0.5).count() == 0)
  }

  test("dedup is idempotent") {
    val once = Dedup.dedupMinHash(corpus, "doc_id", "text", threshold = 0.5)
    val twice = Dedup.dedupMinHash(once, "doc_id", "text", threshold = 0.5)
    assert(once.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      twice.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("exact duplicate pair has jaccard 1.0") {
    val j = Dedup.nearDupPairs(corpus, "doc_id", "text", threshold = 0.5)
      .filter(col("id_a") === 1 && col("id_b") === 5)
      .collect().head.getAs[Double]("jaccard")
    assert(j == 1.0)
  }

  test("ngram-jaccard dedup agrees on the planted dups") {
    val kept = Dedup.dedupNgram(corpus, "doc_id", "text", threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 4L))
  }

  test("simhash: identical docs identical fingerprints; near-dups close in hamming") {
    val fps = Dedup.withSimHash(corpus, "text")
      .select("doc_id", "simhash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(5L))
    val hammingNear = java.lang.Long.bitCount(fps(1L) ^ fps(2L))
    val hammingFar = java.lang.Long.bitCount(fps(1L) ^ fps(3L))
    assert(hammingNear < hammingFar)
    val pairs = Dedup.simHashPairs(corpus, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 5L)))
  }

  test("simhash band probing is COMPLETE to Hamming 3 (matches brute force)") {
    // 40 single-token variants of one sentence: many fingerprints land
    // within a few bits of each other, with differing bits scattered
    // across the whole 64-bit word — exactly the pairs the old
    // prefix-only probe missed whenever the difference touched the low
    // 16 bits' complement. The banded probe must find EXACTLY the
    // brute-force Hamming ≤ 3 pair set, no more, no less.
    val docs = (0 until 40).map(i =>
      (i.toLong, s"the quick brown fox jumps over the lazy dog near the river bank tok$i"))
      .toDF("doc_id", "text")
    val fps = Dedup.withSimHash(docs, "text")
      .select("doc_id", "simhash").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val want = (for {
      (ia, fa) <- fps; (ib, fb) <- fps if ia < ib
      if java.lang.Long.bitCount(fa ^ fb) <= 3
    } yield (ia, ib)).toSet
    assert(want.nonEmpty) // the corpus genuinely exercises the probe
    // and at least one wanted pair differs inside the OLD probe's
    // prefix band (bits 48-63, the sim_bucket key), i.e. landed in
    // different prefix buckets and was MISSED before banding
    val fpOf = fps.toMap
    assert(want.exists { case (ia, ib) =>
      ((fpOf(ia) ^ fpOf(ib)) >>> 48) != 0L })
    val got = Dedup.simHashPairs(docs, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
  }

  test("minhash signature is deterministic across evaluations") {
    val a = corpus.select(Dedup.signatureCol(col("text"))).collect().map(_.getSeq[Long](0))
    val b = corpus.select(Dedup.signatureCol(col("text"))).collect().map(_.getSeq[Long](0))
    assert(a.zip(b).forall { case (x, y) => x == y })
  }

  test("dedup_span_trim: first occurrence kept, later spans cut, " +
      "overlapping dup windows merge") {
    import spark.implicits._
    // doc 0: 20 distinct tokens t0..t19 — the GLOBAL FIRST for every
    //        shared window; must come through untouched.
    // doc 1: doc 0's tokens t5..t12 (ONE 8-window) + 10 unique fillers
    //        → exactly that span cut (8 tokens), fillers kept.
    // doc 2: doc 0's t5..t13 (9 tokens = TWO overlapping dup windows
    //        at pos 0 and 1) + unique fillers → the merged 9-token
    //        span cut, not 16.
    // doc 3: 7 tokens (< k) — no window at all, untouched.
    val t = (0 until 20).map(i => s"t$i")
    val docs = Seq(
      (0L, t.mkString(" ")),
      (1L, (t.slice(5, 13) ++ (0 until 10).map(i => s"u$i")).mkString(" ")),
      (2L, (t.slice(5, 14) ++ (0 until 10).map(i => s"v$i")).mkString(" ")),
      (3L, (0 until 7).map(i => s"w$i").mkString(" "))
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("spantrim").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Registry.all.find(_.name == "dedup_span_trim").get
      .fn(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    assert(out(0L) == ((20L, 0L, t.mkString(" "))), out(0L))
    assert(out(1L) == ((18L, 8L, (0 until 10).map(i => s"u$i").mkString(" "))),
      out(1L))
    assert(out(2L) == ((19L, 9L, (0 until 10).map(i => s"v$i").mkString(" "))),
      out(2L))
    assert(out(3L) == ((7L, 0L, (0 until 7).map(i => s"w$i").mkString(" "))),
      out(3L))
  }
  test("replica-mass probe is exact at saturated-bucket density " +
      "(fp screen + hot-bucket cascade vs brute-force Jaccard)") {
    import spark.implicits._
    // The r13 100×-corpus failure mode, reproduced at spec scale: a
    // VERBATIM mass (150 identical docs — every band bucket occupancy
    // > maxBucket=100) plus NEAR-verbatim variants (one-token suffix,
    // the ' rep<i>' scheme of the scaled corpora), in base and delta.
    // Pre-r14 the hot-bucket guard dropped these buckets and the
    // near-dups sailed through; now the fp screen resolves the
    // verbatim mass and the cascade resolves the near-verbatim one.
    // The reference is brute-force exact Jaccard computed in-spec.
    val sent = "the quick brown fox jumps over the lazy dog near the river bank"
    val baseRows =
      (0L until 150L).map(i => (i, sent)) ++                 // verbatim mass
      (200L until 230L).map(i => (i, s"$sent rep$i")) ++     // near-verbatim
      Seq((300L, "spark engines shuffle data between executors during wide transformations"))
    val deltaRows =
      (400L until 460L).map(i => (i, sent)) ++               // verbatim of base
      (500L until 540L).map(i => (i, s"$sent rep$i")) ++     // near-verbatim, unique suffixes
      (600L until 603L).map(i => (i, s"$sent rep${i - 100}")) ++ // verbatim of delta 500..502
      Seq((700L, "completely novel prose about tidal estuaries and sediment transport"),
        (701L, "completely novel prose about tidal estuaries and sediment transport today"))
    def shingles(text: String): Set[String] = {
      val t = text.toLowerCase.trim.split(" +").toSeq
      if (t.size >= 3) t.sliding(3).map(_.mkString(" ")).toSet
      else Set(t.mkString(" "))
    }
    def jac(a: Set[String], b: Set[String]): Double =
      a.intersect(b).size.toDouble / a.union(b).size
    val baseSh = baseRows.map { case (i, t) => i -> shingles(t) }
    val deltaSh = deltaRows.map { case (i, t) => i -> shingles(t) }
    val want = deltaSh.collect { case (i, sh)
      if !baseSh.exists { case (_, bs) => jac(sh, bs) >= 0.7 } &&
         !deltaSh.exists { case (j, ds) => j < i && jac(sh, ds) >= 0.7 } =>
      i
    }.toSet
    assert(want.nonEmpty && want.size < deltaRows.size) // both classes exercised
    val dir = java.nio.file.Files.createTempDirectory("graft_ix_mass").toString
    Dedup.writeIndex(baseRows.toDF("doc_id", "text"), "doc_id", "text", dir)
    // sanity: the mass genuinely saturates — some bucket holds > 100
    assert(spark.read.parquet(graft.io.IndexStore.livePath(dir, "bk").toString)
      .filter(col("n") > 100).count() > 0)
    val got = Dedup.incrementalAcceptIndexed(
      Dedup.readIndex(spark, dir), deltaRows.toDF("doc_id", "text"),
      "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == want,
      s"engine-only=${(got -- want).toSeq.sorted} oracle-only=${(want -- got).toSeq.sorted}")
    // BOTH router plans are exact: cascadeBudget=0 forces the
    // screen/escalation cascade over the same hot buckets the
    // load-based default routes to direct pairing at this (small)
    // load — the two routes must agree with the brute-force oracle
    // bit-for-bit
    val gotCascade = Dedup.incrementalAcceptIndexed(
      Dedup.readIndex(spark, dir), deltaRows.toDF("doc_id", "text"),
      "doc_id", "text", cascadeBudget = 0L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gotCascade == want,
      s"cascade-only=${(gotCascade -- want).toSeq.sorted} oracle-only=${(want -- gotCascade).toSeq.sorted}")
    // and so is the guard-free plan, where no bucket is ever hot
    val gotGuardFree = Dedup.incrementalAcceptIndexed(
      Dedup.readIndex(spark, dir), deltaRows.toDF("doc_id", "text"),
      "doc_id", "text", maxBucket = Int.MaxValue)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gotGuardFree == want,
      s"guard-free-only=${(gotGuardFree -- want).toSeq.sorted} oracle-only=${(want -- gotGuardFree).toSeq.sorted}")
  }

  test("band geometry is a manifest parameter: rebuild at 8×8 drops " +
      "saturated buckets, appends+probes follow the frozen width") {
    import spark.implicits._
    // a 150-replica near-verbatim mass (the saturation fixture): at
    // the default 16×4 every band bucket of the mass holds > 100
    // occupants; re-signed at 8×8 the band-share probability for the
    // J≈0.92 suffix-variants drops (0.92^8 ≈ 0.51 vs 0.92^4 ≈ 0.72),
    // so bucket occupancy — and with it the cascade's candidate work —
    // drops. The REBUILD is a writeIndex call with new parameters:
    // same code, new manifest generation.
    val sent = "the quick brown fox jumps over the lazy dog near the river bank"
    val mass = (0L until 150L).map(i => (i, s"$sent rep$i"))
    val dir16 = java.nio.file.Files.createTempDirectory("graft_w16").toString
    val dir8 = java.nio.file.Files.createTempDirectory("graft_w8").toString
    Dedup.writeIndex(mass.toDF("doc_id", "text"), "doc_id", "text", dir16)
    Dedup.writeIndex(mass.toDF("doc_id", "text"), "doc_id", "text", dir8,
      bands = 8, rows = 8)
    def saturated(dir: String): Long =
      spark.read.parquet(graft.io.IndexStore.livePath(dir, "bk").toString)
        .filter(col("n") > 100).count()
    assert(saturated(dir16) > 0)
    assert(saturated(dir8) < saturated(dir16))
    // manifest round-trip + probe/append at the frozen width
    assert(Dedup.geometry(spark, dir8) == ((8, 8)))
    val ix8 = Dedup.readIndex(spark, dir8)
    assert(ix8.bands == 8 && ix8.rows == 8)
    assert(ix8.docs.select(size(col("bands"))).head.getInt(0) == 8)
    // exact replicas of indexed docs reject at any geometry (the fp
    // screen is width-independent); a novel doc lands
    val delta = Seq((900L, s"$sent rep7"),
      (901L, "completely novel prose about tidal estuaries and sediment"))
      .toDF("doc_id", "text")
    val acc = Dedup.incrementalAcceptIndexed(ix8, delta, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(acc == Set(901L))
    // append follows the manifest width: the appended rows' band
    // arrays are 8 wide and repair sees a consistent artifact
    Dedup.appendIndex(dir8,
      delta.filter(col("doc_id") === 901L), "doc_id", "text")
    assert(spark.read.parquet(Dedup.ixLive(dir8))
      .filter(col("id") === 901L)
      .select(size(col("bands"))).head.getInt(0) == 8)
    assert(!Dedup.repairIndex(spark, dir8))
    // the manifest cache keys on the manifest's content, not its
    // mtime: dir16, opened at 16×4 above, rewritten in place at 8×8
    // within one mtime tick opens at 8×8, and its probe signs there (a
    // 16×4-signed near-dup would meet no 8×8 posting and be accepted)
    assert(Dedup.readIndex(spark, dir16).bands == 16)
    withinOneMtimeTick(s"$dir16/manifest") {
      Dedup.writeIndex(mass.toDF("doc_id", "text"), "doc_id", "text", dir16,
        bands = 8, rows = 8)
    }
    val re = Dedup.readIndex(spark, dir16)
    assert(re.bands == 8 && re.rows == 8)
    val near = Seq((902L, s"$sent rep7 again")).toDF("doc_id", "text")
    assert(Dedup.incrementalAcceptIndexed(re, near, "doc_id", "text")
      .count() == 0L)
  }

  test("density-triggered geometry rebuild: model generation published " +
      "at 8×8, stale reader hash-invariant, pending tombstones carried, " +
      "probe parity with an in-plan 8×8 index, appends follow the live " +
      "generation, trigger quiescent") {
    import spark.implicits._
    val sent = "the quick brown fox jumps over the lazy dog near the river bank"
    val docs = ((1L to 30L).map(i => (i, s"$sent rep$i word$i")) ++
      Seq((31L, "completely different content about parquet and columnar storage")))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_txtrb").toString
    Dedup.writeIndex(docs.filter(col("doc_id") <= 10), "doc_id", "text", dir)
    Dedup.appendIndex(dir, docs.filter(col("doc_id") > 10), "doc_id", "text")
    val delta = Seq((900L, s"$sent rep7 word7"),
      (901L, "novel prose about tidal estuaries and sediment transport"))
      .toDF("doc_id", "text")
    // a reader that resolved generation 0 BEFORE the rebuild
    val stale = Dedup.readIndex(spark, dir)
    def probe(ix: graft.text.DedupIndex): Set[Long] =
      Dedup.incrementalAcceptIndexed(ix, delta, "doc_id", "text")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val staleBefore = probe(stale)
    // pending erasure must carry into the rebuild (not resurrect)
    Dedup.eraseFromIndex(dir, Seq(Tuple1(5L)).toDF("id"))
    // live count 30 > denseAt 10 → the dense 8×8 posture ≠ the
    // manifest's 16×4 → fires, publishing model generation 1
    val sub = Dedup.rebuildIfDense(spark, dir, docs, "doc_id", "text",
      denseAt = 10)
    assert(sub.isDefined && sub.get.contains("modelgen1"))
    val live = Dedup.readIndex(spark, dir)
    assert(live.bands == 8 && live.rows == 8)
    assert(live.docs.select(size(col("bands"))).head.getInt(0) == 8)
    // the erased doc is gone from the new generation's record — and
    // the new generation starts with no tombstone debt at all
    assert(spark.read.parquet(Dedup.ixLive(sub.get))
      .filter(col("id") === 5L).count() == 0)
    assert(!graft.io.IndexStore.artifactExists(sub.get, "tomb"))
    // stale reader: generation 0 is intact, so the pre-rebuild handle
    // keeps bit-identical probe verdicts (it predates the erase too —
    // tombstone awareness binds at readIndex time, the family's
    // from-the-erase-call-on contract)
    assert(probe(stale) == staleBefore)
    // probe parity: the persisted rebuilt index ≡ an in-plan 8×8
    // index over the same live (erase-carried) corpus
    val inPlan = graft.text.DedupIndex.fromDocs(
      Dedup.buildIndex(docs.filter(col("doc_id") =!= 5L),
        "doc_id", "text", 8, 8), 8, 8)
    assert(probe(live) == probe(inPlan))
    assert(probe(live) == Set(901L)) // 900 is an exact replica of doc 7
    // appends resolve to the live generation and sign at its width
    Dedup.appendIndex(dir,
      Seq((950L, "fresh prose about glaciers and moraines"))
        .toDF("doc_id", "text"), "doc_id", "text")
    assert(spark.read.parquet(
        Dedup.ixLive(graft.io.IndexStore.liveRoot(dir)))
      .filter(col("id") === 950L)
      .select(size(col("bands"))).head.getInt(0) == 8)
    // quiescent at the new generation
    assert(Dedup.rebuildIfDense(spark, dir, docs, "doc_id", "text",
      denseAt = 10).isEmpty)
  }

  test("text index erasure: a tombstoned doc can neither reject a " +
      "delta nor appear in any probe; compaction purges it physically") {
    import spark.implicits._
    val base = Seq((1L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_txterase").toString
    graft.text.Dedup.writeIndex(base, "doc_id", "text", dir)
    // near-dup of the indexed doc: blocked while doc 1 is live
    val clone = Seq((20L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    def accepted = graft.text.Dedup.incrementalAcceptIndexed(
      graft.text.Dedup.readIndex(spark, dir), clone, "doc_id", "text").count()
    assert(accepted == 0L)
    graft.text.Dedup.eraseFromIndex(dir, Seq(Tuple1(1L)).toDF("id"))
    // tombstone-aware from the erase call on — BEFORE any compaction
    assert(accepted == 1L)
    assert(graft.text.Dedup.readIndex(spark, dir).docs.count() == 0L)
    // physical purge at compaction; tombstones reset
    graft.text.Dedup.compactIndexStats(spark, dir)
    assert(spark.read.parquet(graft.text.Dedup.ixLive(dir)).count() == 0L)
    assert(spark.read.parquet(
      graft.io.IndexStore.livePath(dir, "post").toString).count() == 0L)
    assert(spark.read.parquet(
      graft.io.IndexStore.livePath(dir, "tomb").toString).count() == 0L)
    assert(accepted == 1L)
  }

  test("index artifacts open with their own footer schema: a pre-fp ix " +
      "takes the compatibility branch and screens identically, also " +
      "after an append; a republished generation's schema is seen") {
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (3L, "spark engines shuffle data between executors during wide transformations"),
      (4L, "completely different content about databases and storage formats parquet")
    ).toDF("doc_id", "text")
    val delta = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (11L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (12L, "entirely novel text about mountain weather patterns and snowfall records"),
      (13L, "spark engines shuffle data between executors during wide transformations")
    ).toDF("doc_id", "text")
    def screen(root: String) = Dedup.incrementalAcceptIndexed(
        Dedup.readIndex(spark, root), delta, "doc_id", "text", threshold = 0.5)
      .orderBy("doc_id").collect().toSeq
    def ixRows(root: String) = Dedup.readIndex(spark, root).docs
      .select("id", "fp", "sh", "bands").orderBy("id").collect().toSeq
    def ixColumns(root: String) =
      graft.io.FooterSchema.of(spark, Dedup.ixLive(root)).get.fieldNames.toSet
    val cur = java.nio.file.Files.createTempDirectory("graft_ix_cur").toString
    val old = java.nio.file.Files.createTempDirectory("graft_ix_old").toString
    Dedup.writeIndex(base, "doc_id", "text", cur)
    Dedup.writeIndex(base, "doc_id", "text", old)
    // the pre-fingerprint layout: the same ix rows without `fp`
    spark.read.parquet(Dedup.ixLive(cur)).drop("fp")
      .write.mode("overwrite").parquet(Dedup.ixLive(old))
    assert(!ixColumns(old).contains("fp") && ixColumns(cur).contains("fp"))
    // fp derived in-plan from `sh` equals the persisted one, and the
    // screen (whose exact replica 11 goes through the fp layer) agrees
    assert(ixRows(old) == ixRows(cur))
    val want = screen(cur)
    assert(want.map(_.getLong(0)) == Seq(12L))
    assert(screen(old) == want)
    // an append adds files WITH fp to the pre-fp dir; the artifact's
    // creation schema (its oldest file) still decides, so every row —
    // old and appended — takes the compatibility branch
    val (fs, _) = graft.io.IndexStore.hadoopFs(old)
    fs.listStatus(new org.apache.hadoop.fs.Path(Dedup.ixLive(old)))
      .foreach(st => fs.setTimes(st.getPath, 1000L, -1L))
    val more = Seq((20L, "parquet footers carry the schema of every data file written"))
      .toDF("doc_id", "text")
    Dedup.appendAcceptedIndexed(old, Dedup.readIndex(spark, old), more,
      "doc_id", "text")
    Dedup.appendAcceptedIndexed(cur, Dedup.readIndex(spark, cur), more,
      "doc_id", "text")
    assert(!ixColumns(old).contains("fp"))
    assert(ixRows(old) == ixRows(cur) && ixRows(old).size == 4)
    assert(screen(old) == want)
    // republish ix as a new generation with a different schema: the
    // very next open reads it (nothing caches the old shape)
    graft.io.IndexStore.publishNextGen(spark, old, "ix") { sd =>
      spark.read.parquet(Dedup.ixLive(cur)).withColumn("note", lit("g1"))
        .write.mode("overwrite").parquet(sd)
    }
    assert(ixColumns(old) == ixColumns(cur) + "note")
    val g1 = Dedup.readIndex(spark, old).docs
    assert(g1.columns.contains("note") &&
      g1.filter(col("note") === "g1").count() == 4L)
    assert(ixRows(old) == ixRows(cur))
    assert(screen(old) == want)
  }
}
