package graft

import graft.sim.{Pq, PqIndex}
import org.apache.spark.sql.functions._

class PqIndexSpec extends SparkSpec {
  import spark.implicits._

  private def mix(i: Int, j: Int): Long = {
    var h = i.toLong * 0x9E3779B97F4A7C15L + j.toLong * 0xBF58476D1CE4E5B9L
    h ^= h >>> 30; h *= 0xBF58476D1CE4E5B9L
    h ^= h >>> 27; h *= 0x94D049BB133111EBL
    h ^ (h >>> 31)
  }

  private def randVecs(ids: Seq[Long], d: Int = 64) =
    ids.map { i =>
      (i, (0 until d).map(j =>
        (mix(i.toInt, j).toDouble / (1L << 62).toDouble).toFloat).toArray)
    }.toDF("vec_id", "embedding")

  test("delta encode reads only the codebook artifact + the delta: " +
      "no base vectors, no training aggregation") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pqix1").toString
    PqIndex.writeIndex(randVecs(10L until 200L), dir)
    val delta = randVecs(1000L until 1010L)
    val enc = Pq.encodeAt(delta, PqIndex.readIndex(spark, dir).codebook)
    // the only FILE relation in the encode plan is the persisted
    // codebook — base raw vectors are touched zero times
    val rels = enc.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }
    assert(rels.nonEmpty)
    assert(rels.forall(_.relation.asInstanceOf[
      org.apache.spark.sql.execution.datasources.HadoopFsRelation]
      .location.rootPaths.forall(_.toString.contains(s"$dir/codebook"))))
    // exactly M code rows per delta vector, codes within [0, K)
    val rows = enc.collect()
    assert(rows.length == 10 * Pq.M)
    assert(rows.forall { r =>
      val c = r.getAs[Long]("code"); c >= 0 && c < Pq.K
    })
    // the manifest cache keys on the manifest's content, not its
    // mtime: a manifest rewritten in place within one mtime tick is
    // what the next open reports
    val ix0 = PqIndex.readIndex(spark, dir)
    assert((ix0.m, ix0.k, ix0.kc) == ((Pq.M, Pq.K, PqIndex.KC)))
    val manifest = spark.read.parquet(s"$dir/manifest")
      .withColumn("kc", lit(PqIndex.KC / 2))
    val rewritten = manifest.collect()
    withinOneMtimeTick(s"$dir/manifest") {
      spark.createDataFrame(java.util.Arrays.asList(rewritten: _*),
          manifest.schema)
        .repartition(1).write.mode("overwrite").parquet(s"$dir/manifest")
    }
    val ix1 = PqIndex.readIndex(spark, dir)
    assert((ix1.m, ix1.k, ix1.kc) == ((Pq.M, Pq.K, PqIndex.KC / 2)))
  }

  test("erasure: a tombstoned vector appears in no ADC ranking from " +
      "the erase call on; compactIndex purges its codes physically") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pqix4").toString
    val base = randVecs(10L until 110L)
      .withColumn("label", (col("vec_id") % 3).cast("string"))
    PqIndex.writeIndex(base, dir)
    def top(): Set[Long] = {
      val ix = PqIndex.readIndex(spark, dir)
      Pq.adcTopK(base, ix.codebook, ix.codes, 99)
        .select("vec_id").collect().map(_.getLong(0)).toSet
    }
    assert(top().contains(11L))
    PqIndex.eraseFromIndex(dir,
      Seq(11L, 12L).toDF("vec_id"))
    // tombstone-aware BEFORE any compaction
    val t = top()
    assert(!t.contains(11L) && !t.contains(12L) && t.size == 97)
    PqIndex.compactIndex(spark, dir)
    val live = spark.read.parquet(PqIndex.codesLive(dir))
    assert(live.filter(col("vec_id").isin(11L, 12L)).count() == 0L)
    assert(live.count() == 98L * Pq.M)
    assert(spark.read.parquet(
      graft.io.IndexStore.livePath(dir, "tomb").toString).count() == 0L)
  }

  test("repair: a torn retried append violates M-codes-per-vector, " +
      "repairIndex re-encodes exactly the damaged vectors at the " +
      "frozen codebook, and is idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pqix5").toString
    val base = randVecs(10L until 110L)
    val delta = randVecs(500L until 520L)
    val source = base.unionByName(delta)
    PqIndex.writeIndex(base, dir)
    PqIndex.appendIndex(dir, delta)
    val clean = spark.read.parquet(PqIndex.codesLive(dir))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("code"), r.getAs[Long]("d2"))).toMap
    // clean artifact: repair is a no-op
    assert(!PqIndex.repairIndex(spark, dir, source))
    // torn RETRY: subspaces 0-1 of the delta land a second time —
    // through the same cell-partitioned layout a real appendIndex
    // retry writes
    val live = PqIndex.codesLive(dir)
    Pq.encodeAt(delta, spark.read.parquet(s"$dir/codebook"))
      .filter(col("sub") < 2)
      .join(graft.sim.Clustering.assignAt(delta,
          spark.read.parquet(s"$dir/coarse"))
        .select(col("vec_id"), col("cluster").as("cell")), "vec_id")
      .write.partitionBy("cell").mode("append").parquet(live)
    spark.catalog.refreshByPath(live)
    assert(spark.read.parquet(live).count() == 120L * Pq.M + 20L * 2)
    assert(PqIndex.repairIndex(spark, dir, source))
    val healed = spark.read.parquet(PqIndex.codesLive(dir))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("code"), r.getAs[Long]("d2"))).toMap
    assert(healed == clean,
      "healed artifact must equal the pre-damage codes exactly")
    assert(!PqIndex.repairIndex(spark, dir, source))
  }

  test("routed serving: equals ADC restricted to the exact probed " +
      "cells; codes scan is partition-pruned on `cell`") {
    import graft.sim.Clustering
    val dir = java.nio.file.Files.createTempDirectory("graft_pqix6").toString
    val base = randVecs(10L until 210L)
      .withColumn("label", (col("vec_id") % 3).cast("string"))
    PqIndex.writeIndex(base, dir)
    val ix = PqIndex.readIndex(spark, dir)
    val routed = PqIndex.topKRouted(base, ix, 10, 2)
    // reference probe computed independently in-spec: exact integer
    // distance from the quantized query to each persisted coarse
    // centroid, ties to the lowest cell, take nprobe
    val qv = base.orderBy("vec_id").limit(1)
      .select(Clustering.quantize(col("embedding")).as("qv"))
      .head.getSeq[Long](0)
    val probed = spark.read.parquet(s"$dir/coarse").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
      .map { case (j, c) =>
        (j, c.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum) }
      .sortBy { case (j, d) => (d, j) }.take(2).map(_._1)
    val ref = Pq.adcTopK(base, ix.codebook,
      ix.codes.filter(col("cell").isin(probed: _*)), 10)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("approx_d2"))).toSeq
    assert(rows(routed) == rows(ref))
    // and the routing genuinely restricts: the probed cells hold
    // fewer vectors than the corpus
    val inCells = ix.codes.filter(col("cell").isin(probed: _*))
      .select("vec_id").distinct().count()
    assert(inCells > 0 && inCells < 200)
    // plan pin: the codes scan carries a partition filter on `cell`
    // (dynamic partition pruning from the broadcast probe frame) —
    // the 10⁹-code serving shape reads nprobe/KC of the artifact
    val codeScans = routed.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(
            _.toString.contains("/codes")) => s
    }
    assert(codeScans.nonEmpty)
    assert(codeScans.forall(_.partitionFilters.nonEmpty),
      codeScans.map(_.partitionFilters).mkString("; "))
  }

  test("batched routed serving: per-query probe + pruned ADC match an " +
      "independent in-JVM replay of the persisted artifacts") {
    import graft.sim.PqIndex
    val dir = java.nio.file.Files.createTempDirectory("graft_pqix7").toString
    val base = randVecs(10L until 210L)
    PqIndex.writeIndex(base, dir)
    val ix = PqIndex.readIndex(spark, dir)
    val queries = randVecs(500L until 508L) // disjoint from the corpus
    val got = PqIndex.topKRoutedBatch(queries, ix, 5, 2).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank")) ->
        (r.getAs[Long]("vec_id"), r.getAs[Long]("approx_d2"))).toMap
    // independent replay from the persisted artifacts (no engine
    // code): quantize each query, probe its 2 nearest coarse cells,
    // ADC-sum over exactly those cells' codes, rank with vec_id ties
    val cb = spark.read.parquet(s"$dir/codebook").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
        r.getAs[Number](2).longValue) -> r.getAs[Number](3).longValue)
      .toMap // (sub, j, i) -> cv; `i` is INT in the artifact (posexplode)
    val codes = spark.read.parquet(PqIndex.codesLive(dir)).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("sub"),
        r.getAs[Long]("code"), r.getAs[Number]("cell").longValue))
    val coarse = spark.read.parquet(s"$dir/coarse").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
    val qvs = queries.collect().map(r => (r.getLong(0),
      r.getSeq[Float](1).map(x => math.round(x * 1e7).toLong + 10000000L)))
    val want = qvs.flatMap { case (qid, qv) =>
      val cells = coarse
        .map { case (j, c) =>
          (j, c.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum) }
        .sortBy { case (j, d) => (d, j) }.take(2).map(_._1).toSet
      def qd2(sub: Long, j: Long): Long =
        (sub * 16 until sub * 16 + 16).map(i =>
          { val d = qv(i.toInt) - cb((sub, j, i)); d * d }).sum
      val byVec = codes.filter(c => cells(c._4)).groupBy(_._1)
      byVec.toSeq.map { case (vid, rows) =>
        (vid, rows.map(c => qd2(c._2, c._3)).sum) }
        .sortBy { case (vid, d) => (d, vid) }.take(5).zipWithIndex
        .map { case ((vid, d), i) => (qid, i + 1L) -> (vid, d) }
    }.toMap
    assert(got == want,
      s"got=${got.toSeq.sortBy(_._1).take(3)} want=${want.toSeq.sortBy(_._1).take(3)}")
    assert(got.nonEmpty && got.keys.map(_._1).toSet.size == 8)
  }

  test("frozen codebook per generation: appended delta codes are " +
      "encoded at the day-0 codebook, not a retrain over the union") {
    val base = randVecs(10L until 120L)
    val delta = randVecs(0L until 10L) // lower ids: a retrain would re-seed
    val dir = java.nio.file.Files.createTempDirectory("graft_pqix2").toString
    PqIndex.writeIndex(base, dir)
    PqIndex.appendIndex(dir, delta)
    val grown = spark.read.parquet(s"$dir/codes")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("code"), r.getAs[Long]("d2"))).toMap
    assert(grown.size == 120 * Pq.M)
    // a REBUILD over the union retrains (seeds now 0..3, not 10..13)
    val dir2 = java.nio.file.Files.createTempDirectory("graft_pqix3").toString
    PqIndex.writeIndex(base.unionByName(delta), dir2)
    val rebuilt = spark.read.parquet(s"$dir2/codes")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("code"), r.getAs[Long]("d2"))).toMap
    assert(rebuilt.size == 120 * Pq.M)
    assert(grown != rebuilt,
      "retrain-on-union produced identical codes — the frozen-codebook " +
        "contract is not observable on this fixture")
    // and the grown artifact equals base codes + delta encoded at the
    // PERSISTED codebook — the append added exactly the delta's rows
    val expected = (Pq.encodeAt(base,
        spark.read.parquet(s"$dir/codebook")).collect() ++
      Pq.encodeAt(delta, spark.read.parquet(s"$dir/codebook")).collect())
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("code"), r.getAs[Long]("d2"))).toMap
    assert(grown == expected)
  }

  test("codebook refresh: drift fires the trigger, the retrained index " +
      "publishes as a new model generation, and a STALE-generation " +
      "reader keeps hash-identical results") {
    def codesOf(ix: graft.sim.PqIndex.PqIndexArt) =
      ix.codes.select("vec_id", "sub", "code", "d2")
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getAs[Long]("code"), r.getAs[Long]("d2"))).toMap
    val dir = java.nio.file.Files.createTempDirectory("graft_pqref").toString
    val all = randVecs(0L until 150L)
    // cold-start: bootstrap on the first 8 arrivals, append the rest
    PqIndex.writeIndex(all.filter(col("vec_id") < 8), dir)
    PqIndex.appendIndex(dir, all.filter(col("vec_id") >= 8))
    // an in-flight reader bound to generation 0 BEFORE the refresh
    val staleIx = PqIndex.readIndex(spark, dir)
    val staleBefore = codesOf(staleIx)
    // within-budget drift does not fire (huge budget), real drift does
    assert(PqIndex.refreshIfDrifted(spark, dir, all,
      num = 1000, den = 1).isEmpty)
    val fired = PqIndex.refreshIfDrifted(spark, dir, all)
    assert(fired.exists(_.contains("modelgen1")))
    // the live index moved to the retrained generation: full-corpus
    // training (seeds 0..3 over ALL vectors — same seeds here, but
    // centroids from the full population), codes differ
    val freshIx = PqIndex.readIndex(spark, dir)
    val fresh = codesOf(freshIx)
    assert(fresh.size == 150 * Pq.M)
    assert(fresh != staleBefore,
      "refresh produced identical codes — drift not observable")
    // the STALE reader, re-collected AFTER the refresh, is bit-identical
    // to what it served before — generation 0 is intact on disk
    assert(codesOf(staleIx) == staleBefore)
    // drift signal reset at the new generation
    assert(PqIndex.refreshIfDrifted(spark, dir, all).isEmpty)
    // appends now land in the NEW generation at ITS codebook
    PqIndex.appendIndex(dir, randVecs(1000L until 1010L))
    assert(codesOf(PqIndex.readIndex(spark, dir)).size == 160 * Pq.M)
    assert(codesOf(staleIx) == staleBefore,
      "post-refresh append leaked into the stale generation")
  }

  test("refresh trigger edge cases: a fully-tombstoned index is a " +
      "quiet no-op; a legacy manifest (no drift baseline) refreshes " +
      "once and self-heals") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pqedge").toString
    val all = randVecs(0L until 40L)
    PqIndex.writeIndex(all, dir)
    // every vector tombstoned → no served mass, no drift signal
    PqIndex.eraseFromIndex(dir, (0L until 40L).toSeq.toDF("vec_id"))
    assert(PqIndex.refreshIfDrifted(spark, dir, all).isEmpty)
    // legacy artifact: a manifest persisted before the baseline
    // columns existed → the trigger refreshes ONCE (publishing a
    // generation that carries one) instead of throwing AnalysisException
    val dir2 = java.nio.file.Files.createTempDirectory("graft_pqedge2").toString
    PqIndex.writeIndex(all, dir2)
    val legacyRows = spark.read.parquet(s"$dir2/manifest")
      .drop("base_d2_sum", "base_d2_n")
    val (rows, schema) = (legacyRows.collect().toSeq, legacyRows.schema)
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
      .write.mode("overwrite").parquet(s"$dir2/manifest")
    spark.catalog.refreshByPath(s"$dir2/manifest")
    assert(PqIndex.refreshIfDrifted(spark, dir2, all)
      .exists(_.contains("modelgen1")))
    // the published generation carries a baseline: an i.i.d. source
    // now stays under budget — the trigger self-healed
    assert(PqIndex.refreshIfDrifted(spark, dir2, all).isEmpty)
  }

  test("refresh carries pending tombstones: an erased vector is not " +
      "resurrected into the retrained generation") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pqreft").toString
    val all = randVecs(0L until 60L)
    PqIndex.writeIndex(all.filter(col("vec_id") < 8), dir)
    PqIndex.appendIndex(dir, all.filter(col("vec_id") >= 8))
    PqIndex.eraseFromIndex(dir, Seq(42L).toDF("vec_id"))
    assert(PqIndex.readIndex(spark, dir).codes
      .filter(col("vec_id") === 42L).count() == 0)
    val gen = PqIndex.refreshIndex(spark, dir, all)
    // the retrained generation holds no trace of the erased vector —
    // in the RAW codes artifact, not just a tomb-filtered view (the
    // refresh rebuilds the per-vector record, so a raw-source retrain
    // would have silently undone the erasure)
    assert(spark.read.parquet(
        graft.io.IndexStore.livePath(gen, "codes").toString)
      .filter(col("vec_id") === 42L).count() == 0)
    assert(PqIndex.readIndex(spark, dir).codes.count() == 59 * Pq.M)
    // ...and the erased vector is also absent from the training set:
    // the new generation needs no tomb artifact at all
    assert(!graft.io.IndexStore.artifactExists(gen, "tomb"))
  }
}
