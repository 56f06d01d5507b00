package graft

import graft.sim.{EmbIndex, Similarity}
import org.apache.spark.sql.functions._

class EmbIndexSpec extends SparkSpec {
  import spark.implicits._

  private def mix(i: Int, j: Int): Long = {
    var h = i.toLong * 0x9E3779B97F4A7C15L + j.toLong * 0xBF58476D1CE4E5B9L
    h ^= h >>> 30; h *= 0xBF58476D1CE4E5B9L
    h ^= h >>> 27; h *= 0x94D049BB133111EBL
    h ^ (h >>> 31)
  }

  private def randVecs(ids: Seq[Long], d: Int) =
    ids.map { i =>
      (i, (0 until d).map(j =>
        (mix(i.toInt, j).toDouble / (1L << 62).toDouble).toFloat).toArray)
    }.toDF("vec_id", "embedding")

  test("incremental accept via persisted index matches the full-corpus " +
      "banded pair semantics (base blocks at any id, delta lower-id wins)") {
    val emb = io.Tables.embeddings(spark, sf0001)
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val delta = emb.filter(col("vec_id") % 5 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_embix").toString
    EmbIndex.writeIndex(base, dir)
    val accepted = EmbIndex.incrementalAcceptIndexed(
        EmbIndex.readIndex(spark, dir), delta, 1, 5)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // reference: all verified banded pairs over the FULL corpus (same
    // width — both resolve the 8-bit floor here — same guard, since
    // base ∪ delta = corpus); a delta vector is rejected iff it pairs
    // with any base vector or a lower-id delta vector
    val pairs = Similarity.bandedVerifiedPairs(emb, 1, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val deltaIds = delta.select("vec_id").collect().map(_.getLong(0)).toSet
    val rejected = deltaIds.filter { d =>
      pairs.exists { case (a, b) =>
        (b == d && (!deltaIds(a) || a < d)) ||
        (a == d && !deltaIds(b)) // base ref with HIGHER id still blocks
      }
    }
    assert(accepted == (deltaIds -- rejected))
    assert(accepted.nonEmpty && rejected.nonEmpty,
      s"degenerate fixture: accepted=${accepted.size} rejected=${rejected.size}")
  }

  test("probe plan reads only index artifacts + the delta: base raw " +
      "vectors are never re-read, vecs scanned once as (vec_id, qe, na)") {
    val emb = io.Tables.embeddings(spark, sf0001)
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val delta = randVecs(10000L to 10004L, 64)
    val dir = java.nio.file.Files.createTempDirectory("graft_embix2").toString
    EmbIndex.writeIndex(base, dir)
    val probe = EmbIndex.incrementalAcceptIndexed(
      EmbIndex.readIndex(spark, dir), delta, 1, 5)
    // every FILE relation in the probe plan is a staged index artifact
    // (the delta here is a local relation; in production it is the
    // day's arrival files)
    val rels = probe.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }
    assert(rels.nonEmpty)
    assert(rels.forall(_.relation.asInstanceOf[
      org.apache.spark.sql.execution.datasources.HadoopFsRelation]
      .location.rootPaths.forall(_.toString.contains(dir))))
    // no file-backed band explode: the candidate join reads persisted
    // postings; only the delta's own rows are exploded at probe time
    val fileBackedGenerates = probe.queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate
          if g.collectLeaves().exists(
            _.isInstanceOf[org.apache.spark.sql.execution.datasources.LogicalRelation]) => g
    }
    assert(fileBackedGenerates.isEmpty)
    val scans = probe.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    def scansOf(part: String) = scans.filter(
      _.relation.location.rootPaths.exists(_.toString.endsWith(part)))
    assert(scansOf("/vecs").size == 1)
    assert(scansOf("/vecs").head.requiredSchema.fieldNames.toSet ==
      Set("vec_id", "qe", "na"))
    assert(scansOf("/post").nonEmpty && scansOf("/bk").nonEmpty)
  }

  test("serving top-k: indexTopK ranks bucket candidates by the exact " +
      "integer µ-cosine, reads base raw vectors zero times, and agrees " +
      "with a brute-force ranking over the same candidate set") {
    val vecs = randVecs(0L until 400L, 64)
    val dir = java.nio.file.Files.createTempDirectory("graft_embix9").toString
    EmbIndex.writeIndex(vecs, dir)
    val ix = EmbIndex.readIndex(spark, dir)
    val query = randVecs(9999L to 9999L, 64)
    val top = EmbIndex.indexTopK(ix, query, 10)
    // plan purity: the only FILE relations are the index artifacts
    // (the query is a local relation)
    val rels = top.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }
    assert(rels.nonEmpty)
    assert(rels.forall(_.relation.asInstanceOf[
      org.apache.spark.sql.execution.datasources.HadoopFsRelation]
      .location.rootPaths.forall(_.toString.contains(dir))))
    val got = top.collect().map(r =>
      (r.getAs[Long]("vec_id"), r.getAs[Long]("cos_e6"))).toSeq
    assert(got.nonEmpty && got.size <= 10)
    // independent small-step reference: quantize everything locally,
    // probe the same two buckets, rank by the same rounded cosine
    val all = vecs.collect().map(r => r.getLong(0) ->
      r.getAs[scala.collection.Seq[Float]](1).map(x =>
        math.round(x.toDouble * 1e6)).toArray).toMap
    val q = query.collect().head.getAs[scala.collection.Seq[Float]](1)
      .map(x => math.round(x.toDouble * 1e6)).toArray
    val (bits, _, _, _) = EmbIndex.readManifest(spark, dir)
    def bands(v: Array[Long]): Seq[(Int, Long)] = Seq(0, 1).map { b =>
      b -> (0 until bits).map(i =>
        if (v(b * bits + i) > 0L) 1L << i else 0L).sum
    }
    val qb = bands(q).toSet
    val cand = all.filter { case (_, v) => bands(v).exists(qb.contains) }
    def na(v: Array[Long]) = v.map(x => x * x).sum
    val expect = cand.toSeq.collect { case (id, v) if na(v) > 0 && na(q) > 0 =>
      val dot = v.zip(q).map { case (a, b) => a * b }.sum
      (id, math.round(dot.toDouble / math.sqrt(na(v).toDouble * na(q).toDouble) * 1e6))
    }.sortBy { case (id, c) => (-c, id) }.take(10)
    assert(got == expect)
  }

  test("append keeps one width per generation; a rebuild re-resolves " +
      "from the grown corpus (the in-session growth guard)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_embix3").toString
    // small base: resolves the 8-bit floor
    EmbIndex.writeIndex(randVecs(0L until 500L, 64), dir)
    assert(EmbIndex.readManifest(spark, dir)._1 == 8)
    // append a GROWTH delta: the index keeps the generation's width
    // (postings hashed at 8 bits are only probe-compatible with 8-bit
    // keys) — the manifest must NOT silently re-resolve
    EmbIndex.appendIndex(dir, randVecs(500L until 7000L, 64))
    assert(EmbIndex.readManifest(spark, dir)._1 == 8)
    // probing the grown index runs the manifest width — the appended
    // vectors are visible (posting count grew delta-sized)
    val ix = EmbIndex.readIndex(spark, dir)
    assert(ix.bits == 8)
    assert(ix.vecs.count() == 7000L)
    assert(ix.postings.count() == 14000L)
    // ...and a REBUILD over the grown corpus re-resolves the width
    // from the new count (7000 → 9 bits): growth changes the width at
    // the generation boundary, never mid-generation
    val dir2 = java.nio.file.Files.createTempDirectory("graft_embix4").toString
    EmbIndex.writeIndex(randVecs(0L until 7000L, 64), dir2)
    assert(EmbIndex.readManifest(spark, dir2)._1 == 9)
    assert(Similarity.autoBandBits(7000) == 9)
    // the manifest cache keys on the manifest's content, not its
    // mtime: dir2, opened at 9 bits above, rewritten in place over the
    // small corpus within one mtime tick opens at 8 bits, and a probe
    // signs there — twins of 20 indexed vectors each rank their source
    // first (a 9-bit-signed query misses most 8-bit buckets)
    withinOneMtimeTick(s"$dir2/manifest") {
      EmbIndex.writeIndex(randVecs(0L until 500L, 64), dir2)
    }
    val re = EmbIndex.readIndex(spark, dir2)
    assert(re.bits == 8)
    val twins = randVecs(0L until 20L, 64)
      .withColumn("vec_id", col("vec_id") + 100000L)
    assert(EmbIndex.indexTopKBatch(re, twins, 1)
      .select("q_id", "vec_id").collect()
      .map(r => r.getLong(0) - 100000L -> r.getLong(1)).toMap ==
      (0L until 20L).map(i => i -> i).toMap)
  }

  test("torn append detected and repaired via create-only generations; " +
      "repair is idempotent and the probe sees the repaired artifacts") {
    val dir = java.nio.file.Files.createTempDirectory("graft_embix6").toString
    val base = io.Tables.embeddings(spark, sf0001)
      .filter(org.apache.spark.sql.functions.col("vec_id") % 4 <= 1)
    EmbIndex.writeIndex(base, dir)
    val nBase = base.count()
    // simulate the only tear vecs-last permits: derived rows land,
    // vecs rows do not
    val delta = io.Tables.embeddings(spark, sf0001)
      .filter(org.apache.spark.sql.functions.col("vec_id") % 4 === 2)
    val (bits, _, _, _) = EmbIndex.readManifest(spark, dir)
    val ixd = EmbIndex.buildRows(delta, bits)
    EmbIndex.indexPostings(ixd).write.mode("append").parquet(s"$dir/post")
    graft.io.IndexStore.bucketStats(EmbIndex.indexPostings(ixd))
      .write.mode("append").parquet(s"$dir/bk")
    spark.catalog.refreshByPath(s"$dir/post")
    spark.catalog.refreshByPath(s"$dir/bk")
    // detected + repaired; second call a no-op
    assert(EmbIndex.repairIndex(spark, dir))
    assert(!EmbIndex.repairIndex(spark, dir))
    // post/bk resolved through generations (g1), orphans gone: exactly
    // 2 postings per BASE vector, none for the torn delta
    assert(graft.io.IndexStore.livePath(dir, "post").getName == "post.g1")
    assert(graft.io.IndexStore.livePath(dir, "bk").getName == "bk.g1")
    val ix = EmbIndex.readIndex(spark, dir)
    assert(ix.postings.count() == 2 * nBase)
    val perVec = ix.postings.groupBy("vec_id")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n")).collect()
    assert(perVec.length == nBase && perVec.forall(_.getAs[Long]("n") == 2L))
  }

  test("double-retry tear (fully-landed append re-run) dedupes vecs " +
      "itself via a published generation, not just the probe path") {
    val dir = java.nio.file.Files.createTempDirectory("graft_embix7").toString
    EmbIndex.writeIndex(randVecs(0L until 300L, 64), dir)
    // a crash AFTER the final vecs append followed by a full retry
    // duplicates the delta's rows in all three artifacts
    val delta = randVecs(300L until 350L, 64)
    EmbIndex.appendIndex(dir, delta)
    EmbIndex.appendIndex(dir, delta)
    assert(spark.read.parquet(EmbIndex.vecsLive(dir))
      .groupBy("vec_id").count().filter(col("count") > 1).count() == 50L)
    // repair detects it, publishes a deduplicated vecs generation and
    // re-derives post/bk; second call is a no-op
    assert(EmbIndex.repairIndex(spark, dir))
    assert(!EmbIndex.repairIndex(spark, dir))
    assert(graft.io.IndexStore.livePath(dir, "vecs").getName == "vecs.g1")
    // the DIRECT vecs consumers (emb_index_build's content gate) now
    // see one row per vector, and the probe invariant holds
    val ix = EmbIndex.readIndex(spark, dir)
    assert(ix.vecs.count() == 350L)
    assert(ix.vecs.select("vec_id").distinct().count() == 350L)
    assert(ix.postings.count() == 700L)
  }

  test("sidecar compaction: partials sum to one row per bucket and the " +
      "probe result is bit-identical before/after") {
    val dir = java.nio.file.Files.createTempDirectory("graft_embix8").toString
    EmbIndex.writeIndex(randVecs(0L until 200L, 64), dir)
    (1 to 3).foreach(m =>
      EmbIndex.appendIndex(dir, randVecs(200L * m until 200L * (m + 1), 64)))
    def bk = spark.read.parquet(
      graft.io.IndexStore.livePath(dir, "bk").toString)
    val buckets = bk.select("bk").distinct().count()
    assert(bk.count() > buckets) // partials from 3 appends
    val preSums = bk.groupBy("bk").agg(sum("n").as("n"))
      .collect().map(r => (r.get(0).toString, r.getLong(1))).toMap
    def probe = EmbIndex.incrementalAcceptIndexed(
        EmbIndex.readIndex(spark, dir), randVecs(9000L until 9050L, 64), 1, 5)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    val before = probe
    EmbIndex.compactIndexStats(spark, dir)
    assert(bk.count() == buckets)
    val postSums = bk.collect()
      .map(r => (r.get(0).toString, r.getAs[Long]("n"))).toMap
    assert(postSums == preSums) // compacted == summed partials, exactly
    assert(probe == before)
    // idempotent: compacting a compacted sidecar changes nothing
    EmbIndex.compactIndexStats(spark, dir)
    assert(bk.count() == buckets)
  }

  test("erasure: a tombstoned vector can neither reject a delta nor " +
      "appear in any probe; compaction purges it physically") {
    val d = 64
    def vec(first: Float) = (0 until d).map(j =>
      if (j == 0) first else 0.01f).toArray
    val dir = java.nio.file.Files.createTempDirectory("graft_embix9").toString
    EmbIndex.writeIndex(Seq((1L, vec(1.0f))).toDF("vec_id", "embedding"), dir)
    val clone = Seq((20L, vec(1.001f))).toDF("vec_id", "embedding")
    def accepted = EmbIndex.incrementalAcceptIndexed(
      EmbIndex.readIndex(spark, dir), clone, 1, 5).count()
    assert(accepted == 0L) // blocked by the indexed near-identical vector
    EmbIndex.eraseFromIndex(dir, Seq(Tuple1(1L)).toDF("vec_id"))
    // tombstone-aware from the erase call on — BEFORE any compaction
    assert(accepted == 1L)
    assert(EmbIndex.readIndex(spark, dir).vecs.count() == 0L)
    // physical purge at compaction: the raw artifacts are clean too
    EmbIndex.compactIndexStats(spark, dir)
    assert(spark.read.parquet(EmbIndex.vecsLive(dir)).count() == 0L)
    assert(spark.read.parquet(
      graft.io.IndexStore.livePath(dir, "post").toString).count() == 0L)
    assert(spark.read.parquet(
      graft.io.IndexStore.livePath(dir, "tomb").toString).count() == 0L)
    assert(accepted == 1L)
  }

  test("appends keep post and bk equal to their derivation from vecs, " +
      "land one part file per artifact, and a rejected delta writes none") {
    val dir = java.nio.file.Files.createTempDirectory("graft_embixp").toString
    def live(part: String) = graft.io.IndexStore.livePath(dir, part)
    def postings(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("bk").cast("string")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    def stats(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("bk").agg(sum("n")).collect()
        .map(r => (r.get(0).toString, r.getLong(1))).toMap
    def vecIds = spark.read.parquet(EmbIndex.vecsLive(dir))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    def parity(): Unit = {
      val vecs = spark.read.parquet(EmbIndex.vecsLive(dir))
      val post = EmbIndex.indexPostings(vecs)
      assert(postings(spark.read.parquet(live("post").toString)) == postings(post))
      assert(stats(spark.read.parquet(live("bk").toString)) ==
        stats(graft.io.IndexStore.bucketStats(post)))
    }
    def parts = Seq("post", "bk", "vecs").map(p =>
      new java.io.File(live(p).toUri.getPath).listFiles()
        .count(_.getName.startsWith("part-")))
    try {
      EmbIndex.writeIndex(randVecs(0L until 200L, 64), dir)
      val p0 = parts
      EmbIndex.appendIndex(dir, randVecs(200L until 250L, 64))
      parity()
      assert(parts == p0.map(_ + 1))
      // a frame that is not a local relation snapshots to scratch
      // parquet and derives post/bk distributed
      EmbIndex.appendIndex(dir, randVecs(250L until 300L, 64).repartition(2))
      parity()
      assert(parts == p0.map(_ + 2))
      // copies of indexed vectors under new ids (rejected) beside fresh
      // random vectors
      val copies = randVecs(0L until 10L, 64).withColumn("vec_id", col("vec_id") + 5000L)
      val delta = copies.unionByName(randVecs(9000L until 9020L, 64))
      val accepted = EmbIndex.incrementalAcceptIndexed(
          EmbIndex.readIndex(spark, dir), delta, 1, 5)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(accepted.nonEmpty && !accepted.exists(id => id >= 5000L && id < 5010L))
      val before = vecIds
      EmbIndex.appendAcceptedIndexed(dir, EmbIndex.readIndex(spark, dir), delta, 1, 5)
      assert(vecIds == before ++ accepted)
      parity()
      assert(parts == p0.map(_ + 3))
      EmbIndex.appendAcceptedIndexed(dir, EmbIndex.readIndex(spark, dir), copies, 1, 5)
      assert(parts == p0.map(_ + 3))
    } finally graft.io.Staging.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("appended entries block later near-dups of accepted vectors") {
    val d = 64
    def unit(sign: Int) = (0 until d).map(j =>
      (if (j == 0) 1.0f else 0.01f) * sign).toArray
    val base = Seq((1L, unit(1))).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_embix5").toString
    EmbIndex.writeIndex(base, dir)
    // day 1: an unrelated (opposite-direction) vector is accepted
    val day1 = Seq((10L, unit(-1))).toDF("vec_id", "embedding")
    val acc1 = EmbIndex.incrementalAcceptIndexed(
      EmbIndex.readIndex(spark, dir), day1, 1, 5)
    assert(acc1.count() == 1L)
    EmbIndex.appendIndex(dir, acc1)
    // day 2: a near-clone of day 1's accepted vector must now be
    // rejected THROUGH THE APPENDED ENTRIES (it is dissimilar to base)
    val clone = unit(-1); clone(1) = -0.011f
    val day2 = Seq((20L, clone)).toDF("vec_id", "embedding")
    val acc2 = EmbIndex.incrementalAcceptIndexed(
      EmbIndex.readIndex(spark, dir), day2, 1, 5)
    assert(acc2.count() == 0L)
  }

  test("batched serving: per-query agreement with indexTopK, every " +
      "executed fetch reads only index artifacts, at most k rows per query") {
    val vecs = randVecs(0L until 400L, 64)
    val dir = java.nio.file.Files.createTempDirectory("graft_embixb").toString
    EmbIndex.writeIndex(vecs, dir)
    val ix = EmbIndex.readIndex(spark, dir)
    val queries = randVecs(9000L to 9004L, 64)
    // plan purity: every query the probe executes scans only index
    // artifacts (the queries are a local relation)
    val scanned = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        qe.sparkPlan.foreach {
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            s.relation.location.rootPaths.foreach(p => scanned.add(p.toString))
          case _ =>
        }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.GraftTestBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    val rows = try {
      val r = EmbIndex.indexTopKBatch(ix, queries, 3).collect()
      org.apache.spark.GraftTestBus.drain(spark.sparkContext)
      r
    } finally spark.listenerManager.unregister(listener)
    val paths = scanned.toArray.map(_.toString).toSeq
    assert(paths.exists(_.endsWith("/post")) && paths.exists(_.endsWith("/vecs")),
      paths.mkString(", "))
    assert(paths.forall(_.contains(dir)), paths.mkString(", "))
    val got = rows
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(t => (t._3, t._4)).toSeq)
      .toMap
    assert(got.nonEmpty)
    // the k bound: ranks 1..n with n ≤ k per query
    rows.groupBy(_.getLong(0)).values.foreach { rs =>
      assert(rs.map(_.getLong(1)).sorted.toSeq == (1L to rs.length.toLong) &&
        rs.length <= 3)
    }
    // every query's batched answer equals its single-query indexTopK
    // (rank k here never exceeds the single kernel's ordering depth)
    (9000L to 9004L).foreach { qid =>
      val single = EmbIndex.indexTopK(ix,
          queries.filter(col("vec_id") === qid), 3).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cos_e6"))).toSeq
      assert(got.getOrElse(qid, Seq()) == single,
        s"batched vs single serving diverged for query $qid")
    }
  }

  /** The SQL plan [[EmbIndex.indexTopKBatch]] had before it ranked on
    * the driver: candidates by a broadcast join of the queries' band
    * keys against the postings, the vecs and query joins, and a
    * row_number window bounded by k. The reference the driver-side
    * probe must equal row for row. */
  private def sqlTopKBatch(ix: EmbIndex.EmbeddingIndex,
      queries: org.apache.spark.sql.DataFrame, k: Int) = {
    val q = EmbIndex.buildRows(queries, ix.bits)
      .select(col("vec_id").as("q_id"), col("qe").as("qe_q"),
        col("na").as("na_q"), col("bands").as("q_bands"))
    val qbk = q.select(col("q_id"), explode(col("q_bands")).as("bk"))
    val cand = ix.postings.join(broadcast(qbk), Seq("bk"))
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id").distinct()
    ix.vecs.join(cand, Seq("vec_id"))
      .join(broadcast(q.select("q_id", "qe_q", "na_q")), Seq("q_id"))
      .filter(col("na") > 0 && col("na_q") > 0)
      .withColumn("dot", call_function("dot_longs", col("qe"), col("qe_q")))
      .withColumn("cos_e6",
        expr("""CAST(round(CAST(dot AS DOUBLE)
               | / sqrt(CAST(na AS DOUBLE) * CAST(na_q AS DOUBLE))
               | * 1e6) AS BIGINT)""".stripMargin))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("q_id")
          .orderBy(col("cos_e6").desc, col("vec_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "vec_id", "cos_e6")
  }

  test("batched serving equals the SQL reference plan row for row: ties, " +
      "self ids, zero vectors, k past the candidates, tombstones, orphan " +
      "postings, retried appends, empty and parquet-backed queries") {
    val dir = java.nio.file.Files.createTempDirectory("graft_embixeq").toString
    val base = randVecs(0L until 400L, 64).collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1).toArray).toMap
    val zero = Array.fill(64)(0f)
    // 400..403 copy 0, 7, 11 and 13 (cos ties); 404 is a zero vector
    val copies = Seq(400L -> base(0L), 401L -> base(7L), 402L -> base(11L),
      403L -> base(13L), 404L -> zero)
    EmbIndex.writeIndex((base.toSeq ++ copies).toDF("vec_id", "embedding"), dir)
    // queries: fresh vectors; copies of indexed ones (one of them under
    // an indexed id: 7 excludes itself, not its copy 401); a second row
    // under id 9000; a zero vector and an all-negative one (bucket of
    // the indexed zero vector); a null id
    val qs = Seq[(Option[Long], Array[Float])](
        Some(9100L) -> base(0L), Some(7L) -> base(7L), Some(9101L) -> base(11L),
        Some(9000L) -> base(13L), Some(9102L) -> zero,
        Some(9103L) -> Array.fill(64)(-1f), None -> base(0L)) ++
      randVecs(9000L until 9010L, 64).collect().map(r =>
        Some(r.getLong(0)) -> r.getAs[scala.collection.Seq[Float]](1).toArray)
    val local = qs.toDF("vec_id", "embedding")
    val qPath = s"$dir/../${new java.io.File(dir).getName}_queries"
    local.write.mode("overwrite").parquet(qPath)
    val onDisk = spark.read.parquet(qPath)
    val empty = local.filter(lit(false))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
      .map(r => (Option(r.get(0)), r.getLong(1), r.getLong(2), Option(r.get(3))))
      .sortBy(t => (t._1.map(_.toString), t._2))
    def check(state: String): Unit = {
      val ix = EmbIndex.readIndex(spark, dir)
      for ((name, q) <- Seq("local" -> local, "parquet" -> onDisk, "empty" -> empty);
           k <- Seq(3, 1000)) {
        val want = rows(sqlTopKBatch(ix, q, k))
        assert(rows(EmbIndex.indexTopKBatch(ix, q, k)) == want,
          s"$state, $name queries, k = $k")
        if (name != "empty") assert(want.nonEmpty, s"$state, $name, k = $k")
      }
    }
    check("fresh")
    EmbIndex.eraseFromIndex(dir, Seq(0L, 401L).toDF("vec_id"))
    check("tombstoned")
    // a torn append: postings and bucket partials of copies of the
    // queries land, their vecs rows do not
    val (bits, _, _, _) = EmbIndex.readManifest(spark, dir)
    val torn = EmbIndex.buildRows(Seq(500L -> base(0L), 501L -> base(13L))
      .toDF("vec_id", "embedding"), bits)
    EmbIndex.indexPostings(torn).write.mode("append").parquet(s"$dir/post")
    graft.io.IndexStore.bucketStats(EmbIndex.indexPostings(torn))
      .write.mode("append").parquet(s"$dir/bk")
    spark.catalog.refreshByPath(s"$dir/post")
    spark.catalog.refreshByPath(s"$dir/bk")
    check("orphan postings")
    // a retried append: every artifact holds the delta twice
    val retried = Seq(600L -> base(0L), 601L -> base(11L)).toDF("vec_id", "embedding")
    EmbIndex.appendIndex(dir, retried)
    EmbIndex.appendIndex(dir, retried)
    check("duplicate vecs rows")
  }

  test("width rebuild: occupancy fires the trigger, the rebuilt index " +
      "publishes as a new model generation at the wider width, a STALE " +
      "reader keeps hash-identical results, and pending tombstones are " +
      "not resurrected") {
    val dir = java.nio.file.Files.createTempDirectory("graft_embreb").toString
    val all = randVecs(0L until 600L, 64)
    // build on a 30-vector bootstrap at a tight guard → 8-bit floor;
    // the full 600 resolve 10 bits under maxBucket = 4
    EmbIndex.writeIndex(all.filter(col("vec_id") < 30), dir, maxBucket = 4)
    EmbIndex.appendIndex(dir, all.filter(col("vec_id") >= 30))
    val (bits0, _, _, _) = EmbIndex.readManifest(spark, dir)
    // erase one vector BEFORE the rebuild — it must not come back
    EmbIndex.eraseFromIndex(dir, Seq(123L).toDF("vec_id"))
    // a reader bound to generation 0 before the rebuild
    val staleIx = EmbIndex.readIndex(spark, dir)
    def vecsOf(ix: EmbIndex.EmbeddingIndex) = ix.vecs
      .select("vec_id", "na").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val staleBefore = vecsOf(staleIx)
    val fired = EmbIndex.rebuildIfDegraded(spark, dir, all)
    assert(fired.exists(_.contains("modelgen1")))
    val (bits1, _, _, _) = EmbIndex.readManifest(spark, dir)
    assert(bits1 > bits0, s"rebuild kept width $bits0 -> $bits1")
    // the rebuilt generation's RAW vecs hold no trace of the erased
    // vector (tombstones carried into the rebuild source)
    assert(spark.read.parquet(EmbIndex.vecsLive(dir))
      .filter(col("vec_id") === 123L).count() == 0)
    assert(EmbIndex.readIndex(spark, dir).vecs.count() == 599)
    // the stale reader, re-collected after the rebuild, is unchanged
    assert(vecsOf(staleIx) == staleBefore)
    // quiescent after the rebuild
    assert(EmbIndex.rebuildIfDegraded(spark, dir, all).isEmpty)
    // appends land in the NEW generation at ITS width
    EmbIndex.appendIndex(dir, randVecs(9000L until 9010L, 64))
    assert(EmbIndex.readIndex(spark, dir).vecs.count() == 609)
    assert(vecsOf(staleIx) == staleBefore,
      "post-rebuild append leaked into the stale generation")
  }

  test("rebuild trigger on a fully-erased index is an explicit no-op, " +
      "not an NPE on the empty min-dim aggregate") {
    val dir = java.nio.file.Files.createTempDirectory("graft_embedge").toString
    val vecs = randVecs(0L until 30L, 16)
    EmbIndex.writeIndex(vecs, dir)
    EmbIndex.eraseFromIndex(dir, (0L until 30L).toSeq.toDF("vec_id"))
    // an empty index has no geometry to re-resolve
    assert(EmbIndex.rebuildIfDegraded(spark, dir, vecs).isEmpty)
  }
}
