package graft

import graft.io.MaintenanceReport
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Crash matrix of the nightly maintenance pass (`maintainIndex`, all
  * four index families) — the evidence behind
  * [[graft.io.MaintenanceReport]]'s crash contract.
  *
  * Each family stages the SAME damaged index (a replayed or torn
  * append, pending erasure tombstones, and the family's regeneration
  * trigger where it has one) into a fresh root per crash point
  * k ∈ {0 = before anything, 1 = after compact, 2 = after compact and
  * repair}. It runs the first k steps by hand (each step is
  * individually crash-safe, so "crashed between steps" IS the state a
  * real crash leaves), then one full `maintainIndex`, the re-run a
  * scheduler issues after the crash. Two things must hold:
  *  - the healed live content equals the uncrashed (k = 0) pass's —
  *    healing is path-independent;
  *  - a second pass reports a no-op. */
class MaintenanceSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def matrix(family: String, stage: String => Unit,
      compactStep: String => Unit, repairStep: String => Unit,
      pass: String => MaintenanceReport,
      content: String => Seq[DataFrame]): Unit = {
    var ref: Seq[String] = null
    (0 to 2).foreach { k =>
      val dir = java.nio.file.Files.createTempDirectory(
        s"graft_maintain_${family}_k${k}_")
      val root = dir.toString
      try {
        stage(root)
        if (k >= 1) compactStep(root)
        if (k >= 2) repairStep(root)
        val rep = pass(root)
        val got = content(root).flatMap(rows)
        if (k == 0) {
          ref = got
          // the staged damage is real: the uncrashed pass has work to do
          assert(!rep.noop, s"$family: uncrashed pass was a no-op")
        } else {
          val same = got == ref // keeps a failure message to the counts
          assert(same, s"$family crash point $k: healed content diverged " +
            s"from the uncrashed pass (${got.size} vs ${ref.size} rows)")
        }
        val again = pass(root)
        assert(again.noop,
          s"$family crash point $k: second pass not a no-op ($again)")
      } finally graft.io.Staging.deleteRecursively(dir)
    }
  }

  private lazy val docs = io.Tables.documents(spark, sf0001)
    .select("doc_id", "text")
  private lazy val emb = io.Tables.embeddings(spark, sf0001)
    .select("vec_id", "embedding")

  test("text index: a crash after any maintenance step heals to the " +
      "uncrashed content, and the next pass is a no-op") {
    import graft.text.Dedup
    val source = docs.filter(col("doc_id") % 10 =!= 1)
    // denseAt = 100 also fires the density rebuild, which re-derives the
    // index from the source and would by itself heal a skipped repair;
    // the unreachable threshold runs compact and repair alone. Repair
    // rewrites post and bk from the distinct ix rows (a replayed ix row
    // stays), so the content is ix AND post
    Seq(100L, Long.MaxValue).foreach { denseAt =>
      matrix(s"text_dense$denseAt",
        stage = { root =>
          Dedup.writeIndex(docs.filter(col("doc_id") % 20 === 0),
            "doc_id", "text", root)
          Dedup.appendIndex(root,
            docs.filter(col("doc_id") % 20 =!= 0), "doc_id", "text")
          // the replayed append: one slice lands end-to-end TWICE
          Dedup.appendIndex(root,
            docs.filter(col("doc_id") % 20 === 5), "doc_id", "text")
          Dedup.eraseFromIndex(root,
            docs.filter(col("doc_id") % 10 === 1)
              .select(col("doc_id").as("id")))
        },
        compactStep = root => Dedup.compactIndexStats(spark, root),
        repairStep = root => { Dedup.repairIndex(spark, root); () },
        pass = root => Dedup.maintainIndex(spark, root, source, "doc_id",
          "text", denseAt = denseAt),
        content = { root =>
          val live = graft.io.IndexStore.liveRoot(root)
          Seq(spark.read.parquet(Dedup.ixLive(live))
              .select(col("id"), size(col("sh")).as("n_sh"), col("fp"),
                size(col("bands")).as("n_bands")),
            spark.read.parquet(graft.io.IndexStore.livePath(live, "post").toString)
              .select(col("id"), col("bk.band"), col("bk.bh")))
        })
    }
  }

  test("embedding index: a crash after any maintenance step heals to " +
      "the uncrashed content, and the next pass is a no-op") {
    import graft.sim.EmbIndex
    val source = emb.filter(col("vec_id") % 10 =!= 1)
    matrix("emb",
      stage = { root =>
        EmbIndex.writeIndex(emb.filter(col("vec_id") % 20 === 0), root,
          maxBucket = 4)
        EmbIndex.appendIndex(root, emb.filter(col("vec_id") % 20 =!= 0))
        EmbIndex.appendIndex(root, emb.filter(col("vec_id") % 20 === 5))
        EmbIndex.eraseFromIndex(root,
          emb.filter(col("vec_id") % 10 === 1).select("vec_id"))
      },
      compactStep = root => EmbIndex.compactIndexStats(spark, root),
      repairStep = root => { EmbIndex.repairIndex(spark, root); () },
      pass = root => EmbIndex.maintainIndex(spark, root, source),
      content = root => Seq(spark.read.parquet(
          EmbIndex.vecsLive(graft.io.IndexStore.liveRoot(root)))
        .select(col("vec_id"), col("na"),
          col("bands").getItem(0).getField("mask"),
          col("bands").getItem(1).getField("mask"))))
  }

  test("PQ index: a crash after any maintenance step heals to the " +
      "uncrashed content, and the next pass is a no-op") {
    import graft.sim.{Clustering, Pq, PqIndex}
    val source = emb.filter(col("vec_id") % 10 =!= 1)
    matrix("pq",
      stage = { root =>
        PqIndex.writeIndex(emb.filter(col("vec_id") <= 15), root)
        PqIndex.appendIndex(root, emb.filter(col("vec_id") > 15))
        // the torn retry: 2 of 4 subspaces of one slice land again —
        // the slice is DISJOINT from the erased population, so repair
        // never needs an erased vector's raw embedding
        val slice = emb.filter(col("vec_id") % 10 === 3)
        val live = PqIndex.codesLive(root)
        Pq.encodeAt(slice, spark.read.parquet(s"$root/codebook"))
          .filter(col("sub") < 2)
          .join(Clustering.assignAt(slice,
              spark.read.parquet(s"$root/coarse"))
            .select(col("vec_id"), col("cluster").as("cell")), "vec_id")
          .write.partitionBy("cell").mode("append").parquet(live)
        spark.catalog.refreshByPath(live)
        PqIndex.eraseFromIndex(root,
          emb.filter(col("vec_id") % 10 === 1).select("vec_id"))
      },
      compactStep = root => PqIndex.compactIndex(spark, root),
      repairStep = root => { PqIndex.repairIndex(spark, root, source); () },
      pass = root => PqIndex.maintainIndex(spark, root, source),
      content = root => Seq(spark.read.parquet(PqIndex.codesLive(root))
        .select("vec_id", "sub", "code", "d2")))
  }

  test("media index: a crash after any maintenance step heals to the " +
      "uncrashed content, and the next pass is a no-op") {
    import graft.multimodal.{MmIndex, Multimodal}
    val media = Multimodal.synthMediaTable(spark,
      io.Tables.documents(spark, sf0001).select("doc_id", "text", "n_chars"))
      .localCheckpoint()
    matrix("mm",
      stage = { root =>
        MmIndex.writeIndex(media.filter(col("doc_id") % 5 =!= 0), root)
        val delta = media.filter(col("doc_id") % 5 === 0)
        MmIndex.appendIndex(root, delta)
        MmIndex.appendIndex(root, delta) // the replay
        MmIndex.eraseFromIndex(root,
          media.filter(col("doc_id") % 10 === 1).select("doc_id"))
      },
      compactStep = root => MmIndex.compactIndex(spark, root),
      repairStep = root => { MmIndex.repairIndex(spark, root); () },
      pass = root => MmIndex.maintainIndex(spark, root),
      content = root => Seq(spark.read.parquet(MmIndex.sigLive(root))
        .select("doc_id", "media_type", "phash_hi", "phash_lo")))
  }
}
