package graft.io

import graft.Q
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** FLEET OBSERVABILITY over the persisted index families — the one
  * report an operator (or the nightly scheduler) reads before and
  * after a maintenance pass: per family its live model generation,
  * declared geometry, served row count, and pending erasure debt.
  * Everything derives from artifact METADATA plus one tiny aggregate
  * per family (a count over the served view, a count over the
  * tombstone list) — no payloads, no probes: at a 100 TB fleet this
  * is a seconds-scale read regardless of corpus size, which is what
  * makes it safe to fire before every scheduled maintenance run.
  *
  * The gated fleet is deliberately HETEROGENEOUS so each column is
  * checked against a non-trivial closed form: the text index sits at
  * model generation 1 under the dense 8×8 geometry (the staged
  * density-triggered rebuild), emb/pq at generation 0 with their
  * resolved/declared geometries, and the mm index carries pending
  * erasure tombstones (erase staged WITHOUT its compaction). */
object HealthQueries {

  /** Oracle, parameterized on the emb band width the corpus resolves
    * (registered at the 8-bit gate floor; graft.Verify re-renders at
    * the live width via SimQueries.resolvedBandedOracles, like the
    * rest of the banded family). */
  private[graft] def healthOracle(bits: Int): String =
    s"""SELECT * FROM (
       |SELECT 'emb' AS family, CAST(0 AS BIGINT) AS generation,
       |       '${bits}bx2' AS geometry,
       |       (SELECT count(*) FROM embeddings WHERE vec_id % 5 <> 0)
       |         AS live_rows,
       |       CAST(0 AS BIGINT) AS pending_tombstones
       |UNION ALL
       |SELECT 'mm', CAST(0 AS BIGINT), 'ahash64',
       |       (SELECT count(*) FROM documents
       |        WHERE doc_id % 5 <> 0 AND doc_id % 10 <> 1),
       |       (SELECT count(*) FROM documents
       |        WHERE doc_id % 5 <> 0 AND doc_id % 10 = 1)
       |UNION ALL
       |SELECT 'pq', CAST(0 AS BIGINT),
       |       'm${graft.sim.Pq.M}k${graft.sim.Pq.K}c${graft.sim.PqIndex.KC}',
       |       (SELECT count(*) FROM embeddings WHERE vec_id % 5 <> 0),
       |       CAST(0 AS BIGINT)
       |UNION ALL
       |SELECT 'text', CAST(1 AS BIGINT), '8x8',
       |       (SELECT count(*) FROM documents),
       |       CAST(0 AS BIGINT)
       |) ORDER BY family""".stripMargin

  /** Pending-tombstone count of an index root's live generation as a
    * 1-row frame (0 when the family never erased — the artifact is
    * create-on-first-erase). */
  private def tombs(s: SparkSession, root: String): DataFrame =
    IndexStore.tombstones(s, IndexStore.liveRoot(root))
      .fold(s.range(1).select(lit(0L).as("pending_tombstones")))(
        _.agg(count(lit(1)).as("pending_tombstones")))

  private def row(family: String, generation: Long, geometry: String,
      live: DataFrame, tomb: DataFrame): DataFrame =
    live.crossJoin(tomb)
      .select(lit(family).as("family"), lit(generation).as("generation"),
        lit(geometry).as("geometry"), col("live_rows"),
        col("pending_tombstones"))

  def report(s: SparkSession, dir: String): DataFrame = {
    import graft.sim.{EmbIndex, Pq, PqIndex}
    import graft.multimodal.{MmIndex, MultimodalQueries}
    // r16 (guide §2.6): each family row's CONSTRUCTION pays driver-
    // blocking metadata work (staging-lock first-touch, manifest
    // reads/head() jobs, generation listings) that is independent
    // across families — build the four rows concurrently instead of
    // serializing four metadata round-trips. The returned plan (the
    // 4-row union) is unchanged.
    import scala.concurrent.{Await, Future, blocking}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // blocking{}: the bodies run blocking Spark actions (head/collect,
    // FS listings) — mark them so the global fork-join pool spawns
    // compensatory threads instead of starving under low parallelism
    val fText = Future { blocking {
      val textRoot = graft.text.DedupQueries.stagedRebuildPath(s, dir)
      val ixT = graft.text.Dedup.readIndex(s, textRoot)
      row("text", IndexStore.modelGen(textRoot), s"${ixT.bands}x${ixT.rows}",
        ixT.docs.agg(count(lit(1)).as("live_rows")),
        tombs(s, textRoot))
    } }
    val fEmb = Future { blocking {
      val embRoot = graft.sim.EmbIndexQueries.stagedEmbIndexPath(s, dir)
      val (bits, _, _, _) = EmbIndex.readManifest(s, embRoot)
      row("emb", IndexStore.modelGen(embRoot), s"${bits}bx2",
        EmbIndex.readIndex(s, embRoot).vecs.agg(count(lit(1)).as("live_rows")),
        tombs(s, embRoot))
    } }
    val fPq = Future { blocking {
      val pqRoot = graft.sim.PqIndexQueries.stagedPqIndexPath(s, dir)
      row("pq", IndexStore.modelGen(pqRoot), s"m${Pq.M}k${Pq.K}c${PqIndex.KC}",
        PqIndex.readIndex(s, pqRoot).codes
          .agg(countDistinct(col("vec_id")).as("live_rows")),
        tombs(s, pqRoot))
    } }
    val fMm = Future { blocking {
      val mmRoot = MultimodalQueries.stagedMmHealthPath(s, dir)
      row("mm", 0L, "ahash64",
        MmIndex.readIndex(s, mmRoot).agg(count(lit(1)).as("live_rows")),
        tombs(s, mmRoot))
    } }
    val (textRow, embRow, pqRow, mmRow) =
      (Await.result(fText, Duration.Inf), Await.result(fEmb, Duration.Inf),
        Await.result(fPq, Duration.Inf), Await.result(fMm, Duration.Inf))
    embRow.unionByName(mmRow).unionByName(pqRow).unionByName(textRow)
      .orderBy("family")
  }

  def queries: Seq[Q] = Seq(
    // Registered at the 8-bit emb gate floor; Verify re-renders the
    // emb geometry at the corpus-resolved width. One heterogeneous
    // fleet row per family — generation, geometry, live count, and
    // erasure debt each gated against a closed form.
    Q("obs_index_health", Some(healthOracle(8)), (s, d) => report(s, d)))
}
