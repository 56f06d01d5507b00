package graft.pipeline

import graft.Q
import graft.io.Tables._
import graft.text.Sentiment
import org.apache.spark.sql.functions._

/** The two reference pipelines as registered queries over `documents`
  * (documents.text stands in for the uploaded CSV's review/comments
  * column, FIXTURES.md §B role mapping). */
object PipelineQueries {

  def queries: Seq[Q] = Seq(
    // app.py demo path: comment_length, NaN→"nan", no dropna.
    Q("pipeline_demo",
      Some("""SELECT doc_id, lang,
             |       length(coalesce(text, 'nan')) AS comment_length
             |FROM documents ORDER BY doc_id""".stripMargin),
      (s, d) => Pipelines.demo(documents(s, d))
        .select("doc_id", "lang", "comment_length").orderBy("doc_id")),

    // etl_core path: dropna(any) → sentiment.
    Q("pipeline_clean_ai",
      Some(s"""SELECT doc_id, ${Sentiment.oracleCaseSql("text")} AS sentiment_result
              |FROM documents
              |WHERE doc_id IS NOT NULL AND text IS NOT NULL AND lang IS NOT NULL
              |  AND source IS NOT NULL AND n_chars IS NOT NULL
              |ORDER BY doc_id""".stripMargin),
      (s, d) => Pipelines.cleanAi(documents(s, d))
        .select("doc_id", "sentiment_result").orderBy("doc_id")),

    // the batched external-enrichment shape (mapPartitions, one client
    // call per batch — etl_core.py:60's scalable form). The lexicon
    // client is pure, so results equal the Column scorer → oracled.
    Q("pipeline_enrich_batched",
      Some(s"""SELECT doc_id, ${Sentiment.oracleCaseSql("text")} AS sentiment_result
              |FROM documents ORDER BY doc_id""".stripMargin),
      (s, d) => graft.text.Sentiment.enrichBatched(
        documents(s, d), "text", "sentiment_result")
        .select("doc_id", "sentiment_result").orderBy("doc_id")),

    // full ETL through the CSV boundary (§3.2 end-to-end): documents →
    // CSV upload → read+infer → dropna → sentiment → comment_length →
    // single-object CSV result → read back.
    Q("pipeline_full_etl",
      Some(s"""SELECT doc_id, lang,
              |       length(coalesce(text, 'nan')) AS comment_length,
              |       ${Sentiment.oracleCaseSql("text")} AS sentiment_result
              |FROM documents
              |WHERE doc_id IS NOT NULL AND text IS NOT NULL AND lang IS NOT NULL
              |  AND source IS NOT NULL AND n_chars IS NOT NULL
              |ORDER BY doc_id""".stripMargin),
      (s, d) => {
        val base = s"${sys.props("java.io.tmpdir")}/graft_etl_${ProcessHandle.current().pid()}_${d.replaceAll("[^A-Za-z0-9]", "_")}"
        graft.io.Csv.writeSingle(documents(s, d), s"$base/upload")
        val uploaded = graft.io.Csv.read(s, s"$base/upload")
        val out = Pipelines.demo(Pipelines.cleanAi(uploaded))
        graft.io.Csv.writeSingle(out, s"$base/processed")
        graft.io.Csv.read(s, s"$base/processed")
          .select(col("doc_id").cast("long"), col("lang"),
            col("comment_length").cast("long"),
            col("sentiment_result"))
          .orderBy("doc_id")
      }),

    // STAGE DECOMPOSITION of pipeline_full_etl as a standing artifact
    // (the stage-timing harness promoted to a registered pair —
    // the decomposition that caught the coalesce(1) scale defect in
    // r11 is now queryable, not a one-off run). Per stage: ordinal,
    // name, exact row count. This twin is the HASH GATE (counts are
    // deterministic: |documents| through the CSV boundary, the
    // dropna(any) survivor count through the transform/result/
    // readback stages); the walls live on the rows-only twin below.
    Q("obs_stage_rows",
      Some(s"""SELECT CAST(1 AS BIGINT) AS stage_id, 'upload_write' AS stage,
              |       (SELECT count(*) FROM documents) AS n_rows
              |UNION ALL SELECT CAST(2 AS BIGINT), 'read_infer',
              |       (SELECT count(*) FROM documents)
              |UNION ALL SELECT CAST(3 AS BIGINT), 'transform',
              |       (SELECT count(*) FROM documents
              |        WHERE doc_id IS NOT NULL AND text IS NOT NULL
              |          AND lang IS NOT NULL AND source IS NOT NULL
              |          AND n_chars IS NOT NULL)
              |UNION ALL SELECT CAST(4 AS BIGINT), 'result_write',
              |       (SELECT count(*) FROM documents
              |        WHERE doc_id IS NOT NULL AND text IS NOT NULL
              |          AND lang IS NOT NULL AND source IS NOT NULL
              |          AND n_chars IS NOT NULL)
              |UNION ALL SELECT CAST(5 AS BIGINT), 'readback',
              |       (SELECT count(*) FROM documents
              |        WHERE doc_id IS NOT NULL AND text IS NOT NULL
              |          AND lang IS NOT NULL AND source IS NOT NULL
              |          AND n_chars IS NOT NULL)
              |ORDER BY stage_id""".stripMargin),
      (s, d) => {
        import s.implicits._
        stageReport(s, d).map { case (id, st, n, _) => (id, st, n) }
          .toDF("stage_id", "stage", "n_rows").orderBy("stage_id")
      }),

    // the walls twin: same stages + measured wall_ms. Rows-only BY
    // DESIGN (walls are a measurement, not a deterministic value —
    // the dedup_simhash/md5 twin convention): obs_stage_rows above is
    // the hash-exact twin gating the stage structure and counts.
    Q("obs_stage_walls",
      None,
      (s, d) => {
        import s.implicits._
        stageReport(s, d)
          .toDF("stage_id", "stage", "n_rows", "wall_ms")
          .orderBy("stage_id")
      }),

    // clean+AI with both flags off — flags are real here (the reference
    // accepted but ignored them, SURVEY §2.3.6).
    Q("pipeline_flags_off",
      Some("SELECT doc_id, n_chars FROM documents ORDER BY doc_id"),
      (s, d) => Pipelines.cleanAi(documents(s, d),
        Pipelines.EtlOptions(clean = false, ai = false))
        .select("doc_id", "n_chars").orderBy("doc_id")),

    // right-to-erasure over a partitioned lake: tombstoned keys are
    // anti-joined out and ONLY the partitions that contain them are
    // rewritten (dynamic partition overwrite; the semi join against
    // the broadcast affected-partition set prunes the rewrite input).
    // At 100 TB the erasure cost tracks the tombstones' partition
    // footprint, not the table size. No collect: tombstones and
    // affected partitions stay DataFrames end-to-end.
    Q("pipeline_erasure",
      Some("""SELECT c_custkey, c_name, c_acctbal, c_nationkey
             |FROM customer WHERE c_custkey % 97 <> 0
             |ORDER BY c_custkey""".stripMargin),
      (s, d) => {
        val base = s"${sys.props("java.io.tmpdir")}/graft_erasure_${ProcessHandle.current().pid()}_${d.replaceAll("[^A-Za-z0-9]", "_")}/customer"
        val cust = graft.io.Tables.customer(s, d)
          .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
        cust.write.mode("overwrite").partitionBy("c_nationkey").parquet(base)
        val tombstones = cust.filter(col("c_custkey") % 97 === 0)
          .select("c_custkey", "c_nationkey")
        val affected = tombstones.select("c_nationkey").distinct()
        s.read.parquet(base)
          .join(broadcast(affected), Seq("c_nationkey"), "left_semi")
          .join(broadcast(tombstones.select("c_custkey")), Seq("c_custkey"), "left_anti")
          .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("c_nationkey").parquet(base)
        s.read.parquet(base)
          .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
          .orderBy("c_custkey")
      })
  )

  /** ONE measured run of the full-ETL stage ladder per (session,
    * sf dir) — both obs_stage twins read the same rows, so the
    * pipeline runs once however the driver orders them. Values are
    * driver-side tuples (not DataFrames), so a plain map suffices.
    *
    * Stages mirror the stage-timing harness this pair promotes
    * (SERIAL.md "pipeline_full_etl decomposed by stage"): upload =
    * documents → single-object CSV; read_infer = schema-inference
    * read of the upload (wall = the forced scan);
    * transform = cleanAi (dropna-any) + demo over the read; result =
    * single-object CSV of the transform; readback = inference read of
    * the result. Counts are exact (|documents| through the CSV
    * boundary, the dropna survivor count after); walls measure the
    * stage's own forcing action. */
  private val obsMemo = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession, String),
    Seq[(Long, String, Long, Long)]]()

  private def stageReport(s: org.apache.spark.sql.SparkSession,
      d: String): Seq[(Long, String, Long, Long)] =
    obsMemo.computeIfAbsent((s, d), _ => {
      // pid-scoped scratch (here and the other two etl scratch dirs):
      // the memo is only per-JVM, so two concurrent driver processes
      // on one sfDir would otherwise overwrite each other's staged
      // CSVs mid-read and could corrupt a HASH-GATED result — these
      // are mutable working dirs, not create-only published artifacts
      val base = s"${sys.props("java.io.tmpdir")}/graft_etl_obs_${ProcessHandle.current().pid()}_${
        d.replaceAll("[^A-Za-z0-9]", "_")}"
      def timed(body: => Long): (Long, Long) = {
        val t0 = System.nanoTime()
        val n = body
        (n, (System.nanoTime() - t0) / 1000000L)
      }
      val docs = documents(s, d)
      val nDocs = docs.count()
      val (_, w1) = timed {
        graft.io.Csv.writeSingle(docs, s"$base/upload"); 0L
      }
      val (n2, w2) = timed(graft.io.Csv.read(s, s"$base/upload").count())
      def transformed() = Pipelines.demo(Pipelines.cleanAi(
        graft.io.Csv.read(s, s"$base/upload")))
      val (n3, w3) = timed(transformed().count())
      val (_, w4) = timed {
        graft.io.Csv.writeSingle(transformed(), s"$base/processed"); 0L
      }
      val (n5, w5) = timed(graft.io.Csv.read(s, s"$base/processed").count())
      Seq((1L, "upload_write", nDocs, w1), (2L, "read_infer", n2, w2),
        (3L, "transform", n3, w3), (4L, "result_write", n3, w4),
        (5L, "readback", n5, w5))
    })
}
