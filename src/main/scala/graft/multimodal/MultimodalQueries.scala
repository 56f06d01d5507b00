package graft.multimodal

import graft.Q
import graft.io.Tables._
import org.apache.spark.sql.functions._

/** Registered multimodal queries. The image/audio paths run REAL JDK
  * codecs (javax.imageio BMP, javax.sound.sampled WAV — see
  * [[Multimodal]]); video runs the hand-built RIFF/AVI parser
  * ([[Multimodal.AviCodec]] — the JDK ships no video codec, so the
  * strict chunk walker IS the decoder, validated fourcc-by-fourcc).
  * All three run over per-doc synthetic payloads whose pixel/sample
  * formulas are closed-form integer arithmetic — so the oracle
  * recomputes every DECODED quantity without a codec and the whole
  * encode→decode round-trip is hash-gated at every SF. */
object MultimodalQueries {

  /** The staged media-lake parquet: (doc_id, media_type, payload
    * BINARY), generated once per testdata generation
    * (DedupQueries.stageOnce — keyed on documents.parquet's attrs,
    * create-only ATOMIC_MOVE publish). Every decode query below reads
    * THIS binary column and never touches document text — the
    * north-star "media as opaque binary columns" data model made
    * physical (at 100 TB the payload column is the ingested object
    * bytes; decode operators must work from it alone). MultimodalSpec pins
    * the plan property: the decode queries' only file relation is the
    * staged media parquet. */
  private[graft] def stagedMediaPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    // v2: the video payload became a real AVI container in round 13 —
    // the prefix bump keeps an old generation's staged lake (same
    // source attrs, different generator) from being read back
    graft.text.DedupQueries.stageOnce("graft_media_v2_", dir) { root =>
      Multimodal.synthMediaTable(s, documents(s, dir))
        .write.mode("overwrite").parquet(s"$root/media")
    }

  private[graft] def media(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    s.read.parquet(stagedMediaPath(s, dir) + "/media")

  /** The staged perceptual-hash index over the % 5 ≠ 0 media lake —
    * [[MmIndex.writeIndex]]'s decode-once signature table, staged
    * once per testdata generation (the text index's staging contract
    * for media: mm_index_build registers its content, mm_incremental
    * probes it). */
  private[graft] def stagedMmIndexPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.text.DedupQueries.stageOnce("graft_mm_index1_", dir) { root =>
      MmIndex.writeIndex(
        media(s, dir).filter(col("doc_id") % 5 =!= 0), root)
    }

  /** The ONE fingerprint CTE for the persisted mm index family —
    * all three modalities' closed-form cell picks feeding the shared
    * threshold/pack kernel (the same per-modality spellings as
    * [[aHashDedupOracle]], CASE-merged so build/probe/ingest oracles
    * render one `p(doc_id, media_type, phash_hi, phash_lo)` table
    * for any population). */
  private[graft] val mmSigCte: String =
    """m AS (SELECT doc_id,
      |    CAST(CASE WHEN doc_id % 3 = 0 THEN n_chars % 64 + 1
      |         WHEN doc_id % 3 = 2 THEN n_chars % 24 + 1
      |         ELSE 1 END AS BIGINT) AS w,
      |    CAST(CASE WHEN doc_id % 3 = 0 THEN doc_id % 48 + 1
      |         WHEN doc_id % 3 = 2 THEN doc_id % 16 + 1
      |         ELSE 1 END AS BIGINT) AS h,
      |    CAST(n_chars % 800 + 50 AS BIGINT) AS n
      |  FROM documents),
      |c AS (SELECT doc_id,
      |    list_transform(range(64), i ->
      |      CASE WHEN doc_id % 3 = 1
      |           THEN (7 * doc_id + 31 * ((i * n) // 64)) % 256
      |           ELSE (doc_id + 7 * (((i % 8) * w) // 8)
      |                 + 13 * (((i // 8) * h) // 8)) % 256 END) AS cells
      |  FROM m),
      |c2 AS (SELECT doc_id, cells, list_sum(cells) AS s FROM c),
      |p AS (SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0 THEN 'image'
      |         WHEN doc_id % 3 = 1 THEN 'audio'
      |         ELSE 'video' END AS media_type,
      |    CAST(list_sum(list_transform(range(32),
      |      i -> CASE WHEN cells[i+33] * 64 > s
      |           THEN 1<<i ELSE 0 END)) AS BIGINT) AS phash_hi,
      |    CAST(list_sum(list_transform(range(32),
      |      i -> CASE WHEN cells[i+1] * 64 > s
      |           THEN 1<<i ELSE 0 END)) AS BIGINT) AS phash_lo
      |  FROM c2)""".stripMargin

  /** The PLANTED near-dup probe lake
    * ([[Multimodal.synthNearDupMediaTable]]): one payload per % 5 = 0
    * doc at a controlled Hamming distance (doc_id % 6 ∈ 0..5 flipped
    * fingerprint bits) from its doc_id + 1 successor — which is always
    * in the % 5 ≠ 0 index population. Staged once per testdata
    * generation, the mm_index_probe delta. */
  private[graft] def stagedNearDupPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.text.DedupQueries.stageOnce("graft_mm_neardup1_", dir) { root =>
      Multimodal.synthNearDupMediaTable(s, documents(s, dir))
        .write.mode("overwrite").parquet(s"$root/media")
    }

  /** The near-dup probe corpus's oracle CTEs (rendered after
    * [[mmSigCte]]): `ix` = the indexed signatures, `dp` = the PLANTED
    * delta's signatures — source hash from the closed forms at
    * doc_id + 1, the doc_id % 6 mask applied, and the 0/255-cell
    * construction re-packed through the one threshold kernel (so even
    * the all-ones corner cannot diverge from the engine's decode).
    * Shared by mm_index_probe (ingest posture — intra-delta blocking)
    * and stream_mm_serving (lookup posture — vs index only). */
  private[graft] val mmNearDupCtes: String =
    """ix AS (SELECT * FROM p WHERE doc_id % 5 <> 0),
      |ds AS (SELECT d.doc_id AS doc_id, b.media_type,
      |         b.phash_hi AS s_hi, b.phash_lo AS s_lo,
      |         CAST(d.doc_id % 6 AS BIGINT) AS k
      |       FROM documents d JOIN p b ON b.doc_id = d.doc_id + 1
      |       WHERE d.doc_id % 5 = 0),
      |dm AS (SELECT doc_id, media_type,
      |         xor(s_hi, CAST(coalesce(list_sum(
      |           list_transform(range(k), j ->
      |             CASE WHEN (7 * doc_id + 13 * j) % 64 >= 32
      |                  THEN 1 << ((7 * doc_id + 13 * j) % 64 - 32)
      |                  ELSE 0 END)), 0) AS BIGINT)) AS t_hi,
      |         xor(s_lo, CAST(coalesce(list_sum(
      |           list_transform(range(k), j ->
      |             CASE WHEN (7 * doc_id + 13 * j) % 64 < 32
      |                  THEN 1 << ((7 * doc_id + 13 * j) % 64)
      |                  ELSE 0 END)), 0) AS BIGINT)) AS t_lo
      |       FROM ds),
      |dc AS (SELECT doc_id, media_type,
      |         list_transform(range(64), i ->
      |           CASE WHEN (CASE WHEN i < 32 THEN (t_lo >> i) & 1
      |                      ELSE (t_hi >> (i - 32)) & 1 END) = 1
      |                THEN 255 ELSE 0 END) AS cells
      |       FROM dm),
      |dc2 AS (SELECT doc_id, media_type, cells,
      |          list_sum(cells) AS s FROM dc),
      |dp AS (SELECT doc_id, media_type,
      |         CAST(list_sum(list_transform(range(32),
      |           i -> CASE WHEN cells[i+33] * 64 > s
      |                THEN 1<<i ELSE 0 END)) AS BIGINT) AS phash_hi,
      |         CAST(list_sum(list_transform(range(32),
      |           i -> CASE WHEN cells[i+1] * 64 > s
      |                THEN 1<<i ELSE 0 END)) AS BIGINT) AS phash_lo
      |       FROM dc2)""".stripMargin

  /** The MJPG lake — the compressed-format twin of the video slice of
    * the media lake ([[Multimodal.synthMjpgTable]]), staged once per
    * testdata generation. */
  private[graft] def stagedMjpgPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.text.DedupQueries.stageOnce("graft_media_mjpg_", dir) { root =>
      Multimodal.synthMjpgTable(s, documents(s, dir))
        .write.mode("overwrite").parquet(s"$root/media")
    }

  private def mjpgLake(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    s.read.parquet(stagedMjpgPath(s, dir) + "/media")

  /** The ONE aHash-dedup oracle spelling (mirrors
    * [[Multimodal.cellsToHash]] — 64 picked cells, strict mean
    * threshold, two 32-bit halves), rendered per modality: the
    * population and the 64-cell pick expression vary (image/video =
    * the 2-D 8×8 nearest-neighbor pick over the pixel formula, audio
    * = the 1-D envelope pick over the sample formula); the
    * threshold/pack kernel text cannot drift between modalities. */
  private def aHashDedupOracle(pop: String, dims: String,
      cellExpr: String): String =
    s"""WITH m AS (SELECT doc_id, $dims
       |           FROM documents WHERE $pop),
       |c AS (SELECT doc_id,
       |        list_transform(range(64),
       |          i -> $cellExpr) AS cells
       |      FROM m),
       |c2 AS (SELECT doc_id, cells, list_sum(cells) AS s FROM c),
       |p AS (SELECT doc_id,
       |        CAST(list_sum(list_transform(range(32),
       |          i -> CASE WHEN cells[i+33] * 64 > s
       |               THEN 1<<i ELSE 0 END)) AS BIGINT) AS phash_hi,
       |        CAST(list_sum(list_transform(range(32),
       |          i -> CASE WHEN cells[i+1] * 64 > s
       |               THEN 1<<i ELSE 0 END)) AS BIGINT) AS phash_lo
       |      FROM c2)
       |SELECT phash_hi, phash_lo, min(doc_id) AS keep_id,
       |       count(*) AS n_copies
       |FROM p GROUP BY 1, 2 ORDER BY keep_id""".stripMargin

  def queries: Seq[Q] = Seq(
    // DECODED media metadata: dims/channels from ImageIO's parse of
    // the BMP container, rate/frame-count from AudioSystem's parse of
    // the RIFF/fmt chunks — not the generator's intent; a corrupt
    // encode or a decoder regression hash-mismatches here. n_bytes is
    // the container size (BMP: 54-byte headers + 4-byte-padded BGR
    // rows; WAV: 44-byte header + PCM data).
    Q("mm_meta",
      Some("""WITH p AS (SELECT doc_id,
             |    CAST(n_chars % 64 + 1 AS BIGINT) AS iw,
             |    CAST(doc_id % 48 + 1 AS BIGINT) AS ih,
             |    CAST(n_chars % 800 + 50 AS BIGINT) AS ns,
             |    CAST(n_chars % 24 + 1 AS BIGINT) AS vw,
             |    CAST(doc_id % 16 + 1 AS BIGINT) AS vh,
             |    CAST(doc_id % 12 + 2 AS BIGINT) AS nf
             |  FROM documents)
             |SELECT doc_id,
             |       CASE WHEN doc_id % 3 = 0 THEN 'image'
             |            WHEN doc_id % 3 = 1 THEN 'audio'
             |            ELSE 'video' END AS media_type,
             |       CAST(CASE WHEN doc_id % 3 = 0
             |              THEN 54 + (((3 * iw + 3) // 4) * 4) * ih
             |            WHEN doc_id % 3 = 1 THEN 44 + ns
             |            ELSE 1256 + nf * (24 + (((vw + 3) // 4) * 4) * vh)
             |            END AS BIGINT) AS n_bytes,
             |       CAST(CASE WHEN doc_id % 3 = 0 THEN iw
             |            WHEN doc_id % 3 = 2 THEN vw
             |            ELSE 0 END AS BIGINT) AS width,
             |       CAST(CASE WHEN doc_id % 3 = 0 THEN ih
             |            WHEN doc_id % 3 = 2 THEN vh
             |            ELSE 0 END AS BIGINT) AS height,
             |       CAST(CASE WHEN doc_id % 3 = 0 THEN 3
             |            ELSE 1 END AS BIGINT) AS n_channels,
             |       CAST(CASE WHEN doc_id % 3 = 1 THEN 8000
             |            WHEN doc_id % 3 = 2 THEN 10
             |            ELSE 0 END AS BIGINT) AS sample_rate,
             |       CAST(CASE WHEN doc_id % 3 = 0 THEN 1
             |            WHEN doc_id % 3 = 1 THEN ns
             |            ELSE nf END AS BIGINT) AS n_frames
             |FROM p ORDER BY doc_id""".stripMargin),
      (s, d) => Multimodal.decodeMeta(s, media(s, d))
        .toDF().orderBy("doc_id")),

    // DECODED content statistics: mean/min/max over the units the
    // codec emits — gray pixel values (ImageIO), PCM samples
    // (AudioSystem), raw payload bytes (video). Exact integer sums in
    // the JVM; one double division at the end, over the same exact
    // integers in both engines.
    Q("mm_features",
      Some("""WITH p AS (SELECT doc_id, text, n_chars,
             |    CAST(n_chars % 64 + 1 AS BIGINT) AS iw,
             |    CAST(n_chars % 24 + 1 AS BIGINT) AS vw,
             |    CAST(doc_id % 16 + 1 AS BIGINT) AS vh,
             |    CAST(doc_id % 12 + 2 AS BIGINT) AS nf
             |  FROM documents),
             |u AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 3 = 0 THEN 'image'
             |         WHEN doc_id % 3 = 1 THEN 'audio'
             |         ELSE 'video' END AS media_type,
             |    CASE WHEN doc_id % 3 = 0 THEN
             |        list_transform(range(iw * (doc_id % 48 + 1)),
             |          i -> (doc_id + 7 * (i % iw) + 13 * (i // iw)) % 256)
             |      WHEN doc_id % 3 = 1 THEN
             |        list_transform(range(n_chars % 800 + 50),
             |          i -> (7 * doc_id + 31 * i) % 256)
             |      ELSE list_transform(range(nf * vw * vh),
             |          i -> (doc_id + 3 * (i // (vw * vh))
             |                + 7 * ((i % (vw * vh)) % vw)
             |                + 13 * ((i % (vw * vh)) // vw)) % 256)
             |    END AS vs
             |  FROM p)
             |SELECT doc_id, media_type, CAST(len(vs) AS BIGINT) AS n_units,
             |       CASE WHEN len(vs) = 0 THEN 0.0
             |            ELSE CAST(list_sum(vs) AS DOUBLE) / len(vs)
             |       END AS mean_val,
             |       CAST(CASE WHEN len(vs) = 0 THEN 0 ELSE list_min(vs) END
             |            AS BIGINT) AS min_val,
             |       CAST(CASE WHEN len(vs) = 0 THEN 0 ELSE list_max(vs) END
             |            AS BIGINT) AS max_val
             |FROM u ORDER BY doc_id""".stripMargin),
      (s, d) => Multimodal.extractFeatures(s, media(s, d))
        .toDF().orderBy("doc_id")),

    // REAL frame extraction at stride over the video subset: frames
    // 0, 2, 4, … are seeked through the AVI's idx1 index chunk (only
    // the sampled frames' bytes are read — AviCodec.frameAt) and each
    // reduces to its exact integer pixel sum, recomputed by the
    // oracle from the closed-form pixel formula — so every decoded
    // pixel of every sampled frame is cross-engine hash-gated while
    // one long per frame crosses the shuffle.
    Q("mm_frames",
      Some("""SELECT doc_id,
             |       CAST(doc_id % 12 + 2 AS BIGINT) AS n_frames,
             |       array_to_string(list_transform(
             |         range((doc_id % 12 + 2 + 1) // 2),
             |         fi -> list_sum(list_transform(
             |           range((n_chars % 24 + 1) * (doc_id % 16 + 1)),
             |           i -> (doc_id + 3 * (2 * fi)
             |                 + 7 * (i % (n_chars % 24 + 1))
             |                 + 13 * (i // (n_chars % 24 + 1))) % 256))), ',')
             |         AS frame_sums
             |FROM documents WHERE doc_id % 3 = 2 ORDER BY doc_id""".stripMargin),
      (s, d) => Multimodal.sampleFrames(s, media(s, d))
        .toDF().orderBy("doc_id")),

    // aspect-preserving image resize over DECODED pixels: exact
    // integer target dims + a REAL nearest-neighbor resample of the
    // gray plane ImageIO decoded, checksummed as the exact integer
    // sum — the oracle recomputes the same resample from the pixel
    // formula (out pixel (x,y) reads source (x·w div ow, y·h div oh)).
    Q("mm_resize",
      Some("""WITH m AS (SELECT doc_id,
             |             CAST(n_chars % 64 + 1 AS BIGINT) AS w,
             |             CAST(doc_id % 48 + 1 AS BIGINT) AS h
             |           FROM documents WHERE doc_id % 3 = 0),
             |r AS (SELECT doc_id, w, h,
             |        CASE WHEN w >= h THEN CAST(224 AS BIGINT)
             |             ELSE GREATEST(1, w * 224 // h) END AS out_w,
             |        CASE WHEN w >= h THEN GREATEST(1, h * 224 // w)
             |             ELSE CAST(224 AS BIGINT) END AS out_h
             |      FROM m)
             |SELECT doc_id, w AS width, h AS height, out_w, out_h,
             |       CAST(out_w * out_h AS BIGINT) AS n_out_bytes,
             |       CAST(list_sum(list_transform(range(out_w * out_h),
             |         i -> (doc_id + 7 * (((i % out_w) * w) // out_w)
             |               + 13 * (((i // out_w) * h) // out_h)) % 256))
             |         AS BIGINT) AS checksum
             |FROM r ORDER BY doc_id""".stripMargin),
      (s, d) => Multimodal.resizeImages(s, media(s, d))
        .toDF().orderBy("doc_id")),

    // PERCEPTUAL image dedup (aHash — average hash): decode → 8×8
    // nearest-neighbor reduction → threshold each cell against the
    // mean (v·64 > Σ, division-free) → 64-bit fingerprint as two
    // 32-bit halves. The near-dup primitive content hashing can't
    // give: re-encoded copies of the same PICTURE share an aHash
    // while mm_dedup only catches byte-equal payloads. Every
    // fingerprint is an output column, so all 64 bits per image are
    // cross-engine hash-gated; grouping is the dedup report (16
    // fingerprint bytes cross the shuffle, never pixels).
    Q("mm_perceptual_dedup",
      Some(aHashDedupOracle("doc_id % 3 = 0",
        """CAST(n_chars % 64 + 1 AS BIGINT) AS w,
          |             CAST(doc_id % 48 + 1 AS BIGINT) AS h""".stripMargin,
        """(doc_id + 7 * (((i % 8) * w) // 8)
          |                + 13 * (((i // 8) * h) // 8)) % 256""".stripMargin)),
      (s, d) => Multimodal.perceptualHashes(s, media(s, d)).toDF()
        .groupBy("phash_hi", "phash_lo")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("keep_id")),

    // KEYFRAME perceptual dedup for VIDEO (the image aHash's video
    // counterpart — completing the modality × perceptual-dedup
    // matrix): frame 0 is idx1-seeked (only the keyframe's bytes are
    // read) and aHashed with the SAME kernel; the oracle recomputes
    // the keyframe pixels from the closed-form formula (f = 0 makes
    // the 3f term vanish — the renderer below is the ONE aHash oracle
    // spelling for both modalities).
    Q("mm_video_dedup",
      Some(aHashDedupOracle("doc_id % 3 = 2",
        """CAST(n_chars % 24 + 1 AS BIGINT) AS w,
          |             CAST(doc_id % 16 + 1 AS BIGINT) AS h""".stripMargin,
        """(doc_id + 7 * (((i % 8) * w) // 8)
          |                + 13 * (((i // 8) * h) // 8)) % 256""".stripMargin)),
      (s, d) => Multimodal.videoKeyframeHashes(s, media(s, d)).toDF()
        .groupBy("phash_hi", "phash_lo")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("keep_id")),

    // ENVELOPE perceptual dedup for AUDIO — the third modality's
    // aHash, completing the modality × perceptual-dedup matrix: a
    // 64-point nearest-neighbor downsample of the decoded waveform
    // (pick j = sample j·n div 64, the 1-D spelling of the image
    // kernel's 2-D pick — seeked through the real javax stream, only
    // 64 samples read per doc) thresholded and packed by the SAME
    // kernel; the oracle recomputes the picks from the closed-form
    // sample formula s(i) = (7·doc_id + 31·i) % 256 through the one
    // shared threshold/pack spelling.
    Q("mm_audio_dedup",
      Some(aHashDedupOracle("doc_id % 3 = 1",
        "CAST(n_chars % 800 + 50 AS BIGINT) AS n",
        "(7 * doc_id + 31 * ((i * n) // 64)) % 256")),
      (s, d) => Multimodal.audioEnvelopeHashes(s, media(s, d)).toDF()
        .groupBy("phash_hi", "phash_lo")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("keep_id")),

    // MJPG tier of the video codec — the compressed format real crawl
    // video arrives in: the staged lake re-encodes every synthetic
    // video as an MJPG AVI (JDK JPEG writer, fixed quality —
    // deterministic bytes), and the query header-parses + idx1-seek
    // samples first/last frames through the SAME stride-sampling path
    // as the uncompressed tier. Hash gate: the container fields
    // (w/h/n_frames/fps) are lossless and oracle-recomputed from the
    // generator's closed forms, and decode_ok pins frame decode
    // fidelity within the codec's bounded error (JPEG pixels have no
    // SQL spelling — the DIB twin mm_video_dedup keeps the exact
    // pixel-formula gate; a structural decode bug here flips
    // decode_ok corpus-wide and hash-mismatches).
    Q("mm_video_mjpg",
      Some("""SELECT doc_id, CAST(n_chars % 24 + 1 AS BIGINT) AS w,
             |       CAST(doc_id % 16 + 1 AS BIGINT) AS h,
             |       CAST(doc_id % 12 + 2 AS BIGINT) AS n_frames,
             |       CAST(10 AS BIGINT) AS fps,
             |       CAST(TRUE AS BOOLEAN) AS decode_ok
             |FROM documents WHERE doc_id % 3 = 2
             |ORDER BY doc_id""".stripMargin),
      (s, d) => Multimodal.mjpgRoundTrip(s, mjpgLake(s, d)).toDF()
        .orderBy("doc_id")),

    // content-addressed binary dedup over the RAW ingest payload
    // (pre-decode — dedup happens at ingest, before any codec): group
    // payloads by sha2-256. The shuffle key is the 32-byte digest,
    // not the payload, so shuffled bytes stay tiny however large the
    // media column is. Corpus is ASCII, so DuckDB's sha256(text) sees
    // the same bytes as sha2(payload, 256).
    Q("mm_dedup",
      Some("""SELECT sha256(text) AS content_hash, min(doc_id) AS keep_id,
             |       count(*) AS n_copies,
             |       CAST(min(octet_length(encode(text))) AS BIGINT) AS n_bytes
             |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin),
      (s, d) => Multimodal.withMediaColumns(documents(s, d))
        .groupBy(sha2(col("payload"), 256).as("content_hash"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"),
          min("n_bytes").as("n_bytes"))
        .orderBy("keep_id")),

    // PHASE 1 of the persisted mm perceptual index ([[MmIndex]]):
    // build & persist decode-once signatures over the % 5 ≠ 0 media
    // lake (yesterday's already-deduped corpus — the
    // dedup_index_build population, for media). The registered output
    // is the persisted artifact's full payload — every fingerprint
    // bit of every indexed object read back FROM parquet — which the
    // oracle recomputes from the three modalities' closed pixel/
    // sample forms through the one threshold/pack kernel. At 100 TB
    // this is the pay-decode-once moment: it runs once per corpus and
    // is appended to, never rebuilt; every later dedup pass reads 16
    // bytes per object instead of the object.
    Q("mm_index_build",
      Some(s"""WITH $mmSigCte
             |SELECT doc_id, media_type, phash_hi, phash_lo
             |FROM p WHERE doc_id % 5 <> 0 ORDER BY doc_id""".stripMargin),
      (s, d) => MmIndex.readIndex(s, stagedMmIndexPath(s, d))
        .orderBy("doc_id")),

    // PHASE 2 — INCREMENTAL media dedup against the PERSISTED
    // signature index: the % 5 = 0 delta (today's arrivals) is the
    // ONLY population decoded in the plan; the index side contributes
    // 16-byte signature rows from phase 1's parquet, so the recurring
    // per-delta cost is delta decode + a fingerprint anti-join —
    // indexed media bytes are read ZERO times however large the lake
    // (MmIndexSpec pins the plan property). Accepted = delta objects
    // whose (media_type, fingerprint) matches no indexed object and
    // no lower-id delta object — fingerprint equality is transitive,
    // so the convention is exact with no banded second layer.
    Q("mm_incremental",
      Some(s"""WITH $mmSigCte,
             |rej AS (SELECT DISTINCT d.doc_id FROM p d JOIN p b
             |    ON d.media_type = b.media_type
             |   AND d.phash_hi = b.phash_hi AND d.phash_lo = b.phash_lo
             |  WHERE d.doc_id % 5 = 0
             |    AND (b.doc_id % 5 <> 0 OR b.doc_id < d.doc_id))
             |SELECT doc_id FROM documents WHERE doc_id % 5 = 0
             |  AND doc_id NOT IN (SELECT doc_id FROM rej)
             |ORDER BY doc_id""".stripMargin),
      (s, d) => MmIndex.incrementalAccept(
          MmIndex.readIndex(s, stagedMmIndexPath(s, d)),
          media(s, d).filter(col("doc_id") % 5 === 0))
        .select("doc_id").orderBy("doc_id")),

    // ERASURE through the media index — completing the erasure column
    // of the four-family lifecycle matrix (text: dedup_index_erase;
    // embedding: emb_index_erase; PQ: pq_index_erase): tombstone
    // append → immediate probe exclusion → physical purge of the
    // signature rows at MmIndex.compactIndex (create-only generation,
    // tombstones reset LAST). Part 1 reads the purged sig parquet
    // DIRECTLY (an unpurged erased signature hash-mismatches); part 2
    // probes the % 5 = 0 delta against the erased index — an erased
    // object can no longer reject anything, so deltas that collided
    // only with erased signatures come back accepted.
    Q("mm_index_erase",
      Some(s"""WITH $mmSigCte,
             |rej AS (SELECT DISTINCT d.doc_id FROM p d JOIN p b
             |    ON d.media_type = b.media_type
             |   AND d.phash_hi = b.phash_hi AND d.phash_lo = b.phash_lo
             |  WHERE d.doc_id % 5 = 0
             |    AND ((b.doc_id % 5 <> 0 AND b.doc_id % 10 <> 1)
             |         OR (b.doc_id % 5 = 0 AND b.doc_id < d.doc_id)))
             |SELECT CAST(1 AS BIGINT) AS part, doc_id, media_type,
             |       phash_hi, phash_lo
             |FROM p WHERE doc_id % 5 <> 0 AND doc_id % 10 <> 1
             |UNION ALL
             |SELECT CAST(2 AS BIGINT), doc_id, 'accepted', 0, 0
             |FROM documents WHERE doc_id % 5 = 0
             |  AND doc_id NOT IN (SELECT doc_id FROM rej)
             |ORDER BY part, doc_id""".stripMargin),
      (s, d) => {
        val root = stagedMmErasePath(s, d)
        val part1 = s.read.parquet(MmIndex.sigLive(root))
          .select(lit(1L).as("part"), col("doc_id"), col("media_type"),
            col("phash_hi"), col("phash_lo"))
        val part2 = MmIndex.incrementalAccept(
            MmIndex.readIndex(s, root),
            media(s, d).filter(col("doc_id") % 5 === 0))
          .select(lit(2L).as("part"), col("doc_id"),
            lit("accepted").as("media_type"), lit(0L).as("phash_hi"),
            lit(0L).as("phash_lo"))
        part1.unionByName(part2).orderBy("part", "doc_id")
      }),

    // NIGHTLY MAINTENANCE through the media signature index — the ONE
    // idempotent pass a scheduler runs ([[MmIndex.maintainIndex]]:
    // compact pending erasure tombstones → distinct-rewrite replayed
    // appends; signatures have no trained model, so the regeneration
    // column is structurally absent — graft.io.MaintenanceReport pins
    // the step order, graft.MaintenanceSpec the crash matrix). The staged
    // artifact is a damaged index: the % 5 = 0 delta's append REPLAYED
    // end-to-end (two signature rows per delta object), the % 10 = 1
    // members erased but not yet purged — healed by one maintainIndex
    // call. Output = the healed artifact's full signature payload read
    // DIRECTLY from parquet: a surviving replay duplicate doubles its
    // row, an unpurged erasure resurrects its fingerprint — each a
    // hash mismatch against the oracle's closed-form recompute.
    Q("mm_index_maintain",
      Some(s"""WITH $mmSigCte
             |SELECT doc_id, media_type, phash_hi, phash_lo
             |FROM p WHERE doc_id % 10 <> 1 ORDER BY doc_id""".stripMargin),
      (s, d) => s.read.parquet(MmIndex.sigLive(stagedMmMaintainPath(s, d)))
        .select("doc_id", "media_type", "phash_hi", "phash_lo")
        .orderBy("doc_id")),

    // NEAR-DUP (Hamming ≤ 3) probing through the persisted signature
    // index — the tolerance layer exact equality can't give: on real
    // media, re-encoded/resized copies land a few aHash bits apart.
    // Delta = the PLANTED near-dup lake (real BMP/WAV/AVI payloads
    // constructed doc_id % 6 fingerprint bits from an always-indexed
    // source object — distances 0..5, so both sides of the ≤ 3
    // tolerance are exercised); the probe band-buckets the persisted
    // signatures through the 4×16-bit pigeonhole bands (complete for
    // Hamming ≤ 3 — MmIndexSpec pins band ≡ brute force) and verifies
    // candidates by exact bit_count Hamming. Output = per delta object
    // its decode-once fingerprint (gating the planted construction
    // end-to-end) and the accept/reject verdict (gating the band +
    // verify plan); the oracle recomputes source hashes from the
    // closed pixel/sample forms, mirrors the mask + 0/255-cell
    // construction through the one threshold/pack kernel, and
    // brute-forces Hamming ≤ 3 against index and lower-id peers.
    Q("mm_index_probe",
      Some(s"""WITH $mmSigCte,
             |$mmNearDupCtes,
             |rej AS (SELECT DISTINCT d.doc_id FROM dp d JOIN ix b
             |          ON d.media_type = b.media_type
             |         AND bit_count(xor(d.phash_hi, b.phash_hi))
             |           + bit_count(xor(d.phash_lo, b.phash_lo)) <= 3
             |        UNION
             |        SELECT DISTINCT d.doc_id FROM dp d JOIN dp b
             |          ON d.media_type = b.media_type
             |         AND b.doc_id < d.doc_id
             |         AND bit_count(xor(d.phash_hi, b.phash_hi))
             |           + bit_count(xor(d.phash_lo, b.phash_lo)) <= 3)
             |SELECT doc_id, media_type, phash_hi, phash_lo,
             |       doc_id NOT IN (SELECT doc_id FROM rej) AS accepted
             |FROM dp ORDER BY doc_id""".stripMargin),
      (s, d) => MmIndex.nearProbeReport(
          MmIndex.readIndex(s, stagedMmIndexPath(s, d)),
          s.read.parquet(stagedNearDupPath(s, d) + "/media"))
        .orderBy("doc_id")),

    // The LOOSE tolerance POSTURE of the same probe — band geometry
    // is a declared probe parameter, not an index property (bands
    // derive in-plan from the persisted 64-bit fingerprint, so ONE
    // artifact serves every posture — the Hamming twin of the text
    // family's declared 16×4/8×8 minhash postures): 8×8-bit bands,
    // pigeonhole-complete for Hamming ≤ 7, probed here at ≤ 4 over
    // the SAME staged index and planted lake (distances 0..5, so
    // both verdicts still occur — 5 accepts where the strict posture
    // accepted 4 and 5). The recall/cost trade is explicit: 8-bit
    // bands bucket 256× denser, the price of the wider radius.
    Q("mm_index_probe_loose",
      Some(s"""WITH $mmSigCte,
             |$mmNearDupCtes,
             |rej AS (SELECT DISTINCT d.doc_id FROM dp d JOIN ix b
             |          ON d.media_type = b.media_type
             |         AND bit_count(xor(d.phash_hi, b.phash_hi))
             |           + bit_count(xor(d.phash_lo, b.phash_lo)) <= 4
             |        UNION
             |        SELECT DISTINCT d.doc_id FROM dp d JOIN dp b
             |          ON d.media_type = b.media_type
             |         AND b.doc_id < d.doc_id
             |         AND bit_count(xor(d.phash_hi, b.phash_hi))
             |           + bit_count(xor(d.phash_lo, b.phash_lo)) <= 4)
             |SELECT doc_id, media_type, phash_hi, phash_lo,
             |       doc_id NOT IN (SELECT doc_id FROM rej) AS accepted
             |FROM dp ORDER BY doc_id""".stripMargin),
      (s, d) => MmIndex.nearProbeReport(
          MmIndex.readIndex(s, stagedMmIndexPath(s, d)),
          s.read.parquet(stagedNearDupPath(s, d) + "/media"),
          maxDist = 4, nBands = 8)
        .orderBy("doc_id")),

    // TORN-APPEND REPAIR for the media index — completing the repair
    // column of the four-family matrix (text: dedup_index_repair;
    // embedding: emb_index_repair; PQ: pq_index_repair): the staged
    // artifact suffered a RETRIED append (the delta landed, then the
    // replay landed again — duplicate signature rows for every delta
    // object), repairIndex detected the one-row-per-object violation
    // and healed by distinct-rewrite (signatures are pure functions of
    // the payload, so the duplicate IS the correct row — no media
    // re-decode). Output = the healed artifact in full; surviving
    // duplicates or lost rows hash-mismatch. Stage require()s pin:
    // repair fired once, then idempotent.
    Q("mm_index_repair",
      Some(s"""WITH $mmSigCte
             |SELECT doc_id, media_type, phash_hi, phash_lo
             |FROM p ORDER BY doc_id""".stripMargin),
      (s, d) => s.read.parquet(MmIndex.sigLive(stagedMmRepairPath(s, d)))
        .select("doc_id", "media_type", "phash_hi", "phash_lo")
        .orderBy("doc_id"))
  )

  /** Stages the `mm_index_repair` artifact: build over % 5 ≠ 0,
    * append the % 5 = 0 delta, then REPLAY the append (the retried-
    * torn-append shape a crash between the append job and its
    * checkpoint commit leaves — every delta signature row twice),
    * then repair. */
  /** Stages the mm row of the `obs_index_health` fleet: base build
    * over the % 5 ≠ 0 lake, the % 10 = 1 members erased and the
    * compaction deliberately NOT run — the one fleet member with
    * erasure debt pending, so the health report's tombstone column is
    * gated against a non-zero closed form. */
  private[graft] def stagedMmHealthPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.text.DedupQueries.stageOnce("graft_mm_health1_", dir) { root =>
      val lake = media(s, dir)
      MmIndex.writeIndex(lake.filter(col("doc_id") % 5 =!= 0), root)
      MmIndex.eraseFromIndex(root,
        lake.filter(col("doc_id") % 10 === 1).select("doc_id"))
    }

  private[graft] def stagedMmRepairPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.text.DedupQueries.stageOnce("graft_mm_repair1_", dir) { root =>
      MmIndex.writeIndex(
        media(s, dir).filter(col("doc_id") % 5 =!= 0), root)
      val delta = media(s, dir).filter(col("doc_id") % 5 === 0)
      MmIndex.appendIndex(root, delta)
      MmIndex.appendIndex(root, delta) // the replay
      require(MmIndex.repairIndex(s, root),
        "mm repair stage: replayed append left no detectable damage")
      require(!MmIndex.repairIndex(s, root),
        "mm repair stage: repair is not idempotent")
    }

  /** Stages the `mm_index_erase` artifact once per testdata
    * generation: signature index over the % 5 ≠ 0 lake (the
    * mm_index_build population), then [[MmIndex.eraseFromIndex]] of
    * the % 10 = 1 members and a purging [[MmIndex.compactIndex]],
    * with require()s pinning the physical purge and tombstone reset. */
  /** Stages the `mm_index_maintain` artifact: a DAMAGED signature
    * index — base build over the % 5 ≠ 0 lake, the % 5 = 0 delta
    * appended then REPLAYED end-to-end (duplicate signature rows —
    * the one-row-per-object invariant violated), the % 10 = 1 members
    * erased but not yet purged — healed by ONE
    * [[MmIndex.maintainIndex]] nightly pass (compact the tombstones,
    * distinct-rewrite the replay; signatures have no trained model,
    * so the regeneration column is structurally absent). The
    * require()s pin the report and that a second pass is a no-op. */
  private[graft] def stagedMmMaintainPath(
      s: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.text.DedupQueries.stageOnce("graft_mm_maintain1_", dir) { root =>
      val lake = media(s, dir)
      MmIndex.writeIndex(lake.filter(col("doc_id") % 5 =!= 0), root)
      val delta = lake.filter(col("doc_id") % 5 === 0)
      MmIndex.appendIndex(root, delta)
      MmIndex.appendIndex(root, delta) // the replay
      MmIndex.eraseFromIndex(root,
        lake.filter(col("doc_id") % 10 === 1).select("doc_id"))
      val rep = MmIndex.maintainIndex(s, root)
      require(rep.compacted && rep.repaired && rep.regenerated.isEmpty,
        s"mm maintain stage: unexpected report $rep")
      require(MmIndex.maintainIndex(s, root).noop,
        "mm maintain stage: second pass not a no-op")
    }

  private[graft] def stagedMmErasePath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.text.DedupQueries.stageOnce("graft_mm_erase1_", dir) { root =>
      MmIndex.writeIndex(
        media(s, dir).filter(col("doc_id") % 5 =!= 0), root)
      MmIndex.eraseFromIndex(root,
        media(s, dir).filter(col("doc_id") % 10 === 1).select("doc_id"))
      MmIndex.compactIndex(s, root)
      require(s.read.parquet(MmIndex.sigLive(root))
        .filter(col("doc_id") % 10 === 1).limit(1).count() == 0,
        "mm erase stage: erased rows survived the sig purge")
      require(graft.io.IndexStore.open(s, root, "tomb").count() == 0,
        "mm erase stage: tombstone list not reset")
    }
}
