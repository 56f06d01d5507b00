package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming operators [EXT] over the `events` table
  * (SURVEY.md §2.2 streaming row): file-source readStream → watermarked
  * windowed aggregation → sink. In this environment a parquet snapshot
  * drives the stream via Trigger.AvailableNow + a memory sink, which
  * runs the identical plan a live source would; production swaps the
  * source/sink lines only.
  */
object Streams {

  /** Runs `f` with a streaming-sized shuffle-partition count. Every
    * stateful operator maintains `shuffle.partitions` state stores per
    * micro-batch, and at snapshot scale that maintenance dominates
    * (measured at sf0.1: the stream-stream join drops 9.7s → 3.0s going
    * 32 → 8 partitions). A production stream sizes this to key
    * cardinality/throughput instead — the knob, not the constant, is
    * the design point. Batch queries are unaffected (set + restored
    * around the stream start; queries run sequentially). */
  private[streaming] def withStreamParallelism[T](spark: SparkSession)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val prevStore = spark.conf.getOption(StateStoreKey)
    val prevClog = spark.conf.getOption(ChangelogKey)
    spark.conf.set(key, "8")
    stateStoreProvider.foreach { p =>
      spark.conf.set(StateStoreKey, p)
      // incremental checkpoints: upload per-batch changelogs instead of
      // a full RocksDB snapshot zip every batch — the setting that
      // makes large state affordable to checkpoint continuously
      spark.conf.set(ChangelogKey, "true")
    }
    try f finally {
      spark.conf.set(key, prev)
      Seq(StateStoreKey -> prevStore, ChangelogKey -> prevClog).foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  /** Serializes the events-stage staleness check + re-stage. */
  private val stageLock = new Object

  private[graft] val StateStoreKey =
    "spark.sql.streaming.stateStore.providerClass"
  private[graft] val ChangelogKey =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
  private[graft] val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** State-store backend toggle for EVERY stateful stream in this
    * object and [[Stateful]] (windowed/session aggs, dropDuplicates,
    * mapGroupsWithState, stream-stream joins): set
    * `GRAFT_STREAM_STATE_STORE=rocksdb` (env) or
    * `graft.stream.stateStore=rocksdb` (system property, for tests) to
    * run them on the RocksDB provider instead of the default in-heap
    * HDFS-backed one. The logical and physical plans are IDENTICAL
    * either way — the provider only swaps the state byte-store — so at
    * 100 TB, where per-key state exceeds executor heap (dedup horizons,
    * large session maps, join buffers), RocksDB spills to local SSD
    * with changelog checkpointing and the queries themselves are
    * untouched (StreamStateStoreSpec pins result-equality both ways).
    * `transformWithState` (Stateful.typeCountsTws) requires RocksDB and
    * forces it regardless of the toggle. */
  private[graft] def stateStoreProvider: Option[String] =
    sys.env.get("GRAFT_STREAM_STATE_STORE")
      .orElse(sys.props.get("graft.stream.stateStore"))
      .collect { case v if v.equalsIgnoreCase("rocksdb") => RocksDbProvider }

  /** File-source stream over the events snapshot. `ts` is normalized by
    * Tables.normalizeEventsTs, which handles BOTH testdata generations:
    * nano-longs (TIMESTAMP(NANOS) read under nanosAsLong → µs
    * timestamps) and plain timestamp[us]. */
  private[streaming] def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    graft.io.Tables.eventsNanosToTs(spark)
    val path = s"$dir/events.parquet"
    val schema = spark.read.parquet(path).schema
    // the streaming file source requires a directory; the testdata is a
    // single parquet file → stage it into a temp dir once (a production
    // stream reads an arriving-files directory anyway).
    val src = java.nio.file.Paths.get(path)
    // The stage dir is VERSIONED by the source's (size, ms-mtime): a
    // testdata generation regenerated in place (different size/mtime,
    // possibly a different ts physical type than the schema inferred
    // above) gets a FRESH directory instead of a delete+restage of a
    // shared one — so no writer, in this JVM or another (the dir layout
    // is cross-process-shared), can ever unlink a file under a running
    // reader; the scheme is create-only. Millisecond mtime granularity
    // in the key because COPY_ATTRIBUTES preserves mtime only to µs on
    // some filesystems. Stale generations linger in tmp (one snapshot
    // copy each, reaped with the tmpdir). Within a generation the copy
    // is staged once, atomically: the dot-prefixed temp is invisible
    // to the file source; ATOMIC_MOVE either wins or loses to an
    // identical copy. The JVM lock just saves concurrent bench-pool
    // threads from redundant copies; correctness is the rename's.
    val srcAttr = java.nio.file.Files.readAttributes(
      src, classOf[java.nio.file.attribute.BasicFileAttributes])
    val stageDir = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"),
      s"graft_stream_${dir.replaceAll("[^A-Za-z0-9]", "_")}" +
        s"_${srcAttr.size()}_${srcAttr.lastModifiedTime().toMillis}")
    java.nio.file.Files.createDirectories(stageDir)
    val target = stageDir.resolve("events.parquet")
    stageLock.synchronized {
      if (!java.nio.file.Files.exists(target)) {
        val tmp = java.nio.file.Files.createTempFile(stageDir, ".events", ".tmp")
        java.nio.file.Files.copy(src, tmp,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
        try java.nio.file.Files.move(tmp, target,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            java.nio.file.Files.deleteIfExists(tmp)
        }
      }
    }
    graft.io.Tables.normalizeEventsTs(
      spark.readStream.schema(schema).parquet(stageDir.toString))
  }

  /** Hourly tumbling-window counts + value sums. Complete output mode so
    * the final table equals the batch aggregation (append mode would
    * hold back the last open window until the watermark passes it). */
  def hourlyEventAgg(spark: SparkSession, dir: String): DataFrame = withStreamParallelism(spark) {
    val name = "graft_stream_hourly"
    val q = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(25,6)")).cast("double").as("sum_value"))
      .select(col("window.start").as("ws"), col("n"), col("sum_value"))
      .writeStream.outputMode("complete")
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name).orderBy("ws")
  }

  /** Un-windowed GLOBAL running aggregate (complete mode): per-type
    * totals maintained as one small always-current state table — the
    * live-dashboard operator class (no window column at all, state
    * size = |distinct keys| regardless of history). Cent sums keep the
    * totals exact under any batch split. */
  def globalTypeTotals(spark: SparkSession, dir: String): DataFrame = withStreamParallelism(spark) {
    val name = "graft_stream_global"
    val q = eventsStream(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).cast("long").as("cents"))
      .writeStream.outputMode("complete")
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name).orderBy("event_type")
  }

  /** Hourly counts in APPEND mode: a window row is emitted exactly once,
    * when the watermark passes its end (and its state is dropped) — so
    * the last, still-open windows are withheld. This is the eviction
    * semantics a forever-running production stream relies on; the
    * complete-mode variant above shows the full table instead. */
  def hourlyEventAggAppend(spark: SparkSession, dir: String): DataFrame = withStreamParallelism(spark) {
    val name = "graft_stream_hourly_append"
    val q = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("n"))
      .writeStream.outputMode("append")
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name).orderBy("ws")
  }

  /** Chained stateful window aggregations in ONE streaming query
    * (Spark 3.4+): hourly counts roll into daily max/total — the
    * second groupBy windows over the FIRST aggregation's window
    * column, so hour state evicts into day state as the watermark
    * advances; a day emits (append) once the watermark passes its end.
    * The two-level streaming rollup that previously needed two jobs
    * and an intermediate topic. */
  def chainedWindowAgg(spark: SparkSession, dir: String): DataFrame = withStreamParallelism(spark) {
    val name = "graft_stream_chained"
    val q = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .groupBy(window(col("window"), "1 day"))
      .agg(max(col("n")).as("max_hourly"), sum(col("n")).as("total"))
      .select(col("window.start").as("ds"), col("max_hourly"), col("total"))
      .writeStream.outputMode("append")
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name).orderBy("ds")
  }

  /** Sliding-window event counts per type (1h window, 30m slide). */
  def slidingEventCounts(spark: SparkSession, dir: String): DataFrame = withStreamParallelism(spark) {
    val name = "graft_stream_sliding"
    val q = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
      .writeStream.outputMode("complete")
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name).orderBy("ws", "event_type")
  }

  /** Streaming exact dedup: dropDuplicates on the key within the
    * watermark horizon (state = one entry per key in the horizon — the
    * streaming half of the dedup story; the batch half is
    * graft.text.Dedup). Emits each event_id once even if the source
    * replays it. */
  def dedupedEventCounts(spark: SparkSession, dir: String): DataFrame = withStreamParallelism(spark) {
    val name = "graft_stream_dedup"
    val q = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name).orderBy("event_type")
  }

  /** Streaming dedup with watermark-scoped state eviction
    * (dropDuplicatesWithinWatermark): unlike plain dropDuplicates, the
    * per-key state is GUARANTEED dropped once the key falls behind the
    * watermark — the bounded-state form a forever-running 100 TB/day
    * stream needs. */
  def dedupedWithinWatermarkCounts(spark: SparkSession, dir: String): DataFrame = withStreamParallelism(spark) {
    val name = "graft_stream_dedup_wm"
    val q = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name).orderBy("event_type")
  }

  /** Watermark late-data DROP, demonstrated end-to-end. The events
    * snapshot arrives as THREE micro-batches:
    *
    *  1. evens + every row from the last 3 h (spans the full range →
    *     the watermark lands at max ts − 1 h after this batch);
    *  2. the single max-ts row alone (re-delivery of a row already
    *     seen) — its only job is to BE a batch, so window eviction at
    *     the now-final watermark happens before the late rows arrive;
    *     its own window ends after the watermark, so it stays withheld
    *     and never surfaces;
    *  3. the remaining odds — every one ≥ 2 h out-of-order, landing in
    *     windows whose state was already evicted → DROPPED
    *     (numRowsDroppedByWatermark counts them).
    *
    * Probed semantics (Spark 4.1): a late row is only dropped once its
    * window's state has been EVICTED — rows older than the watermark
    * whose window is still live are merged (batch-parity). The 3-h band
    * in batch 1 keeps every window that straddles the two candidate
    * filter boundaries out of batch 3, so the result is deterministic
    * regardless of which batch's watermark does the filtering. Append
    * mode, so each emitted window is final.
    */
  /** Stage a sequence of DataFrames as single parquet files in one
    * FRESH stream-source directory, in arrival order: each invocation
    * gets its own `Files.createTempDirectory` (unique suffix), each
    * file is written via coalesce(1), and modification times force the
    * file-source admission order (oldest first). Returns the stage
    * directory path.
    *
    * Per-invocation isolation is the correctness mechanism, not a
    * convenience: the previous fixed-path spelling CLEARED and rewrote
    * a shared cross-process dir, so a concurrent run of the same query
    * (another JVM's bench/spec against the same sf dir) unlinked files
    * under a running stream and re-set mtimes mid-admission — the
    * delete-under-reader hazard the events stage's create-only
    * versioned scheme exists to prevent. A fresh dir per run shares
    * NOTHING (there was no effective reuse to lose — the old path
    * rewrote every file each call anyway); stale stage dirs linger in
    * tmp under the same reaping policy as every staged artifact
    * (SCALE.md "staged-artifact lifecycle"). */
  private[graft] def stageArrivals(stageName: String,
      files: Seq[(DataFrame, String)]): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    import scala.concurrent.{Await, Future, blocking}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val tmpRoot = sys.props("java.io.tmpdir")
    val stageDir = Files.createTempDirectory(
      Paths.get(tmpRoot), stageName + "_")
    val now = System.currentTimeMillis()
    // The per-file stage writes are INDEPENDENT coalesce(1) jobs into
    // disjoint .build dirs — run them concurrently (guide §2.6,
    // r17): the admission ORDER comes from the explicit index-based
    // mtimes, not the write order, so overlapping the jobs shaves the
    // serialized per-job latency from every stream query's setup. The
    // stage dir is only returned once every file (and its mtime) has
    // landed, so readers never see a partial stage.
    Await.result(Future.traverse(files.zipWithIndex) {
      case ((df, fileName), i) => Future { blocking {
        val outDir = stageDir.resolve(s".build_$fileName")
        df.coalesce(1).write.mode("overwrite").parquet(outDir.toString)
        val ls = Files.list(outDir)
        val part = try ls.filter(p => p.getFileName.toString.startsWith("part-"))
          .findFirst().get() finally ls.close()
        Files.move(part, stageDir.resolve(fileName),
          StandardCopyOption.REPLACE_EXISTING)
        graft.io.Staging.deleteRecursively(outDir)
        Files.setLastModifiedTime(stageDir.resolve(fileName),
          FileTime.fromMillis(now - (files.size - 1 - i) * 60000L))
      } }
    }, Duration.Inf)
    stageDir.toString
  }

  def lateDropHourlyCounts(spark: SparkSession, dir: String): DataFrame = withStreamParallelism(spark) {
    val name = "graft_stream_latedrop"
    val ev = graft.io.Tables.events(spark, dir)
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    val recent = col("ts") >= lit(maxTs) - expr("INTERVAL 3 HOURS")
    val stageDir = stageArrivals(s"graft_stream_late_$tag", Seq(
      ev.filter(col("event_id") % 2 === 0 || recent) -> "a_ontime.parquet",
      ev.filter(col("ts") === lit(maxTs)) -> "b_tick.parquet",
      ev.filter(col("event_id") % 2 === 1 && !recent) -> "c_late.parquet"))
    val schema = spark.read.parquet(stageDir.toString).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(stageDir.toString)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("n"))
      .writeStream.outputMode("append")
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    if (sys.env.contains("GRAFT_STREAM_DEBUG"))
      q.recentProgress.foreach(p => System.err.println(
        s"[latedrop] batch=${p.batchId} in=${p.numInputRows} eventTime=${p.eventTime} " +
          p.stateOperators.map(so => s"dropped=${so.numRowsDroppedByWatermark} " +
            s"updated=${so.numRowsUpdated} removed=${so.numRowsRemoved}").mkString(";")))
    spark.table(name).orderBy("ws")
  }

  /** UPDATE output mode demonstrated across micro-batches: the events
    * snapshot arrives as two batches (evens then odds, both spanning
    * the full range, no watermark), so most windows are UPDATED twice
    * and the memory sink holds one row per (window, batch-that-changed-
    * it). Counts are monotone, so max() per window collapses the
    * update history to the final value — which must equal the batch
    * aggregation exactly. */
  def hourlyCountsUpdateMode(spark: SparkSession, dir: String): DataFrame = withStreamParallelism(spark) {
    val name = "graft_stream_update"
    val ev = graft.io.Tables.events(spark, dir)
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val stageDir = stageArrivals(s"graft_stream_upd_$tag", Seq(
      ev.filter(col("event_id") % 2 === 0) -> "a_even.parquet",
      ev.filter(col("event_id") % 2 === 1) -> "b_odd.parquet"))
    val schema = spark.read.parquet(stageDir).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(stageDir)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("n"))
      .writeStream.outputMode("update")
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name).groupBy("ws").agg(max(col("n")).as("n")).orderBy("ws")
  }

  /** Streaming upsert into a keyed state table (the CDC-apply /
    * materialized-latest topology): each micro-batch full-outer-merges
    * into the persisted per-user latest row — newest (ts, event_id)
    * wins — and the state dir is swapped atomically (write to _new,
    * then replace), never read-overwritten in place. The final state is
    * batch-boundary-invariant: "latest per key" is an associative
    * merge, so two staged files through maxFilesPerTrigger=1 land the
    * same table a single batch would — which is exactly what the batch
    * oracle checks. At 100 TB the merge is one shuffle on the key per
    * batch against a state table read; compaction comes free from the
    * rewrite. */
  def upsertLatestState(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val tmpRoot = sys.props("java.io.tmpdir")
    val ev = graft.io.Tables.events(spark, dir)
      .select("event_id", "ts", "user_id", "value")
    val srcDir = stageArrivals(s"graft_stream_upsert_src_$tag",
      Seq(ev.filter(col("event_id") % 2 === 0) -> "evens.parquet",
        ev.filter(col("event_id") % 2 === 1) -> "odds.parquet"))
    val statePath = Paths.get(tmpRoot, s"graft_stream_upsert_state_$tag")
    val ckpt = Paths.get(tmpRoot, s"graft_stream_upsert_ckpt_$tag")
    Seq(statePath, ckpt).foreach { p =>
      if (Files.exists(p))
        org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
    }
    val schema = spark.read.parquet(srcDir).schema
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val cur =
          if (Files.exists(statePath)) spark.read.parquet(statePath.toString)
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], batch.schema)
        val merged = cur.unionByName(batch)
          .withColumn("__rk", row_number().over(w))
          .filter(col("__rk") === 1).drop("__rk")
        val tmpNew = Paths.get(tmpRoot, s"graft_stream_upsert_state_new_$tag")
        merged.write.mode("overwrite").parquet(tmpNew.toString)
        org.apache.commons.io.FileUtils.deleteDirectory(statePath.toFile)
        Files.move(tmpNew, statePath)
        ()
      }
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.read.parquet(statePath.toString)
      .select(col("user_id"), col("ts").as("last_ts"),
        col("event_id").as("last_event_id"), col("value").as("last_value"))
      .orderBy("user_id")
  }

  /** Checkpointed foreachBatch parquet sink, run TWICE against the same
    * checkpoint: the restart re-processes nothing (exactly-once per
    * batch), so the landed counts equal the source exactly — the
    * durable-sink contract a production stream restarts on. */
  def exactlyOnceSinkCounts(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val tmpRoot = sys.props("java.io.tmpdir")
    val ev = graft.io.Tables.events(spark, dir)
    val srcDir = stageArrivals(s"graft_stream_eo_src_$tag",
      Seq(ev -> "events.parquet"))
    val outPath = Paths.get(tmpRoot, s"graft_stream_eo_out_$tag")
    val ckpt = Paths.get(tmpRoot, s"graft_stream_eo_ckpt_$tag")
    Seq(outPath, ckpt).foreach { p =>
      if (Files.exists(p))
        org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
    }
    Stateful.sinkDirViaForeachBatch(spark, srcDir, outPath.toString, ckpt.toString)
    // restart with the same checkpoint and no new files: must be a no-op
    Stateful.sinkDirViaForeachBatch(spark, srcDir, outPath.toString, ckpt.toString)
    Stateful.readForeachBatchSink(spark, outPath.toString).get
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  /** Native parquet FILE SINK (append mode) — the production sink:
    * watermarked hourly aggregates land as parquet files with the
    * sink's own transaction log (_spark_metadata) making the write
    * exactly-once; the read-back goes through that log, so partial
    * files from failed batches are invisible. Only watermark-closed
    * windows reach the sink (append mode), matching the SQL oracle's
    * exclusion of the last open hour. */
  def fileSinkHourlyCounts(spark: SparkSession, dir: String): DataFrame = withStreamParallelism(spark) {
    import java.nio.file.{Files, Paths}
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val tmpRoot = sys.props("java.io.tmpdir")
    val outPath = Paths.get(tmpRoot, s"graft_stream_fsink_out_$tag")
    val ckpt = Paths.get(tmpRoot, s"graft_stream_fsink_ckpt_$tag")
    Seq(outPath, ckpt).foreach { p =>
      if (Files.exists(p))
        org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
    }
    val q = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("n"))
      .writeStream.outputMode("append")
      .format("parquet")
      .option("path", outPath.toString)
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.read.parquet(outPath.toString).orderBy("ws")
  }

  /** Stream-static join: the streaming fact joins a static dimension
    * (the canonical enrichment topology — no stream state). The dim is
    * UNHINTED per the r9 broadcast policy: customer scales with the
    * corpus, so stats/AQE broadcast it per microbatch while it fits
    * and degrade to a shuffled join when it doesn't — a pinned
    * broadcast(cust) is an executor OOM at 100 TB. */
  def enrichedPurchases(spark: SparkSession, dir: String): DataFrame = {
    val name = "graft_stream_enrich"
    val cust = spark.read.parquet(s"$dir/customer.parquet")
    val q = eventsStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .join(cust, col("user_id") === col("c_custkey"), "left")
      .select(col("event_id"), col("user_id"), col("c_name"), col("c_mktsegment"))
      .writeStream.outputMode("append")
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name).orderBy("event_id")
  }

  /** Stream-stream inner join: purchases joined to the same user's
    * views within the preceding hour. Both sides watermarked; the
    * time-range condition bounds the join state (views older than the
    * range + watermark are evicted — state does not grow unboundedly).
    */
  /** Stream-stream LEFT OUTER join with watermark-driven null
    * emission: purchases left-join the user's views in the preceding
    * hour; a purchase with no such view emits (p_id, NULL, user) only
    * when the watermark passes its join horizon and its buffered state
    * evicts — the outer-join mechanic unique to streaming. A far-future
    * sentinel pair (one purchase + one view, user −1, max(ts)+10 h)
    * arrives as the LAST batch purely to push both watermarks past
    * every real row, so the finite snapshot flushes exactly what a
    * forever-running stream eventually would; sentinels are filtered
    * from the result. State is bounded by the 1 h join horizon ×
    * watermark delay at any scale.
    */
  def purchaseViewLeftJoin(spark: SparkSession, dir: String): DataFrame = withStreamParallelism(spark) {
    purchaseViewOuterJoin(spark, dir, "left_outer", "graft_stream_ssjoin_left")(
      _.select(col("p_id"), col("v_id"), col("p_user")))
      .filter(col("p_user") >= 0).orderBy("p_id", "v_id")
  }

  /** Stream-stream FULL OUTER join: unmatched rows from BOTH sides
    * surface null-padded when the watermark evicts their buffered
    * state — purchases with no prior-hour view AND views that never
    * preceded a purchase. Same sentinel choreography as the left
    * variant flushes the tail of a finite replay. */
  def purchaseViewFullJoin(spark: SparkSession, dir: String): DataFrame = withStreamParallelism(spark) {
    purchaseViewOuterJoin(spark, dir, "full_outer", "graft_stream_ssjoin_full")(
      _.select(col("p_id"), col("v_id"),
        coalesce(col("p_user"), col("v_user")).as("u")))
      .filter(col("u") >= 0).orderBy("p_id", "v_id")
  }

  /** The sentinel choreography shared by the two stream-stream OUTER
    * joins — it exists ONCE so the left and full variants cannot
    * drift: stage events + a far-future sentinel pair (user −1,
    * max(ts)+10 h) as ordered arrivals, watermark purchases 1 h /
    * views 2 h, join on same-user views in the purchase's preceding
    * hour with the caller's join type, run to completion in append
    * mode, and return the memory-sink table (sentinels NOT yet
    * filtered — the caller projects, so only it knows which emitted
    * columns carry the user id). */
  private def purchaseViewOuterJoin(spark: SparkSession, dir: String,
      joinType: String, name: String)(
      project: DataFrame => DataFrame): DataFrame = {
    val ev = graft.io.Tables.events(spark, dir)
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    val sentinel = spark.range(2).select(
      (col("id") - 2).as("event_id"),
      (lit(maxTs) + expr("INTERVAL 10 HOURS")).as("ts"),
      lit(-1L).as("user_id"),
      when(col("id") === 0, "purchase").otherwise("view").as("event_type"),
      lit(0.0).as("value"),
      lit("{}").as("props"))
      .select(ev.columns.map(col).toSeq: _*)
    val stageDir = stageArrivals(s"${name}_$tag", Seq(
      ev -> "a_events.parquet", sentinel -> "b_tick.parquet"))
    val schema = spark.read.parquet(stageDir).schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stageDir)
    val p = src.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val v = src.filter(col("event_type") === "view")
      .select(col("event_id").as("v_id"), col("user_id").as("v_user"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", "2 hours")
    val joined = p.join(v,
      col("p_user") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") > col("p_ts") - expr("INTERVAL 1 HOUR"),
      joinType)
    val q = project(joined)
      .writeStream.outputMode("append")
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name)
  }

  def purchaseViewJoin(spark: SparkSession, dir: String): DataFrame = withStreamParallelism(spark) {
    val name = "graft_stream_ssjoin"
    val p = eventsStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val v = eventsStream(spark, dir)
      .filter(col("event_type") === "view")
      .select(col("event_id").as("v_id"), col("user_id").as("v_user"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", "2 hours")
    val q = p.join(v,
      col("p_user") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") > col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("p_id"), col("v_id"), col("p_user"))
      .writeStream.outputMode("append")
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name).orderBy("p_id", "v_id")
  }

  /** Session windows (30-minute inactivity gap) per user — batch
    * session_window here; the streaming variant is identical plus
    * watermark (see SessionizeStateful for the custom-state form). */
  /** STREAMING session windows in append mode: per-user sessions merge
    * while events arrive; a session row is emitted exactly once, when
    * the watermark passes its end (last event + gap) and its state is
    * evicted. The forever-running form of [[sessionCounts]] — state is
    * bounded by (open sessions × users in the horizon), not history.
    */
  def streamingSessionWindows(spark: SparkSession, dir: String): DataFrame = withStreamParallelism(spark) {
    val name = "graft_stream_session_window"
    val q = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))
      .writeStream.outputMode("append")
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name).orderBy("user_id", "session_start")
  }

  def sessionCounts(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum("n_events").as("n_events"))

  /** CONTINUOUS corpus ingestion through the persisted dedup index —
    * the production shape that joins the streaming family to the
    * index-lifecycle family: a file-source stream of document batches
    * (maxFilesPerTrigger = 1 → one "day" per micro-batch) drives
    * foreachBatch, and each batch is (1) screened against the
    * persisted index ([[graft.text.Dedup.incrementalAcceptIndexed]] —
    * near-dups of any indexed doc or a lower-id same-batch doc are
    * rejected) and (2) its ACCEPTED rows' index entries appended
    * ([[graft.text.Dedup.appendIndex]] — delta-sized appends, the
    * corpus side never rewritten), so batch N+1 probes an index grown
    * by batch N. The returned frame is read back FROM the grown
    * artifact's membership record (`ix`), so the oracle gates the
    * persisted index content AND the sequential-fold acceptance
    * semantics at once.
    *
    * Scale shape: per micro-batch cost is delta-sized (the
    * dedup_incremental contract) and the index artifacts absorb
    * appends as mergeable partials (compaction bounds the sidecar —
    * dedup_index_compact); at 100 TB/day this is the ingest loop a
    * training-data pipeline runs forever, with AvailableNow swapped
    * for a continuous trigger. The index root is PER-RUN private
    * (pid + nanotime): the stream mutates it, so unlike the staged
    * read-only artifacts it cannot be shared across concurrent
    * processes (the r12 advisor's cross-process-race lesson).
    * Checkpoint exactly-once holds PER COMMITTED BATCH: a restart
    * re-runs no micro-batch whose offsets committed, so no doc from a
    * committed batch is ever screened or appended twice
    * ([[exactlyOnceSinkCounts]] pins that contract for foreachBatch
    * sinks). A crash in the WINDOW between the append job committing
    * and the checkpoint offset commit re-runs that one batch and
    * duplicates its rows — the torn-state shape the index families'
    * repair ops exist to heal (see [[runIngestStream]]). */
  def indexIngestAccepted(spark: SparkSession, dir: String): DataFrame = withStreamParallelism(spark) {
    import graft.text.Dedup
    val docs = graft.io.Tables.documents(spark, dir)
      .select("doc_id", "text")
    // day 0: the already-ingested base corpus's persisted index —
    // built CONCURRENTLY with the arrival staging (runIngestStream's
    // day0 thunk, guide §2.6); both complete before the stream starts
    val root = privateIngestRoot(dir, "graft_stream_ingest_ix_")
    runIngestStream(spark, dir, "graft_stream_ingest",
      m => docs.filter(col("doc_id") % 4 === m),
      () => Dedup.writeIndex(docs.filter(col("doc_id") % 4 === 0),
        "doc_id", "text", root)) { batch =>
      val s = batch.sparkSession
      // fused screen-and-append: the accepted rows' index entries come
      // from the screen's own memoized delta frame, so the shingle/
      // minhash kernels run once per batch, not twice (r17, guide §1.2)
      Dedup.appendAcceptedIndexed(root,
        Dedup.readIndex(s, root), batch, "doc_id", "text")
    }
    // the accepted stream, read back from the grown index's membership
    // record — day = the batch the doc arrived in
    spark.read.parquet(Dedup.ixLive(root))
      .filter(col("id") % 4 =!= 0)
      .select(col("id").as("doc_id"), (col("id") % 4).cast("long").as("day"))
      .orderBy("day", "doc_id")
  }

  /** [[indexIngestAccepted]]'s embedding twin — the SAME three-day
    * foreachBatch fold ([[runIngestStream]], one choreography for
    * both index families) over [[graft.sim.EmbIndex]]: each arriving
    * vector batch is screened against the persisted band index
    * (cos ≥ 1/5 at the day-0 MANIFEST width — deltas never re-resolve
    * it) and only accepted rows' entries appended, so day N+1 probes
    * an index grown by day N. Read back from the grown `vecs` record
    * of truth. */
  def embIndexIngestAccepted(spark: SparkSession, dir: String): DataFrame = withStreamParallelism(spark) {
    import graft.sim.EmbIndex
    val emb = graft.io.Tables.embeddings(spark, dir)
      .select("vec_id", "embedding")
    val root = privateIngestRoot(dir, "graft_stream_embingest_ix_")
    runIngestStream(spark, dir, "graft_stream_embingest",
      m => emb.filter(col("vec_id") % 4 === m),
      () => EmbIndex.writeIndex(
        emb.filter(col("vec_id") % 4 === 0), root)) { batch =>
      val s = batch.sparkSession
      // fused screen-and-append (the text twin's kernel-reuse shape)
      EmbIndex.appendAcceptedIndexed(root,
        EmbIndex.readIndex(s, root), batch, 1, 5)
    }
    spark.read.parquet(EmbIndex.vecsLive(root))
      .filter(col("vec_id") % 4 =!= 0)
      .select(col("vec_id"), (col("vec_id") % 4).cast("long").as("day"))
      .orderBy("day", "vec_id")
  }

  /** The PQ third of the ingest choreography ([[runIngestStream]]):
    * day 0 TRAINS the codebook on the base corpus and persists it
    * ([[graft.sim.PqIndex.writeIndex]]); each arriving vector batch
    * then encodes at that FROZEN codebook and appends its codes
    * ([[graft.sim.PqIndex.appendIndex]] — zero training, zero base
    * re-reads; retraining is a REBUILD, never an ingest step). No
    * screen: the PQ append contract trusts its deltas (codes are a
    * derived cache of (vector, codebook)); what the stream adds is
    * encode-and-append exactly-once per COMMITTED batch — a restart
    * re-runs no committed micro-batch; a crash between the append job
    * and the offset commit re-runs that batch and duplicates its
    * codes, exactly the torn/duplicated-codes shape
    * [[graft.sim.PqIndex.repairIndex]] exists to heal. Read back from
    * the grown codes artifact. */
  def pqIndexIngestCodes(spark: SparkSession, dir: String): DataFrame = withStreamParallelism(spark) {
    import graft.sim.PqIndex
    val emb = graft.io.Tables.embeddings(spark, dir)
      .select("vec_id", "embedding")
    val root = privateIngestRoot(dir, "graft_stream_pqingest_ix_")
    runIngestStream(spark, dir, "graft_stream_pqingest",
      m => emb.filter(col("vec_id") % 4 === m),
      () => PqIndex.writeIndex(
        emb.filter(col("vec_id") % 4 === 0), root)) { batch =>
      PqIndex.appendIndex(root, batch)
    }
    spark.read.parquet(PqIndex.codesLive(root))
      .select(col("vec_id"), col("sub"), col("code"), col("d2"),
        (col("vec_id") % 4).cast("long").as("day"))
      .orderBy("vec_id", "sub")
  }

  /** The media fourth of the ingest choreography ([[runIngestStream]])
    * — CONTINUOUS media ingestion through the persisted perceptual-
    * hash index [[graft.multimodal.MmIndex]]: day 0 decodes and
    * fingerprints the % 4 = 0 media lake once (writeIndex); each
    * arriving media batch is screened against the persisted
    * signatures (decode pays for the BATCH only — indexed media bytes
    * are read zero times) and only the ACCEPTED objects' signatures
    * appended, so day N+1 probes an index grown by day N. Read back
    * from the grown `sig` record of truth — the oracle gates the
    * persisted fingerprints AND the sequential-fold acceptance at
    * once. At 100 TB of media/day this is the ingest loop where
    * decode-once matters most: the per-batch cost is batch decode +
    * a 16-byte-key anti-join, never a lake re-decode. */
  def mmIndexIngestAccepted(spark: SparkSession, dir: String): DataFrame = withStreamParallelism(spark) {
    import graft.multimodal.{MmIndex, MultimodalQueries}
    val lake = MultimodalQueries.media(spark, dir)
    val root = privateIngestRoot(dir, "graft_stream_mmingest_ix_")
    runIngestStream(spark, dir, "graft_stream_mmingest",
      m => lake.filter(col("doc_id") % 4 === m),
      () => MmIndex.writeIndex(
        lake.filter(col("doc_id") % 4 === 0), root)) { batch =>
      val s = batch.sparkSession
      // append the probe's OWN accepted-signature rows — the batch's
      // media decodes exactly once, in the screen; appending media
      // would re-run the decode kernels over the accepted payloads
      val (_, acceptedSigs) = MmIndex.incrementalAcceptWithSigs(
        MmIndex.readIndex(s, root), batch)
      MmIndex.appendSignatures(root, acceptedSigs)
    }
    spark.read.parquet(graft.multimodal.MmIndex.sigLive(root))
      .filter(col("doc_id") % 4 =!= 0)
      .select(col("doc_id"), col("media_type"), col("phash_hi"),
        col("phash_lo"), (col("doc_id") % 4).cast("long").as("day"))
      .orderBy("day", "doc_id")
  }

  /** The ONLINE READ path of the persisted-index story — continuous
    * top-k SERVING from the embedding band index: a stream of query
    * vectors (the % 5 = 0 population, three micro-batches) is
    * answered from the SHARED staged % 5 ≠ 0 index
    * ([[graft.sim.EmbIndexQueries.stagedEmbIndexPath]] — serving is
    * read-only, so unlike the mutating ingest streams it reuses the
    * cross-process staged artifact) via
    * [[graft.sim.EmbIndex.indexTopKBatch]]: per micro-batch the query
    * rows are held on the driver, two fetch jobs read the postings of
    * their buckets and the candidates' `vecs` rows, and each query
    * ranks on the driver. Each batch's results land in a parquet sink
    * exactly-once. A query's answer depends on its own row and the
    * index only, so the result is batch-size invariant — StreamingSpec
    * pins micro-batched ≡ one-shot — and the oracle re-derives every
    * ranked row at the manifest width. */
  def embIndexServing(spark: SparkSession, dir: String): DataFrame = withStreamParallelism(spark) {
    import java.nio.file.{Files, Paths}
    import graft.sim.{EmbIndex, EmbIndexQueries}
    val emb = graft.io.Tables.embeddings(spark, dir)
      .select("vec_id", "embedding")
    val rootF = stagedConcurrently(
      EmbIndexQueries.stagedEmbIndexPath(spark, dir))
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    // query arrivals: the % 5 = 0 vectors, three disjoint batches
    // (vec_id % 15 ∈ {0, 5, 10})
    val srcDir = stageArrivals(s"graft_stream_embserve_src_$tag",
      (0 to 2).map(m => emb.filter(col("vec_id") % 5 === 0 &&
        col("vec_id") % 15 === m * 5) -> s"q$m.parquet"))
    val root = rootF()
    val sink = Files.createTempDirectory(Paths.get(sys.props("java.io.tmpdir")),
      s"graft_stream_embserve_out_${tag}_").toString
    val ckpt = Files.createTempDirectory(Paths.get(sys.props("java.io.tmpdir")),
      s"graft_stream_embserve_ckpt_${tag}_").toString
    driveIngest(spark, srcDir, ckpt) { batch =>
      EmbIndex.indexTopKBatch(
          EmbIndex.readIndex(batch.sparkSession, root), batch, 3)
        .write.mode("append").parquet(sink)
    }
    spark.read.parquet(sink).orderBy("q_id", "rank")
  }

  /** Overlap a serving query's staged-artifact first-touch with its
    * arrival staging (guide §2.6, r17): the two are independent — the
    * staged index is the cross-process read-only artifact, the arrival
    * files are this run's query batches — and both are awaited before
    * the drive starts. In a full bench the artifact is pre-staged and
    * the future returns instantly; under BENCH_ONLY the first-touch
    * build overlaps the arrival writes. */
  private def stagedConcurrently[A](stage: => A): (() => A) = {
    import scala.concurrent.{Await, Future, blocking}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val f = Future { blocking { stage } }
    () => Await.result(f, Duration.Inf)
  }

  /** A PER-RUN private index root (pid + unique temp suffix): the
    * ingest stream MUTATES its index, so unlike the staged read-only
    * artifacts it cannot be shared across concurrent processes (the
    * r12 advisor's cross-process-race lesson); stale roots reap under
    * the standard tmp policy (SCALE.md "staged-artifact lifecycle"). */
  private def privateIngestRoot(dir: String, prefix: String): String = {
    import java.nio.file.{Files, Paths}
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    Files.createTempDirectory(
      Paths.get(sys.props("java.io.tmpdir")), s"$prefix${tag}_").toString
  }

  /** STREAMED routed-PQ serving — the online READ path of the
    * persisted IVF-PQ index ([[graft.sim.PqIndex.topKRoutedBatch]]),
    * completing the serving column for the third index family
    * (embedding twin: [[embIndexServing]]): query vectors arrive in
    * micro-batches and each batch is ADC-ranked against ONLY its
    * queries' probed cells' code partitions — the billion-vector
    * steady-state loop, where every batch reads ~nprobe/KC of the
    * artifact instead of scanning all codes. Serving is STATELESS
    * reads of the frozen artifacts, so batch splits cannot change
    * results (the oracle treats the whole query population as one
    * batch) and the parquet sink is exactly-once per committed batch. */
  def pqIndexServing(spark: SparkSession, dir: String): DataFrame = withStreamParallelism(spark) {
    import java.nio.file.{Files, Paths}
    import graft.sim.{PqIndex, PqIndexQueries}
    val emb = graft.io.Tables.embeddings(spark, dir)
      .select("vec_id", "embedding")
    val rootF = stagedConcurrently(
      PqIndexQueries.stagedPqIndexPath(spark, dir))
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    // query arrivals: the % 5 = 0 vectors (disjoint from the indexed
    // base), three disjoint batches (vec_id % 15 ∈ {0, 5, 10})
    val srcDir = stageArrivals(s"graft_stream_pqserve_src_$tag",
      (0 to 2).map(m => emb.filter(col("vec_id") % 5 === 0 &&
        col("vec_id") % 15 === m * 5) -> s"q$m.parquet"))
    val root = rootF()
    val sink = Files.createTempDirectory(Paths.get(sys.props("java.io.tmpdir")),
      s"graft_stream_pqserve_out_${tag}_").toString
    val ckpt = Files.createTempDirectory(Paths.get(sys.props("java.io.tmpdir")),
      s"graft_stream_pqserve_ckpt_${tag}_").toString
    driveIngest(spark, srcDir, ckpt) { batch =>
      PqIndex.topKRoutedBatch(batch,
          PqIndex.readIndex(batch.sparkSession, root), 3, 2)
        .write.mode("append").parquet(sink)
    }
    spark.read.parquet(sink).orderBy("q_id", "rank")
  }

  /** STREAMED media near-dup lookup — the online READ path of the
    * persisted signature index, completing the serving column for the
    * fourth family (embedding twin: [[embIndexServing]], PQ twin:
    * [[pqIndexServing]]): media query objects arrive in micro-batches
    * (the planted near-dup lake — payloads a controlled few aHash
    * bits from indexed objects) and each batch is answered by the
    * Hamming-tolerance band probe
    * ([[graft.multimodal.MmIndex.nearProbeReport]]) against the
    * SHARED staged % 5 ≠ 0 index, landing verdicts in a parquet sink
    * exactly-once. Serving runs withinDelta = false — a lookup
    * answers "near-dup of the corpus?" as a pure per-object function,
    * so verdicts are batch-composition invariant (StreamingSpec pins
    * micro-batched ≡ one-shot); each batch decodes ONLY its own
    * payloads, the index side stays 16-byte signature rows. */
  def mmIndexServing(spark: SparkSession, dir: String): DataFrame = withStreamParallelism(spark) {
    import java.nio.file.{Files, Paths}
    import graft.multimodal.{MmIndex, MultimodalQueries}
    val rootF = stagedConcurrently(
      MultimodalQueries.stagedMmIndexPath(spark, dir))
    val lake = spark.read.parquet(
      MultimodalQueries.stagedNearDupPath(spark, dir) + "/media")
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    // query arrivals: the % 5 = 0 planted population, three disjoint
    // batches (doc_id % 15 ∈ {0, 5, 10})
    val srcDir = stageArrivals(s"graft_stream_mmserve_src_$tag",
      (0 to 2).map(m =>
        lake.filter(col("doc_id") % 15 === m * 5) -> s"q$m.parquet"))
    val root = rootF()
    val sink = Files.createTempDirectory(Paths.get(sys.props("java.io.tmpdir")),
      s"graft_stream_mmserve_out_${tag}_").toString
    val ckpt = Files.createTempDirectory(Paths.get(sys.props("java.io.tmpdir")),
      s"graft_stream_mmserve_ckpt_${tag}_").toString
    driveIngest(spark, srcDir, ckpt) { batch =>
      MmIndex.nearProbeReport(
          MmIndex.readIndex(batch.sparkSession, root), batch,
          withinDelta = false)
        .write.mode("append").parquet(sink)
    }
    spark.read.parquet(sink).orderBy("doc_id")
  }

  /** STREAMED text near-dup lookup — the online READ path of the
    * persisted MinHash index, completing the serving column for the
    * FIRST family (emb twin: [[embIndexServing]], PQ twin:
    * [[pqIndexServing]], mm twin: [[mmIndexServing]]): document
    * micro-batches are answered by [[graft.text.Dedup.lookupReport]]
    * against the SHARED staged % 5 ≠ 0 index (serving is read-only,
    * so it reuses the cross-process staged artifact), landing one
    * verdict row per document in a parquet sink exactly-once. The
    * lookup posture has no intra-delta blocking — verdicts are pure
    * per-document functions, batch-composition invariant
    * (StreamingSpec pins micro-batched ≡ one-shot) — and each batch's
    * cost is batch-side shingling + a broadcast probe of the
    * corpus-scale artifacts, never an index rewrite. */
  def textIndexServing(spark: SparkSession, dir: String): DataFrame = withStreamParallelism(spark) {
    import java.nio.file.{Files, Paths}
    import graft.text.{Dedup, DedupQueries}
    val docs = graft.io.Tables.documents(spark, dir).select("doc_id", "text")
    val rootF = stagedConcurrently(
      DedupQueries.stagedIndexPath(spark, dir))
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    // query arrivals: the % 5 = 0 docs (disjoint from the indexed
    // base), three disjoint batches (doc_id % 15 ∈ {0, 5, 10})
    val srcDir = stageArrivals(s"graft_stream_textserve_src_$tag",
      (0 to 2).map(m => docs.filter(col("doc_id") % 5 === 0 &&
        col("doc_id") % 15 === m * 5) -> s"q$m.parquet"))
    val root = rootF()
    val sink = Files.createTempDirectory(Paths.get(sys.props("java.io.tmpdir")),
      s"graft_stream_textserve_out_${tag}_").toString
    val ckpt = Files.createTempDirectory(Paths.get(sys.props("java.io.tmpdir")),
      s"graft_stream_textserve_ckpt_${tag}_").toString
    driveIngest(spark, srcDir, ckpt) { batch =>
      Dedup.lookupReport(Dedup.readIndex(batch.sparkSession, root),
          batch, "doc_id", "text")
        .write.mode("append").parquet(sink)
    }
    spark.read.parquet(sink).orderBy("doc_id")
  }

  /** The ONE streaming-ingest choreography both index families run:
    * days 1..3 staged as one parquet file each (admission-ordered by
    * mtime), maxFilesPerTrigger = 1 → one day per micro-batch,
    * foreachBatch runs the family's screen-and-append fold,
    * AvailableNow drains the backlog. Checkpoint exactly-once holds
    * PER COMMITTED BATCH: a restart re-runs no micro-batch whose
    * offsets committed ([[exactlyOnceSinkCounts]] pins that contract
    * for foreachBatch sinks, and StreamingSpec pins the
    * zero-recallback restart here). The uncovered window — a crash
    * AFTER a parquet append job commits but BEFORE the checkpoint
    * offset commit — re-runs that one batch and duplicates its
    * appended rows; that is precisely the torn-append shape each
    * family's repairIndex detects and heals, so the recovery story is
    * repair-on-restart, not a stronger sink guarantee foreachBatch
    * cannot give. */
  private def runIngestStream(spark: SparkSession, dir: String,
      tagPrefix: String, day: Int => DataFrame,
      day0: () => Unit = () => ())(
      ingest: DataFrame => Unit): Unit = {
    import java.nio.file.{Files, Paths}
    import scala.concurrent.{Await, Future, blocking}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    // day-0 (the base index build) and the arrival staging are
    // INDEPENDENT jobs — the stream needs both, but neither reads the
    // other's output (day 0 indexes the base slice; the stage files
    // hold days 1..3). Overlap them (guide §2.6, r17) and await BOTH
    // before the first micro-batch fires, so the sequential-fold
    // contract (batch N probes the index grown through batch N−1,
    // starting from the fully-built day-0 index) is untouched.
    val fDay0 = Future { blocking { day0() } }
    val srcDir = stageArrivals(s"${tagPrefix}_src_$tag",
      Seq(day(1) -> "day1.parquet", day(2) -> "day2.parquet",
        day(3) -> "day3.parquet"))
    Await.result(fDay0, Duration.Inf)
    val ckpt = Files.createTempDirectory(
      Paths.get(sys.props("java.io.tmpdir")),
      s"${tagPrefix}_ckpt_${tag}_").toString
    driveIngest(spark, srcDir, ckpt)(ingest)
  }

  /** The drive step alone (stream over an existing stage dir with a
    * caller-owned checkpoint): split out so the restart-idempotence
    * contract is directly testable — a second drive against the SAME
    * checkpoint and source re-runs no committed micro-batch
    * (StreamingSpec pins the ingest callback fires zero extra times). */
  private[graft] def driveIngest(spark: SparkSession, srcDir: String,
      ckpt: String)(ingest: DataFrame => Unit): Unit = {
    val schema = spark.read.parquet(srcDir).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) => ingest(batch); () }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }
}
