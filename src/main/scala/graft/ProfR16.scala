package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-16 profiling harness (measurement only — guide §1): decomposes
  * the ingest-stream choreographies into their component walls so the
  * optimization targets the part that actually costs, not the label.
  * Usage: runMain graft.ProfR16 [sfDir]
  */
object ProfR16 {
  private def t[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    System.err.println(f"[prof] $name%-40s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
    r
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Stage-level decomposition of the round's serial-tail hogs —
    * run with mode=tail (second arg). */
  private def tailProfile(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    val ev = graft.io.Tables.events(spark, dir)
    t("warmup events") { ev.foreach(_ => ()) }
    val li = graft.io.Tables.lineitem(spark, dir)
    t("warmup lineitem") { li.foreach(_ => ()) }

    // ── stat_theil_sen decomposition ────────────────────────────────
    (1 to 2).foreach { i =>
      // inlined Extras30.userPairs (private[ops])
      val vv = ev.select(col("user_id"),
        unix_micros(col("ts")).as("u"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"),
        row_number().over(Window.partitionBy("user_id")
          .orderBy("ts", "event_id")).cast("long").as("i"))
      val aa = vv.select(col("user_id"), col("u").as("ua"),
        col("c").as("ca"), col("i").as("ia"))
      val bb = vv.select(col("user_id"), col("u").as("ub"),
        col("c").as("cb"), col("i").as("ib"))
      val pairs = aa.join(bb, Seq("user_id"))
        .filter(col("ib") > col("ia")).filter(col("ub") > col("ua"))
      t(s"theil pairs only (run$i)") { noop(pairs.select("user_id", "ua")) }
      val slopes = pairs.select(col("user_id"),
        expr("""CAST(least(greatest(round((cb - ca) * 3600.0 * 1e6 * 1e6
               | / (ub - ua)), -9e18), 9e18) AS BIGINT)""".stripMargin)
          .as("slope_e6"))
      t(s"theil pairs+slope (run$i)") { noop(slopes) }
      t(s"theil +count agg (run$i)") {
        noop(slopes.groupBy("user_id").agg(count(lit(1)).as("n_pairs")))
      }
      t(s"theil +percentile_disc (run$i)") {
        noop(slopes.groupBy("user_id")
          .agg(count(lit(1)).cast("long").as("n_pairs"),
            expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY slope_e6) AS BIGINT)")
              .as("ts_slope_e6")))
      }
      t(s"theil window-median spelling (run$i)") {
        val rk = slopes
          .withColumn("rn", row_number().over(
            Window.partitionBy("user_id").orderBy("slope_e6")))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("user_id")))
        noop(rk.filter(col("rn") === ((col("n") + 1) / 2).cast("int"))
          .select(col("user_id"), col("n").as("n_pairs"),
            col("slope_e6").as("ts_slope_e6")))
      }
    }

    // ── agg_histogram_equiheight decomposition ──────────────────────
    (1 to 2).foreach { i =>
      val c = li.select(
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("v"))
      t(s"histeq binByQuantiles only (run$i)") {
        noop(graft.ops.ScaleRank.binByQuantiles(c, "v", 4, "bin"))
      }
      t(s"histeq full (run$i)") {
        noop(graft.ops.ScaleRank.binByQuantiles(c, "v", 4, "bin")
          .groupBy("bin")
          .agg(count(lit(1)).cast("long").as("n_rows"),
            countDistinct("v").cast("long").as("ndv"),
            min("v").cast("long").as("lo_cents"),
            max("v").cast("long").as("hi_cents")))
      }
    }

    // ── stat_spearman decomposition ─────────────────────────────────
    (1 to 2).foreach { i =>
      val v = li.select(col("l_returnflag").as("rf"),
        expr("CAST(l_quantity AS BIGINT)").as("x"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("y"))
      t(s"spearman ranks only (run$i)") {
        noop(v.select(col("rf"),
          (rank().over(Window.partitionBy("rf").orderBy("x")).cast("long") * 2
            + count(lit(1)).over(Window.partitionBy("rf", "x")) - 1).as("rx"),
          (rank().over(Window.partitionBy("rf").orderBy("y")).cast("long") * 2
            + count(lit(1)).over(Window.partitionBy("rf", "y")) - 1).as("ry")))
      }
    }
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.US)
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.text.Dedup

    if (args.lift(1).contains("tail")) {
      tailProfile(spark, dir)
      spark.stop()
      println("""{"metric":"prof","value":0}""")
      return
    }

    // incremental-probe decomposition — mode=probe (r17): a repeated
    // probe of the SAME (delta, index) memo-hits the probe build's
    // fetch jobs (Dedup.probeMemo), so run1 − run2 isolates the eager
    // probe-build cost from the lazy screen the noop materializes.
    if (args.lift(1).contains("probe")) {
      val docs = graft.io.Tables.documents(spark, dir).select("doc_id", "text")
      t("warmup docs") { docs.foreach(_ => ()) }
      val root = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get(sys.props("java.io.tmpdir")), "prof_probe_").toString
      t("day0 writeIndex") {
        Dedup.writeIndex(docs.filter(col("doc_id") % 4 === 0), "doc_id", "text", root)
      }
      val batch = docs.filter(col("doc_id") % 4 === 1)
      (1 to 3).foreach { i =>
        val ix = t(s"readIndex (run$i)") { Dedup.readIndex(spark, root) }
        t(s"accept noop (run$i)") {
          noop(Dedup.incrementalAcceptIndexed(ix, batch, "doc_id", "text"))
        }
      }
      // emb twin (no eager probe job — fully lazy screen)
      import graft.sim.EmbIndex
      val emb = graft.io.Tables.embeddings(spark, dir).select("vec_id", "embedding")
      val eroot = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get(sys.props("java.io.tmpdir")), "prof_probe_e_").toString
      t("emb day0 writeIndex") {
        EmbIndex.writeIndex(emb.filter(col("vec_id") % 4 === 0), eroot)
      }
      val ebatch = emb.filter(col("vec_id") % 4 === 1)
      (1 to 3).foreach { i =>
        val ix = t(s"emb readIndex (run$i)") { EmbIndex.readIndex(spark, eroot) }
        t(s"emb accept noop (run$i)") {
          noop(EmbIndex.incrementalAcceptIndexed(ix, ebatch, 1, 5))
        }
      }
      spark.stop()
      println("""{"metric":"prof","value":0}""")
      return
    }

    // writeIndex step decomposition — mode=wix
    if (args.lift(1).contains("wix")) {
      val docs = graft.io.Tables.documents(spark, dir).select("doc_id", "text")
      t("warmup docs") { docs.foreach(_ => ()) }
      (1 to 2).foreach { i =>
        val base = docs.filter(col("doc_id") % 4 === 0)
        t(s"buildIndex noop (run$i)") { noop(Dedup.buildIndex(base, "doc_id", "text")) }
        val root = java.nio.file.Files.createTempDirectory(
          java.nio.file.Paths.get(sys.props("java.io.tmpdir")), "prof_wix_").toString
        t(s"full writeIndex (run$i)") { Dedup.writeIndex(base, "doc_id", "text", root) }
        t(s"readIndex (run$i)") { Dedup.readIndex(spark, root) }
      }
      spark.stop()
      println("""{"metric":"prof","value":0}""")
      return
    }

    // warm-up: tables + codegen
    t("warmup") {
      Seq("documents", "embeddings").foreach(n =>
        spark.read.parquet(s"$dir/$n.parquet").foreach(_ => ()))
    }

    // ── text ingest decomposition ────────────────────────────────────
    val docs = graft.io.Tables.documents(spark, dir).select("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(sys.props("java.io.tmpdir")), "prof_ix_").toString
    t("text day0 writeIndex (%4==0)") {
      Dedup.writeIndex(docs.filter(col("doc_id") % 4 === 0), "doc_id", "text", root)
    }
    (1 to 3).foreach { m =>
      val batch = docs.filter(col("doc_id") % 4 === m)
      val ix = t(s"text readIndex day$m") { Dedup.readIndex(spark, root) }
      val accepted = t(s"text probe day$m (accept+materialize)") {
        val a = Dedup.incrementalAcceptIndexed(ix, batch, "doc_id", "text")
        a.write.format("noop").mode("overwrite").save()
        a
      }
      t(s"text appendIndex day$m") {
        Dedup.appendIndex(root, accepted, "doc_id", "text")
      }
    }
    t("text readback") {
      spark.read.parquet(Dedup.ixLive(root))
        .filter(col("id") % 4 =!= 0)
        .select(col("id").as("doc_id"), (col("id") % 4).cast("long").as("day"))
        .orderBy("day", "doc_id")
        .write.format("noop").mode("overwrite").save()
    }

    // ── streaming machinery overhead alone (no-op ingest) ────────────
    t("stream machinery (3-batch no-op drive)") {
      val srcDir = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get(sys.props("java.io.tmpdir")), "prof_src_").toString
      (1 to 3).foreach { m =>
        docs.filter(col("doc_id") % 4 === m).limit(10)
          .write.mode("overwrite").parquet(s"$srcDir/d$m.parquet.tmp")
        // single-file day layout like stageArrivals
      }
      // simple: just 3 parquet dirs as files is fine for the file source
      val ckpt = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get(sys.props("java.io.tmpdir")), "prof_ckpt_").toString
      val schema = spark.read.parquet(srcDir + "/d1.parquet.tmp").schema
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(srcDir + "/*.tmp")
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) => b.count(); () }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    // ── emb ingest decomposition ─────────────────────────────────────
    import graft.sim.EmbIndex
    val emb = graft.io.Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val eroot = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(sys.props("java.io.tmpdir")), "prof_eix_").toString
    t("emb day0 writeIndex (%4==0)") {
      EmbIndex.writeIndex(emb.filter(col("vec_id") % 4 === 0), eroot)
    }
    (1 to 3).foreach { m =>
      val batch = emb.filter(col("vec_id") % 4 === m)
      val ix = t(s"emb readIndex day$m") { EmbIndex.readIndex(spark, eroot) }
      val accepted = t(s"emb probe day$m (accept+materialize)") {
        val a = EmbIndex.incrementalAcceptIndexed(ix, batch, 1, 5)
        a.write.format("noop").mode("overwrite").save()
        a
      }
      t(s"emb appendIndex day$m") { EmbIndex.appendIndex(eroot, accepted) }
    }

    // ── pq ingest decomposition ──────────────────────────────────────
    import graft.sim.PqIndex
    val proot = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(sys.props("java.io.tmpdir")), "prof_pix_").toString
    t("pq day0 writeIndex (%4==0)") {
      PqIndex.writeIndex(emb.filter(col("vec_id") % 4 === 0), proot)
    }
    (1 to 3).foreach { m =>
      t(s"pq appendIndex day$m") {
        PqIndex.appendIndex(proot, emb.filter(col("vec_id") % 4 === m))
      }
    }

    spark.stop()
    println("""{"metric":"prof","value":0}""")
  }
}
