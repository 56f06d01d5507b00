package perfbench

import scala.collection.mutable

import graft.{Q, Registry}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A fixed set of registry queries from the relational, aggregate, join,
  * window and SQL-surface groups, each materialised to a noop sink. One
  * round runs the whole set in a seeded order. The tables are generated
  * from a fixed data seed (the run's seed only orders the queries), so
  * each query's result fingerprint is checked against the expected one
  * stored with the benchmark. */
final class OlapMix(ctx: Ctx) extends Workload {
  import OlapMix._
  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private val dataDir = ctx.dir("tables")
  private val queries: Seq[Q] = {
    val byName = Registry.all.map(q => q.name -> q).toMap
    QueryNames.map(n => byName.getOrElse(n, throw new IllegalStateException(s"no query $n")))
  }
  private var logicalBytes = 0L
  private val fingerprints = mutable.Map.empty[String, String]
  private val sinkS = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  def readKinds: Set[String] = QueryNames.toSet
  def writeKinds: Set[String] = Set.empty
  def tailKinds: Set[String] = QueryNames.toSet

  /** Builds the query (its `fn`, with any eager action a builder runs),
    * then materialises it to the noop sink. */
  private def runQuery(q: Q): Unit = {
    val df = tracer.span("ops.build")(q.fn(spark, dataDir))
    val t = System.nanoTime()
    tracer.span("ops.sink")(df.write.format("noop").mode("overwrite").save())
    if (ctx.timed)
      sinkS.getOrElseUpdate(q.name, mutable.ArrayBuffer.empty) += (System.nanoTime() - t) / 1e9
  }

  def setup(): Unit = {
    logicalBytes = ctx.step("tables")(
      Gen.writeTables(spark, dataDir, DataSeed, ctx.args.scale, ctx.parts))
    // the warm-up runs each query exactly as timed (to the noop sink), one
    // at a time, and takes its result fingerprint from the same execution
    queries.foreach(q => fingerprints(q.name) = ctx.step(s"warm-up ${q.name}") {
      val obs = org.apache.spark.sql.Observation(q.name)
      val df = q.fn(spark, dataDir)
      val aggs = fingerprintAggs(df)
      df.observe(obs, aggs.head, aggs.tail: _*)
        .write.format("noop").mode("overwrite").save()
      val m = obs.get
      s"${m("rows")}:${Option(m("hashes")).getOrElse(0L)}"
    })
    queries.foreach(q => System.err.println(
      s"[perfbench] fingerprint olap_mix@${ctx.args.scale} ${q.name} ${fingerprints(q.name)}"))
    if (ctx.args.dump.nonEmpty) dump(ctx.args.dump)
  }

  /** Writes the tables, each query's result and its oracle SQL under
    * `out`, for an independent check of the answers the fingerprints
    * are recorded from. */
  private def dump(out: String): Unit = {
    Seq("region", "nation", "customer", "orders", "lineitem", "events").foreach { t =>
      spark.read.parquet(s"$dataDir/$t.parquet").coalesce(1)
        .write.mode("overwrite").parquet(s"$out/tables/$t.parquet")
    }
    queries.foreach(q => q.fn(spark, dataDir).coalesce(1)
      .write.mode("overwrite").parquet(s"$out/results/${q.name}"))
    val sql = queries.flatMap(q => q.oracle.map(o =>
      "\"" + q.name + "\": \"" + o.replace("\\", "\\\\").replace("\"", "\\\"")
        .replace("\n", "\\n") + "\""))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/results/oracle_sql.json"),
      sql.mkString("{", ",\n", "}").getBytes("UTF-8"))
  }

  def roundSeconds: Double = 5.5

  def round(rng: java.util.Random): Seq[Op] =
    scala.util.Random.javaRandomToRandom(rng).shuffle(queries)
      .map(q => Op(q.name, 1, () => runQuery(q)))

  /** The noop write that materialises each query is the mix's only
    * write; its latency is reported per query. */
  override def writeSeconds: Option[Map[String, Seq[Double]]] =
    Some(sinkS.map { case (k, v) => k -> v.toSeq }.toMap)

  def check(samples: Seq[Sample]): Seq[String] = {
    val expected = Expect.load(ctx.args.expect, s"olap_mix@${ctx.args.scale}")
    QueryNames.flatMap { n =>
      expected.get(n) match {
        case None => Some(s"no expected fingerprint for $n at scale ${ctx.args.scale}")
        case Some(e) if e != fingerprints(n) =>
          Some(s"$n fingerprint ${fingerprints(n)} != expected $e")
        case _ => None
      }
    }
  }

  def spaceAmp(): Double = Disk.bytes(dataDir).toDouble / logicalBytes

  override def layers(samples: Seq[Sample]): Map[String, Double] =
    samples.filter(_.traced).groupBy(_.kind).map { case (k, v) =>
      s"query.${k}_p50_s" -> Stats.median(v.map(_.seconds))
    }
}

object OlapMix {
  /** Scan-only (topk) to shuffle-heavy (agg_cube) — see BENCHMARK.json. */
  val QueryNames: Seq[String] = Seq("topk", "agg_group", "agg_cube",
    "agg_rollup", "agg_count_distinct", "join_fk", "join_anti",
    "window_rank", "window_frame", "sql_pivot")

  /** Seed of the generated tables; fixed so fingerprints are too. */
  val DataSeed = 42L

  /** Order-insensitive fingerprint of a result, as aggregates over its
    * rows: the row count and the sum of 32-bit row hashes, doubles
    * rounded to 7 significant digits so a changed summation order cannot
    * move it. */
  def fingerprintAggs(df: DataFrame): Seq[org.apache.spark.sql.Column] = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case org.apache.spark.sql.types.DoubleType |
            org.apache.spark.sql.types.FloatType =>
          format_string("%.6e", col(f.name).cast("double"))
        case _ => col(f.name).cast("string")
      }
    }
    Seq(count(lit(1)).as("rows"), sum(xxhash64(cols: _*).bitwiseAND(0xffffffffL)).as("hashes"))
  }
}

/** Expected fingerprints stored with the benchmark: lines of
  * `<section> <query> <fingerprint>`. */
object Expect {
  def load(path: String, section: String): Map[String, String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\\s+")).collect { case Array(`section`, q, f) => q -> f }.toMap
    finally src.close()
  }
}
