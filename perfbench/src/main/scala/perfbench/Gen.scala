package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. Everything is a pure function of
  * (seed, scale): tables come from hashes of the row id, documents and
  * vectors from a SplittableRandom, so the same seed gives the same
  * bytes on any core count. Row counts follow the engine's test corpora
  * (lineitem 6 M × scale, documents 50 k × scale, ...). */
object Gen {
  /** Words of the generated documents; includes the sentiment lexicon
    * (good/great/fast/... and bad/slow/error/...) so labels vary. */
  val Vocab: Array[String] = Array(
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "value", "scan", "a", "hash", "slow", "group", "fast", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "customer", "join", "vector", "the", "good", "bad", "great",
    "error", "clean", "broken", "best", "worst", "win", "dup", "index",
    "shard", "cache", "page", "node", "disk", "load", "store")
  val Langs: Array[String] = Array("en", "fr", "es", "de", "zh")

  def words(r: SplittableRandom, n: Int): Array[String] =
    Array.fill(n)(Vocab(r.nextInt(Vocab.length)))

  def docText(r: SplittableRandom): String =
    words(r, 20 + r.nextInt(60)).mkString(" ")

  final case class Doc(id: Long, text: String, lang: String, source: String)

  def docs(seed: Long, ids: Range): IndexedSeq[Doc] = {
    val r = new SplittableRandom(seed)
    ids.map(i => Doc(i.toLong, docText(r), Langs(r.nextInt(Langs.length)),
      s"src${r.nextInt(20)}"))
  }

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  def docFrame(s: SparkSession, ds: Seq[Doc], parts: Int): DataFrame =
    s.createDataFrame(s.sparkContext.parallelize(
      ds.map(d => Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)),
      parts), DocSchema)

  /** The same text with its last word swapped: one 3-shingle of ~50
    * differs, so Jaccard to the source stays far above the 0.7 screen. */
  def nearDup(text: String, r: SplittableRandom): String = {
    val w = text.split(' ')
    val last = w.last
    var repl = Vocab(r.nextInt(Vocab.length))
    while (repl == last) repl = Vocab(r.nextInt(Vocab.length))
    (w.init :+ repl).mkString(" ")
  }

  val Dim = 64
  val Labels = 10

  /** Clustered unit-scale vectors: one of `Labels` centres plus noise. */
  final class Vectors(seed: Long) {
    private val r = new SplittableRandom(seed)
    private val centres = Array.fill(Labels, Dim)(r.nextGaussian())
    def next(rr: SplittableRandom): (Array[Float], Int) = {
      val l = rr.nextInt(Labels)
      (Array.tabulate(Dim)(j =>
        ((centres(l)(j) + 0.6 * rr.nextGaussian()) / 8).toFloat), l)
    }
  }

  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  def vecFrame(s: SparkSession, rows: Seq[(Long, Array[Float], Int)],
      parts: Int): DataFrame =
    s.createDataFrame(s.sparkContext.parallelize(
      rows.map { case (id, v, l) => Row(id, v.toSeq, l) }, parts), VecSchema)

  // ── TPC-H-shaped tables for the analytical mix ─────────────────────
  // Each column is a hash of (row id, seed, column salt): deterministic
  // under any partitioning, so the expected result fingerprints hold.

  private def h(salt: Int, seed: Long) =
    xxhash64(col("id"), lit(seed), lit(salt))
  private def uniform(salt: Int, seed: Long, n: Long) = pmod(h(salt, seed), lit(n))
  private def pick(salt: Int, seed: Long, xs: Seq[String]) =
    element_at(array(xs.map(lit): _*), (uniform(salt, seed, xs.size) + 1).cast("int"))
  private def day(salt: Int, seed: Long, from: String, days: Int) =
    timestamp_seconds(lit(java.time.LocalDate.parse(from).toEpochDay * 86400L) +
      uniform(salt, seed, days) * 86400L)
  private def money(salt: Int, seed: Long, cents: Long, offset: Double) =
    (uniform(salt, seed, cents).cast("double") / 100.0 + offset)

  /** Writes region, nation, customer, orders, lineitem and events under
    * `dir` as `<name>.parquet` directories, `parts` files each (the two
    * small dimension tables one file); returns the logical bytes (rows
    * times Spark's default size of each column type). */
  def writeTables(s: SparkSession, dir: String, seed: Long, scale: Double,
      parts: Int): Long = {
    val nCust = math.max(150L, (150000 * scale).toLong)
    val nOrd = nCust * 10
    val nLine = nOrd * 4
    val nEvents = math.max(1000L, (1000000 * scale).toLong)
    val nUsers = math.max(50L, nEvents / 20)
    def rows(n: Long) = s.range(0, n, 1, parts)
    val region = s.range(0, 5, 1, 1).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST").map(lit): _*), (col("id") + 1).cast("int")).as("r_name"))
    val nation = s.range(0, 25, 1, 1).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))
    val customer = rows(nCust).select(col("id").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
      uniform(1, seed, 25).cast("int").as("c_nationkey"),
      money(2, seed, 1100000, -999.99).as("c_acctbal"),
      pick(3, seed, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment"))
    // every third customer places no orders, so anti joins have rows
    val cust = uniform(11, seed, nCust)
    val orders = rows(nOrd).select(col("id").as("o_orderkey"),
      when(pmod(cust, lit(3)) === 0, pmod(cust + 1, lit(nCust))).otherwise(cust)
        .as("o_custkey"),
      pick(12, seed, Seq("F", "O", "P")).as("o_orderstatus"),
      money(13, seed, 50000000, 1000.0).as("o_totalprice"),
      day(14, seed, "1992-01-01", 2400).as("o_orderdate"),
      pick(15, seed, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority"))
    val lineitem = rows(nLine).select(
      uniform(21, seed, nOrd).as("l_orderkey"),
      uniform(22, seed, nCust * 4 / 3).as("l_partkey"),
      uniform(23, seed, math.max(10L, nCust / 15)).as("l_suppkey"),
      (uniform(24, seed, 7) + 1).cast("int").as("l_linenumber"),
      (uniform(25, seed, 50) + 1).cast("double").as("l_quantity"),
      money(26, seed, 10000000, 900.0).as("l_extendedprice"),
      (uniform(27, seed, 11).cast("double") / 100.0).as("l_discount"),
      (uniform(28, seed, 9).cast("double") / 100.0).as("l_tax"),
      pick(29, seed, Seq("A", "N", "R")).as("l_returnflag"),
      pick(30, seed, Seq("F", "O")).as("l_linestatus"),
      day(31, seed, "1992-01-02", 2500).as("l_shipdate"))
    val events = rows(nEvents).select(col("id").as("event_id"),
      timestamp_micros(lit(java.time.LocalDate.parse("2024-01-01").toEpochDay *
        86400000000L) + col("id") * 30000000L + uniform(41, seed, 30000000L))
        .as("ts"),
      uniform(42, seed, nUsers).as("user_id"),
      pick(43, seed, Seq("view", "click", "purchase", "error", "login"))
        .as("event_type"),
      money(44, seed, 50000, 0.0).as("value"),
      concat(lit("{\"k\": "), uniform(45, seed, 100), lit("}")).as("props"))
    Seq("lineitem" -> (lineitem, nLine), "orders" -> (orders, nOrd),
      "events" -> (events, nEvents), "customer" -> (customer, nCust),
      "nation" -> (nation, 25L), "region" -> (region, 5L)).map { case (name, (df, n)) =>
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
      n * df.schema.fields.map(_.dataType.defaultSize).sum
    }.sum
  }
}
