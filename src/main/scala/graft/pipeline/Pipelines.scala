package graft.pipeline

import graft.functions.Exprs
import graft.io.Csv
import graft.ops.Relational
import graft.text.Sentiment
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's two end-to-end pipelines (SURVEY.md §3.1/§3.2),
  * composed from engine operators into single lazy DataFrame chains —
  * scan → transform → sink, where the reference looped rows in a
  * single thread. How many Spark jobs that takes depends on the input
  * ([[graft.io.Csv]]): an upload within the driver-path cutoff is read,
  * transformed and written on the driver with none; a larger one runs
  * partition-parallel, with two jobs to read and infer it and two for
  * the single-object write.
  */
object Pipelines {

  /** Frontend `options` flags (templates/index.html:228-231) — accepted
    * but ignored by the reference backend (SURVEY §2.3.6); honored here. */
  final case class EtlOptions(clean: Boolean = true, ai: Boolean = true)

  /** Demo pipeline (app.py:165-174): require the text column, append
    * `comment_length` with pandas NaN→"nan" parity. NO dropna on this
    * path (SURVEY §2.3.2 — the two pipelines differ). */
  def demo(df: DataFrame): DataFrame = {
    val c = Relational.chooseTextColumn(df, Seq("comments", "review", "text"))
    df.withColumn("comment_length", Exprs.lengthNanParity(col(c)))
  }

  /** Clean+AI pipeline (etl_core.py:22-76): dropna(any) first, then
    * per-row sentiment on `review`, falling back to `comments`
    * (etl_core.py:56-58). Flags switch each stage off. */
  def cleanAi(df: DataFrame, opts: EtlOptions = EtlOptions()): DataFrame = {
    val cleaned = if (opts.clean) df.na.drop("any") else df
    if (!opts.ai) cleaned
    else {
      val c = Relational.chooseTextColumn(cleaned, Seq("review", "comments", "text"))
      cleaned.withColumn("sentiment_result", Sentiment.sentimentCol(col(c)))
    }
  }

  /** `process_data(file_key, bucket_raw, bucket_processed) -> bool`
    * (etl_core.py:17-82): CSV in → clean+AI → single-object CSV out,
    * success boolean for the job-state machine. */
  def processData(spark: SparkSession, inPath: String, outPath: String,
      opts: EtlOptions = EtlOptions()): Boolean =
    try {
      Csv.writeSingle(cleanAi(Csv.read(spark, inPath), opts), outPath)
      true
    } catch {
      // NonFatal only: an OutOfMemoryError/NoClassDefFoundError must
      // crash, not convert into a quiet `Failed` job on a broken JVM;
      // full stack trace because getMessage is often null
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[pipeline] process_data failed: $e")
        e.printStackTrace()
        false
    }
}
