package graft.plans

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.functions.call_function

/** Registration for the engine's native Catalyst expressions.
  *
  * Two paths:
  *  - [[GraftFunctions.register]] — per-session, idempotent; what the
  *    registered queries use.
  *  - [[GraftExtensions]] — `SparkSessionExtensions` hook for
  *    production sessions: a session builder's
  *    `withExtensions(new GraftExtensions)` or
  *    `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
object GraftFunctions {
  val Functions: Seq[(String, Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
      org.apache.spark.sql.catalyst.expressions.Expression)] = Seq(
    "cosine_sim" -> (exprs => CosineSimilarity(exprs(0), exprs(1))),
    "dot_longs" -> (exprs => DotLongs(exprs(0), exprs(1))),
    "l2sq_longs" -> (exprs => L2SqLongs(exprs(0), exprs(1))),
    "minhash_signature" -> (exprs => MinHashSignature(exprs.head)),
    "shingles" -> (exprs => Shingles(exprs.head)),
    "simhash64" -> (exprs => SimHash64(exprs.head)),
    // offset/bits are band geometry — plan-time constants; non-foldable
    // arguments fail loudly at analysis instead of NPE-ing out of eval
    "sign_band_mask" -> (exprs => {
      import org.apache.spark.sql.AnalysisException
      def intArg(e: org.apache.spark.sql.catalyst.expressions.Expression,
          name: String): Int = {
        if (!e.foldable)
          throw new AnalysisException(
            errorClass = "NON_FOLDABLE_ARGUMENT",
            messageParameters = Map(
              "funcName" -> "`sign_band_mask`",
              "paramName" -> s"`$name`", "paramType" -> "\"INT\""))
        e.eval(null) match {
          case n: Number => n.intValue
          case _ => throw new AnalysisException(
            errorClass = "SECOND_FUNCTION_ARGUMENT_NOT_INTEGER",
            messageParameters = Map("functionName" -> "sign_band_mask"))
        }
      }
      SignBandMask(exprs(0), intArg(exprs(1), "offset"), intArg(exprs(2), "bits"))
    }),
    // scale/offset are grid geometry — plan-time constants, like
    // sign_band_mask's band geometry
    "quantize_longs" -> (exprs => {
      import org.apache.spark.sql.AnalysisException
      def numArg(e: org.apache.spark.sql.catalyst.expressions.Expression,
          name: String): Number = {
        if (!e.foldable)
          throw new AnalysisException(
            errorClass = "NON_FOLDABLE_ARGUMENT",
            messageParameters = Map(
              "funcName" -> "`quantize_longs`",
              "paramName" -> s"`$name`", "paramType" -> "\"DOUBLE\""))
        e.eval(null) match {
          case n: Number => n
          case _ => throw new AnalysisException(
            errorClass = "SECOND_FUNCTION_ARGUMENT_NOT_INTEGER",
            messageParameters = Map("functionName" -> "quantize_longs"))
        }
      }
      QuantizeLongs(exprs(0), numArg(exprs(1), "scale").doubleValue,
        numArg(exprs(2), "offset").longValue)
    }),
    // Spark's internal runtime-filter pair surfaced as functions (no
    // public Column API exists): the aggregate builds the sketch
    // DISTRIBUTEDLY with map-side partials over XXH64-hashed keys; the
    // probe is a codegen'd predicate over a FOLDABLE sketch (inline the
    // collected ~KB binary as a literal — BloomFilterMightContain
    // requires a constant bloom side, same as InjectRuntimeFilter's
    // scalar subquery). Replaces the boxed might-contain UDF.
    "bloom_agg" -> (exprs =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(exprs(0)), 42L),
        exprs(1), exprs(2))),
    "bloom_might_contain" -> (exprs =>
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        exprs(0),
        org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(exprs(1)), 42L))),
    // cap must be a foldable literal (it sizes aggregation buffers);
    // the analyzer wraps the bare AggregateFunction itself. Validated
    // here so a bad call fails with a named AnalysisException instead
    // of an opaque NPE/ClassCast out of eval(null).
    "capped_collect_longs" -> (exprs => {
      import org.apache.spark.sql.AnalysisException
      if (exprs.length != 2)
        throw new AnalysisException(
          errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          messageParameters = Map(
            "functionName" -> "`capped_collect_longs`",
            "expectedNum" -> "2", "actualNum" -> exprs.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      if (!exprs(1).foldable)
        throw new AnalysisException(
          errorClass = "NON_FOLDABLE_ARGUMENT",
          messageParameters = Map(
            "funcName" -> "`capped_collect_longs`",
            "paramName" -> "`cap`", "paramType" -> "\"INT\""))
      exprs(1).eval(null) match {
        case n: Number => CappedCollectLongs(exprs(0), n.intValue)
        case _ => throw new AnalysisException(
          errorClass = "SECOND_FUNCTION_ARGUMENT_NOT_INTEGER",
          messageParameters = Map(
            "functionName" -> "capped_collect_longs"))
      }
    }))

  /** Idempotent per-session registration: a name the session already
    * resolves (an earlier call, or [[GraftExtensions]]) is left as is,
    * so the per-probe calls replace nothing. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    Functions.foreach { case (name, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  /** cosine_sim as a Column (requires register(spark) on the session
    * that analyzes the plan). */
  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  private val exprClass = Map(
    "cosine_sim" -> classOf[CosineSimilarity].getName,
    "dot_longs" -> classOf[DotLongs].getName,
    "l2sq_longs" -> classOf[L2SqLongs].getName,
    "minhash_signature" -> classOf[MinHashSignature].getName,
    "shingles" -> classOf[Shingles].getName,
    "simhash64" -> classOf[SimHash64].getName,
    "sign_band_mask" -> classOf[SignBandMask].getName,
    "quantize_longs" -> classOf[QuantizeLongs].getName,
    "bloom_agg" -> classOf[
      org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
    "bloom_might_contain" -> classOf[
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
    "capped_collect_longs" -> classOf[CappedCollectLongs].getName)

  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.Functions.foreach { case (name, builder) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(exprClass(name), name),
        builder))
    }
}
