package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge LEARNING [EXT] — distributed tokenizer
  * training (Sennrich, Haddow & Birch 2016, arXiv:1508.07909, the BPE
  * algorithm behind GPT-2/RoBERTa-class vocabularies), simplified to
  * the whitespace pre-tokenization the rest of the text family uses
  * and no end-of-word marker (merges never cross word boundaries
  * either way; the marker only distinguishes word-final subwords in
  * the learned vocab).
  *
  * The 100 TB shape is the point: the corpus is scanned ONCE into the
  * weighted word-TYPE table (|vocab| rows — bounded by language, not
  * data), and every learning iteration runs on that reduced relation:
  * one map-side-combinable pair-count aggregation, a 1-row argmax
  * collect (the only driver payload — bounded like ScaleRank's
  * cut-points), and a codegen'd left-fold merge application over each
  * word's symbol array. Sennrich's reference implementation holds the
  * same vocab dict in memory and pays the same per-iteration pass —
  * this is that algorithm with the pair count distributed.
  *
  * Merge application is greedy left-to-right non-overlapping (the
  * reference `re.sub` semantics), spelled as an exact left fold: the
  * accumulator's last symbol can never re-match as the LEFT element
  * of the pair in the same pass (merged = l+r ≠ l since r is
  * non-empty), so fold ≡ positional scan. The DuckDB oracle spells
  * the SAME contract independently — match positions → runs of
  * consecutive matches → every-other-position chosen (parity within a
  * run; consecutive matches only arise for l = r) — so the two
  * engines cross-check the greedy semantics, not one shared formula.
  */
object Bpe {

  /** The learned state: the merge table and the word-TYPE table after
    * all merges applied — (w, f, syms), the map every downstream
    * consumer (vocab report, corpus encode) joins through. */
  final case class Learned(merges: Seq[(Long, String, String, Long)],
      words: DataFrame)

  /** Session memo for the learned state: text_bpe_merges and
    * text_bpe_encode both consume the SAME learning run on the same
    * corpus — without it each query re-runs the n argmax jobs.
    * peek → compute → insert (the corpus-stats idiom): learning RUNS
    * JOBS, so it must happen outside the memo's plan-assembly lock; a
    * lost race costs one duplicate learning run, never a wrong value. */
  private val learnMemo =
    new graft.plans.PlanMemo[Int, Learned](v => Seq(v.words))

  /** [[learn]] through the session memo. A LOST race (another thread
    * inserted first) discards this thread's Learned — explicitly drop
    * the loser's localCheckpoint blocks (its `words` is a
    * LogicalRDD-backed frame no one will ever reference again;
    * without the unpersist the blocks sit on executors until the
    * GC-driven ContextCleaner notices), bounding the duplicate-run
    * leak the peek/compute/insert idiom accepts. */
  def learnMemoized(docs: DataFrame, nMerges: Int): Learned = {
    learnMemo.peek(docs, nMerges).getOrElse {
      val l = learn(docs, nMerges)
      val won = learnMemo.getOrCompute(docs, nMerges)(l)
      if (!(won eq l))
        l.words.queryExecution.optimizedPlan.collectLeaves().foreach {
          case r: org.apache.spark.sql.execution.LogicalRDD =>
            r.rdd.unpersist(blocking = false)
          case _ => ()
        }
      won
    }
  }

  /** The weighted word-TYPE table from ONE corpus scan: (w, f, syms)
    * with syms split to characters. |vocab| rows — bounded by
    * language, not data. */
  private def wordTypes(docs: DataFrame): DataFrame = docs
    .select(explode(Dedup.tokensCol(col("text"))).as("w"))
    .filter(length(col("w")) > 0)
    .groupBy("w").agg(count(lit(1)).as("f"))
    .select(col("w"), col("f"), expr(
      "transform(sequence(1, length(w)), i -> substring(w, i, 1))")
      .as("syms"))

  /** Weighted adjacent-pair counts over a word-type frame — the
    * relation the argmax reads. Map-side-combinable aggregation;
    * output is bounded by the distinct adjacent-pair space. */
  private def pairCounts(w: DataFrame): DataFrame = w
    .filter(size(col("syms")) >= 2)
    .select(col("f"), explode(expr(
      "transform(sequence(1, size(syms) - 1), i -> " +
        "struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r))"))
      .as("p"))
    .groupBy(col("p.l").as("l"), col("p.r").as("r"))
    .agg(sum("f").as("n"))

  /** Greedy left-to-right non-overlapping application of merge (l, r)
    * as an exact left fold (see object scaladoc). */
  private def applyMerge(syms: org.apache.spark.sql.Column, l: String,
      rt: String): org.apache.spark.sql.Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) > 0 &&
            try_element_at(acc, lit(-1)) === lit(l) && x === lit(rt),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + rt))))
          .otherwise(concat(acc, array(x))))

  /** True iff the word's symbol sequence CONTAINS the adjacent pair
    * (l, r) — the incremental-maintenance selector: only these words
    * change under the merge, so only they are recounted. */
  private def containsPair(syms: org.apache.spark.sql.Column, l: String,
      rt: String): org.apache.spark.sql.Column =
    // the size guard must gate evaluation of sequence() itself —
    // Spark's sequence(1, 0) DESCENDS to [1, 0] and element_at(_, 0)
    // throws; a bare && could be reordered, `when` cannot
    when(size(syms) >= 2,
      exists(transform(sequence(lit(1), size(syms) - 1),
        i => element_at(syms, i) === lit(l) &&
          element_at(syms, i + 1) === lit(rt)), x => x))
      .otherwise(lit(false))

  /** Drops a localCheckpoint-backed frame's blocks explicitly — the
    * learning loop supersedes its (words, pairs) checkpoints every
    * iteration, and at 40 k merges waiting for the GC-driven
    * ContextCleaner would pool tens of thousands of dead block sets
    * on the executors. */
  private def dropCkpt(df: DataFrame): Unit =
    df.queryExecution.optimizedPlan.collectLeaves().foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Word-type count past which [[learnDelta]]'s incremental
    * pair-count maintenance beats [[learnRecount]]'s full re-explode:
    * the delta path pays one extra materialization job per merge but
    * its aggregation volume tracks the winning pair's SUPPORT instead
    * of the whole vocabulary, so it wins once the vocabulary's
    * pair-explode (|types|·avg-len rows into a shuffle per merge)
    * outweighs a fixed job wall (~0.1 s locally) — around 10^5 types.
    * Natural-language corpora at 100 TB sit at 10^7–10^8 types; the
    * synthetic test corpora sit at ~10^2, where recount is optimal. */
  val BigVocabTypes = 100000L

  /** Runs the learning loop (see object scaladoc), choosing the
    * per-merge maintenance strategy by the MEASURED word-type count:
    * small vocabularies re-aggregate pair counts in full each merge
    * ([[learnRecount]] — fewer jobs, trivially cheap below
    * [[BigVocabTypes]]); large vocabularies maintain the pair table
    * by delta ([[learnDelta]] — aggregation volume tracks the merged
    * pair's support, not the vocabulary). The two spellings are
    * merge-for-merge and word-table bit-identical (exact integer
    * counts, same n-desc/l-asc/r-asc tie-break, zero-count rows
    * dropped so the argmax never sees a dead pair) — BpeSpec pins the
    * equivalence, so the switch is a pure cost decision. */
  def learn(docs: DataFrame, nMerges: Int): Learned = {
    val words = wordTypes(docs)
      .localCheckpoint() // |vocab| rows; iterations must not re-scan the corpus
    if (words.count() < BigVocabTypes) recountLoop(words, nMerges)
    else deltaLoop(words, nMerges)
  }

  /** [[deltaLoop]] from a fresh corpus scan — the at-scale strategy,
    * exposed for the A/B twin and specs. */
  private[graft] def learnDelta(docs: DataFrame, nMerges: Int): Learned =
    deltaLoop(wordTypes(docs).localCheckpoint(), nMerges)

  /** Incremental pair-count maintenance: the pair table is built
    * once, and each merge updates it from only the words that CONTAIN
    * the merged pair (subtract their old pair counts, add their
    * merged ones) — the standard BPE-learner optimization (Sennrich's
    * reference implementation maintains the same index in memory), so
    * a 40 k-merge vocabulary pays 40 k support-sized aggregations,
    * not 40 k full vocab re-explodes. Stops early when no pair is
    * left (short vocabularies). */
  private def deltaLoop(words0: DataFrame, nMerges: Int): Learned = {
    var words = words0
    // words' partition count must stay CONSTANT across iterations:
    // the per-merge union (unaffected ∪ merged) CONCATENATES both
    // sides' partitions, and since both derive from words the count
    // would DOUBLE per merge — exponential task growth (iteration 13
    // ran 2¹³ near-empty tasks before this pin). coalesce() is a
    // partition merge, not a shuffle.
    val nPart = math.max(1, words.rdd.getNumPartitions)
    var pairs = pairCounts(words).localCheckpoint()
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= nMerges && !exhausted) {
      val best = pairs
        .orderBy(col("n").desc, col("l").asc, col("r").asc)
        .limit(1).collect() // bounded: exactly one row (the argmax)
      if (best.isEmpty) exhausted = true
      else {
        val (l, rt, n) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r.toLong, l, rt, n))
        // affected/merged stay LAZY: both derive from the checkpointed
        // words leaf by a narrow filter+projection, so re-evaluating
        // them inside the two update jobs is cheaper than a third
        // per-iteration materialization job
        val affected = words.filter(containsPair(col("syms"), l, rt))
        val merged = affected.select(col("w"), col("f"),
          applyMerge(col("syms"), l, rt).as("syms"))
        // pair-table delta: -old counts of affected words, +their
        // merged counts; zero rows drop so the argmax semantics equal
        // a full recount's (a dead pair simply has no row either way)
        val pairsNew = pairs
          .unionByName(pairCounts(affected)
            .select(col("l"), col("r"), (-col("n")).as("n")))
          .unionByName(pairCounts(merged))
          .groupBy("l", "r").agg(sum("n").as("n"))
          .filter(col("n") > 0)
          .localCheckpoint()
        val wordsNew = words.filter(!containsPair(col("syms"), l, rt))
          .unionByName(merged)
          .coalesce(nPart)
          .localCheckpoint()
        dropCkpt(pairs); dropCkpt(words)
        pairs = pairsNew; words = wordsNew
        r += 1
      }
    }
    dropCkpt(pairs)
    Learned(merges.result(), words)
  }

  /** [[recountLoop]] from a fresh corpus scan — the small-vocab
    * strategy, exposed for the A/B twin and specs. */
  private[graft] def learnRecount(docs: DataFrame, nMerges: Int): Learned =
    recountLoop(wordTypes(docs).localCheckpoint(), nMerges)

  /** Full-recount maintenance: each iteration re-aggregates pair
    * counts over every word type — optimal below [[BigVocabTypes]]
    * where the whole vocab explode costs less than the delta path's
    * extra per-merge materialization job. */
  private def recountLoop(words0: DataFrame, nMerges: Int): Learned = {
    var words = words0
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= nMerges && !exhausted) {
      val best = pairCounts(words)
        .orderBy(col("n").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, rt, n) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r.toLong, l, rt, n))
        val wordsNew = words.select(col("w"), col("f"),
          applyMerge(col("syms"), l, rt).as("syms")).localCheckpoint()
        dropCkpt(words)
        words = wordsNew
        r += 1
      }
    }
    Learned(merges.result(), words)
  }

  /** Learned merges + resulting vocabulary report:
    * part 1 = the merge table (rank, "l+r", weighted pair count);
    * part 2 = the top-20 corpus symbols (by weighted count, ties by
    * symbol) after applying all merges. */
  def bpeReport(docs: DataFrame, nMerges: Int = 4): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val st = learnMemoized(docs, nMerges)
    val words = st.words
    val part1 = st.merges.toDF("rank", "l", "r", "n")
      .select(lit(1L).as("part"), col("rank"),
        concat(col("l"), lit("+"), col("r")).as("sym"), col("n"))
    val top = words.select(col("f"), explode(col("syms")).as("sym"))
      .groupBy("sym").agg(sum("f").as("n"))
      .orderBy(col("n").desc, col("sym").asc).limit(20)
    // rank the ≤20 collected rows; the window runs AFTER the TakeOrdered
    val part2 = top.withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("n").desc, col("sym").asc)).cast("long"))
      .select(lit(2L).as("part"), col("rank"), col("sym"), col("n"))
    part1.unionByName(part2).orderBy("part", "rank")
  }

  /** Per-document tokenizer-budget report — the artifact a corpus
    * pipeline prices sequence packing and context windows with: apply
    * the LEARNED merges and report, per document, word count, char
    * count, BPE token count, and the µ-rounded compression ratio
    * (tokens per char). The corpus encode is ONE join of the
    * document's tokens against the |vocab|-row merged word-type map —
    * the merges never re-apply per occurrence. */
  def encodeReport(docs: DataFrame, nMerges: Int = 4): DataFrame = {
    val st = learnMemoized(docs, nMerges)
    val sizes = st.words.select(col("w"),
      length(col("w")).cast("long").as("nc"),
      size(col("syms")).cast("long").as("nt"))
    docs.select(col("doc_id"), explode(Dedup.tokensCol(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .join(sizes, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("nc").as("n_chars"),
        sum("nt").as("n_bpe_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_chars"),
        col("n_bpe_tokens"),
        expr("CAST(round(CAST(n_bpe_tokens AS DOUBLE) / n_chars * 1e6)" +
          " AS BIGINT)").as("compression_e6"))
      .orderBy("doc_id")
  }
}
