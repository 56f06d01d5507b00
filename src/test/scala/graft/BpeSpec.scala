package graft

import graft.text.Bpe
import org.apache.spark.sql.functions._

/** BPE merge learning: hand-computed fixtures pin the weighted pair
  * counts, the (count desc, pair asc) tiebreak, greedy non-overlapping
  * application, and early stop when the vocabulary is exhausted. */
class BpeSpec extends SparkSpec {

  import spark.implicits._

  private def report(docs: org.apache.spark.sql.DataFrame) =
    Bpe.bpeReport(docs, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSeq

  test("learned merges, tiebreak, application, and early stop — by hand") {
    // word freqs: aaab ×2, ab ×3.
    // iter 1: (a,a)=4, (a,b)=5 → merge a+b (5); aaab→[a,a,ab], ab→[ab]
    // iter 2: (a,a)=2, (a,ab)=2 → TIE → pair-asc picks a+a (2) → [aa,ab]
    // iter 3: (aa,ab)=2 → merge (2) → [aaab]
    // iter 4: no pairs anywhere → early stop at 3 merges
    val docs = Seq((0L, "aaab aaab ab ab ab")).toDF("doc_id", "text")
    assert(report(docs) == Seq(
      (1L, 1L, "a+b", 5L),
      (1L, 2L, "a+a", 2L),
      (1L, 3L, "aa+ab", 2L),
      (2L, 1L, "ab", 3L),
      (2L, 2L, "aaab", 2L)))
  }

  test("greedy non-overlapping runs: aaaa merges to [aa, aa], not [aa, a, a]") {
    // 3 consecutive (a,a) match positions → every-other chosen (1, 3):
    // one pass yields [aa, aa]; the second merge is then (aa, aa).
    val docs = Seq((0L, "aaaa")).toDF("doc_id", "text")
    assert(report(docs) == Seq(
      (1L, 1L, "a+a", 3L),
      (1L, 2L, "aa+aa", 1L),
      (2L, 1L, "aaaa", 1L)))
  }

  test("encode report: per-doc counts and compression by hand") {
    // merges as in the first test: aaab → [aaab] (1 token, 4 chars),
    // ab → [ab] (1 token, 2 chars).
    // doc 0: 2×aaab + 3×ab → 5 words, 14 chars, 5 tokens,
    // round(5/14·1e6) = 357143
    val docs = Seq((0L, "aaab aaab ab ab ab")).toDF("doc_id", "text")
    val got = Bpe.encodeReport(docs, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == Seq((0L, 5L, 14L, 5L, 357143L)))
  }

  test("decode round-trip: rejoining merged symbols reconstructs every word (sf0.001)") {
    // BPE merges only ever CONCATENATE adjacent symbols, so
    // array_join(syms, '') must equal the source word for the whole
    // vocabulary — the lossless-tokenization property a decoder needs.
    val docs = io.Tables.documents(spark, sf0001).select("doc_id", "text")
    val words = Bpe.learn(docs, 4).words
    assert(words.filter(concat_ws("", col("syms")) =!= col("w")).count() == 0)
    // and at least one real merge happened (syms shorter than chars)
    assert(words.filter(size(col("syms")) < length(col("w"))).count() > 0)
  }

  test("merge counts are non-increasing across iterations (sf0.001, n=6)") {
    // a merge can only create pairs (x, ab)/(ab, x) whose count is
    // bounded by the occurrences of the just-merged pair, and every
    // existing pair's count only decreases — so the argmax sequence
    // is non-increasing. A violation would mean the pair counting or
    // the greedy application is wrong.
    val docs = io.Tables.documents(spark, sf0001).select("doc_id", "text")
    val ns = Bpe.learn(docs, 6).merges.map(_._4)
    assert(ns.size == 6)
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b }, ns.toString)
  }

  test("incremental pair-count maintenance ≡ full recount, " +
      "merge-for-merge and on the final word table (sf0.001, n=16)") {
    // learnDelta() maintains the pair table by delta (only words
    // containing the merged pair recount); learnRecount()
    // re-aggregates every word each iteration. Exact integer counts +
    // the same tie-break must make them bit-identical — learn()
    // switches between them on the measured type count, so the switch
    // is a pure cost decision. SERIAL.md records the same identity at
    // bench scale, n=64.
    val docs = io.Tables.documents(spark, sf0001).select("doc_id", "text")
    val inc = Bpe.learnDelta(docs, 16)
    val rec = Bpe.learnRecount(docs, 16)
    assert(inc.merges == rec.merges)
    assert(inc.words.select("w", "f", "syms")
      .exceptAll(rec.words.select("w", "f", "syms")).isEmpty)
    assert(rec.words.select("w", "f", "syms")
      .exceptAll(inc.words.select("w", "f", "syms")).isEmpty)
    // the fixture is non-trivial: 16 real merges happened
    assert(inc.merges.size == 16)
  }

  test("single-char and blank words never break the pair scan") {
    val docs = Seq((0L, "a b  a   b a"), (1L, "ab")).toDF("doc_id", "text")
    // pairs exist only in "ab" (f=1): merge a+b once, then exhausted
    assert(report(docs) == Seq(
      (1L, 1L, "a+b", 1L),
      (2L, 1L, "a", 3L),
      (2L, 2L, "b", 2L),
      (2L, 3L, "ab", 1L)))
  }
}
