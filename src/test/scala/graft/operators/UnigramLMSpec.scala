package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the unigram-LM trainer (v4) against a HAND-COMPUTED corpus, plus
  * unit-level pins of the two contracts a judge cannot read off the oracle
  * match alone (both engines computing the same wrong thing would still
  * hash-match): the Viterbi longer-piece tiebreak fires on an exact score
  * tie, and the log-probability shift makes a frequent multi-char piece
  * beat the char split while a rare one loses to it.
  *
  * Hand computation for the corpus "xy xy xy xy z" (+ one >MaxWord word
  * that must be dropped): wc = {xy:4, z:1}; seed counts {x:4, xy:4, y:4,
  * z:1}, total 13. bits(c,total) = bitlen(c*2^20 // total + 1):
  * bits(4,13) = bitlen(322639) = 19, bits(1,13) = bitlen(80660) = 17.
  * Round-1 Viterbi on "xy": [x,y] scores (19-21)+(19-21) = -4, [xy] scores
  * 19-21 = -2 → xy wins; "z" → [z]. Usage {xy:4, z:1}; prune keeps xy (top
  * multi) + singles {x:0, y:0, z:1}; total 5. Round 2: bits(4,5) =
  * bitlen(838861) = 20, bits(0,5) = bitlen(1) = 1, bits(1,5) =
  * bitlen(209716) = 18; "xy": [xy] = -1 beats [x,y] = -40 → stable. Final
  * total 5 → (xy,4,20), (x,0,1), (y,0,1), (z,1,18).
  */
class UnigramLMSpec extends SparkSpec {

  import spark.implicits._

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-unigram").toString
    // one word longer than MaxWord=12: dropped from the word table on both
    // engines, so the hand-computed numbers above must be unaffected
    Seq((1L, "xy xy xy xy z"), (2L, "supercalifragilistic"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("spec").as("source"), length(col("text")).cast("long").as("n_chars"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("two EM rounds reproduce the hand-computed vocabulary exactly") {
    val got = graft.catalog.Catalog.queries("v4_unigram_lm")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("xy", 4L, 20L), ("x", 0L, 1L), ("y", 0L, 1L), ("z", 1L, 18L)),
      s"final vocabulary wrong: $got")
  }

  test("single-char coverage survives pruning even at zero usage") {
    val got = graft.catalog.Catalog.queries("v4_unigram_lm")(spark, dir)
      .collect().map(_.getString(0)).toSet
    // x and y have usage 0 after round 1 (the whole corpus segments them as
    // "xy"), yet both must remain — segmentation can never fail
    assert(Set("x", "y", "z").subsetOf(got), s"alphabet coverage broken: $got")
    assert(!got.exists(_.length > 4), "piece longer than MaxPiece leaked")
    assert(!got.contains("s"), ">MaxWord word was not dropped from the word table")
  }

  private def usageFor(word: String, scored: Seq[(String, Long)]): Map[String, Long] = {
    val wc = Seq((word, 1L)).toDF("word", "cnt")
    val pieces = scored.toDF("piece", "bits")
    UnigramLM.viterbiUsage(UnigramLM.substrings(wc), pieces)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("Viterbi tiebreak: on an exact score tie the LONGER piece wins") {
    // score(mn) = 11-21 = -10 exactly equals score(m)+score(n) =
    // (16-21)+(16-21) = -10: the >=-gates must pick k=2
    assert(usageFor("mn", Seq(("m", 16L), ("n", 16L), ("mn", 11L)))
      == Map("mn" -> 1L))
  }

  test("log-probability shift: rare merge loses to the char split, one bit either way") {
    // one bit below the tie: split wins
    assert(usageFor("mn", Seq(("m", 16L), ("n", 16L), ("mn", 10L)))
      == Map("m" -> 1L, "n" -> 1L))
    // one bit above: merge wins outright
    assert(usageFor("mn", Seq(("m", 16L), ("n", 16L), ("mn", 12L)))
      == Map("mn" -> 1L))
  }

  test("a piece missing from the vocabulary can never be segmented through") {
    // only chars in the vocabulary: the word MUST fall back to singles
    assert(usageFor("mn", Seq(("m", 16L), ("n", 16L)))
      == Map("m" -> 1L, "n" -> 1L))
  }

  test("native Viterbi expression is bit-identical to the unrolled column DP") {
    // differential gate for the round-13 plan-constant fix: the native
    // UnigramViterbiSegment must reproduce the ORIGINAL unrolled form
    // exactly, on a corpus crafted to hit every branch — exact ties
    // (longer-piece gate), missing multi-char pieces (NegInf coalesce),
    // words at MaxWord, a word longer than MaxWord (dropped), repeated
    // pieces, and 1..4-char piece lengths
    val docs = Seq(
      (1L, "abcd abcd ab cd abab"),
      (2L, "xyxyxyxyxyxy q abcdabcdabcd"),
      (3L, "aaaa bbbb ab ba supercalifragilistic"),
      (4L, "mn mn mn zz z")).toDF("doc_id", "text")
    val wc = UnigramLM.wordCounts(docs)
    val subs = UnigramLM.substrings(wc)
    // two vocabularies: the full seed, and a pruned one with holes
    val seed = UnigramLM.scored(UnigramLM.seedCounts(subs), 100L)
    for (vocab <- Seq(seed, UnigramLM.prune(
        UnigramLM.viterbiUsage(subs, seed), wc).transform(p =>
          UnigramLM.scored(p, 37L)))) {
      val native = UnigramLM.viterbiUsage(subs, vocab)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val unrolled = UnigramViterbiOracle.viterbiUsageUnrolled(subs, vocab)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(native == unrolled,
        s"native vs unrolled diverged:\n native=$native\n unrolled=$unrolled")
      assert(native.nonEmpty)
    }
  }

  test("v5 tokenization emits the hand-computed corpus subword frequencies") {
    // under the trained vocabulary, every "xy" segments as [xy] and "z" as
    // [z]; x/y have zero usage and (unlike v4's vocabulary listing) do NOT
    // appear — v5 reports what the corpus looks like tokenized, not the
    // model
    val got = graft.catalog.Catalog.queries("v5_unigram_tokenize")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("xy", 4L), ("z", 1L)), s"v5 frequencies wrong: $got")
  }
}
