package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style) tokenizer training — the OTHER public
  * subword family next to BPE (v2/v3): Kudo, "Subword Regularization:
  * Improving Neural Network Translation Models with Multiple Subword
  * Candidates", ACL 2018. Seed a large substring vocabulary, Viterbi-
  * segment the corpus under current piece scores, re-estimate piece usage
  * from the segmentations (hard EM — what SentencePiece's pruning rounds
  * use), prune to the survivors, repeat. (Reference repo has no tokenizer
  * trainer; this is training-data-extension surface, the v2 posture.)
  *
  * Scale shape (the BpeLearn contract): the CORPUS is touched exactly once
  * (one shuffle to `(word, cnt)`); seeding, scoring, segmentation and
  * pruning all run on the DISTINCT-WORD table — vocabulary-sized at any
  * corpus. The Viterbi DP is UNROLLED into plain column expressions (word
  * length is capped at [[MaxWord]], the `max_sentencepiece_length`-style
  * bound), so segmentation is ONE map-only projection per round: no UDF,
  * no per-word driver loop, no iteration that re-reads anything bigger
  * than the word table. Per round the only driver state is one Long (the
  * vocabulary total — the t8/b1 embed-as-literal posture).
  *
  * Integer-exact determinism (this feeds the v4 DuckDB-hash-gated entry):
  * piece scores derive from integer "bit-lengths" of the micro-scaled
  * relative frequency — bits(p) = length(bin(c_p·2^20 // total + 1)) — a
  * deterministic floor(log2)+1 both engines compute from identical
  * integers (no ln(), no doubles anywhere). The DP maximizes
  * Σ (bits_i − 21): since bits ≈ 21 + log2(c/total) and bits ≤ 21 always
  * (c ≤ total), the shifted score is the integer log2-PROBABILITY proxy,
  * ≤ 0 per piece — the actual unigram-LM objective. The shift is load-
  * bearing: maximizing RAW bit-lengths would degenerate (every character's
  * count ≥ any superstring piece's count, so bits(char) ≥ bits(piece) ≥ 1
  * and splitting a piece always adds ≥ bits(piece)+1 — all-single-chars
  * would win every word). With the shift, a merge wins exactly when
  * p(piece) ≥ p(left)·p(right) in the bit-length rounding — the PMI > 0
  * condition, which is what SentencePiece's EM converges toward. The
  * Viterbi argmax tiebreak is: higher candidate score first, then the
  * LONGER piece (k=4..1 scanned with >=). Bound: c_p·2^20 must stay under
  * 2^63 → piece counts < 2^42, ~100× any realistic vocabulary entry even
  * at 100 TB (counts live on the word table, weighted by word frequency).
  */
object UnigramLM {

  /** Longest word the trainer segments (longer words are dropped from the
    * word table on BOTH engines — SentencePiece's max-length discipline;
    * the DP unroll depth equals this). */
  val MaxWord = 12

  /** Longest candidate piece (SentencePiece max_sentencepiece_length
    * spirit; the DP fan-in per position). */
  val MaxPiece = 4

  /** Multi-char pieces kept per pruning round (single chars are ALWAYS
    * kept — character coverage, segmentation can never fail). */
  val KeepK = 40

  /** The "impossible" candidate score: any valid path beats it, and a
    * word's k=1 candidate is always valid (single chars are never
    * pruned), so it can never win the argmax. */
  val NegInf = -1000000L

  /** The one corpus-scale pass, capped at [[MaxWord]]: BpeLearn's word
    * counts minus the over-long tail. */
  def wordCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    BpeLearn.wordCounts(docs, textCol).filter(length(col("word")) <= MaxWord)

  /** Weighted substring occurrences `(word, cnt, s, k, piece)` for every
    * start s and length k <= MaxPiece — the seed-vocabulary generator AND
    * the per-word piece-lookup feed. Vocab-sized × ≤ MaxWord·MaxPiece
    * rows; map-only. */
  def substrings(wc: DataFrame): DataFrame =
    wc.select(col("word"), col("cnt"),
        explode(expr(
          s"""flatten(transform(sequence(1, length(word)),
                s -> transform(sequence(1, least(${MaxPiece}, length(word) - s + 1)),
                       k -> struct(s AS s, k AS k,
                                   substring(word, s, k) AS piece))))""")).as("x"))
      .select(col("word"), col("cnt"),
        col("x.s").cast("long").as("s"), col("x.k").cast("long").as("k"),
        col("x.piece"))

  /** Seed piece counts: every substring occurrence, weighted by word
    * frequency. */
  def seedCounts(subs: DataFrame): DataFrame =
    subs.groupBy(col("piece")).agg(sum(col("cnt")).as("c"))

  /** Integer bit-length scores for a piece table against a vocabulary
    * total (embedded as a literal — one collected Long per round). */
  def scored(pieces: DataFrame, total: Long): DataFrame =
    pieces.withColumn("bits",
      expr(s"CAST(length(bin((c * 1048576) div ${total}L + 1)) AS BIGINT)"))

  /** Hard-EM E-step: Viterbi-segment every word under `scoredPieces` and
    * return per-piece usage `(piece, c)` weighted by word counts. ONE
    * shuffle (the per-word hit-list groupBy) + one map-only native DP
    * projection ([[graft.functions.UnigramViterbiSegment]]) + one usage
    * aggregate. The DP was originally UNROLLED as chained columns; Catalyst
    * CollapseProject inlines each dp-position reference into every consumer
    * and the tree grows ~MaxPiece^MaxWord — a ~5 s ANALYSIS/codegen cost
    * per call, a plan constant independent of data (round-12 verdict's weak
    * item on v5). The native expression is O(MaxWord·MaxPiece) compiled
    * integer ops per word row with a flat plan; UnigramLMSpec pins it
    * bit-identical to the column form, kept as a test-side oracle. */
  def viterbiUsage(subs: DataFrame, scoredPieces: DataFrame): DataFrame = {
    val hits = hitLists(subs, scoredPieces)
    hits.select(col("cnt"),
        explode(graft.functions.UnigramViterbiSegment(
          col("word"), col("hs"), MaxWord, MaxPiece, NegInf, 21L)).as("piece"))
      .groupBy(col("piece")).agg(sum(col("cnt")).as("c"))
  }

  /** Per-word lookup list: only pieces present in the CURRENT vocabulary
    * survive the join; the DP treats missing lookups as NegInf. */
  private def hitLists(subs: DataFrame, scoredPieces: DataFrame): DataFrame =
    subs
      .join(scoredPieces.select(col("piece"), col("bits")), Seq("piece"))
      .groupBy(col("word"), col("cnt"))
      .agg(collect_list(struct(col("s"), col("k"), col("bits").as("b"))).as("hs"))

  /** Per-word subword token counts under a trained vocabulary:
    * `(word, n_tok)` — the corpus-tokenization view the pipeline's packing
    * stage consumes (v5's per-word half, before the usage aggregate).
    * Words outside the tokenizer's segmentation domain (> [[MaxWord]]
    * chars, or with no vocabulary hit at all) are NOT in this frame —
    * the caller decides their cost (CorpusPipeline counts each as one
    * UNK token, SentencePiece's unsegmentable-input behavior). */
  def wordTokenCounts(subs: DataFrame, scoredPieces: DataFrame): DataFrame =
    hitLists(subs, scoredPieces).select(col("word"),
      size(graft.functions.UnigramViterbiSegment(
        col("word"), col("hs"), MaxWord, MaxPiece, NegInf, 21L)).as("n_tok"))

  /** M-step pruning: top-[[KeepK]] multi-char pieces by (usage DESC, piece
    * ASC) plus EVERY single character (usage 0 if unused) — coverage can
    * never break. Top-k is orderBy+limit (TakeOrdered — bounded, no
    * single-partition sort). */
  def prune(usage: DataFrame, wc: DataFrame): DataFrame = {
    val multi = usage.filter(length(col("piece")) > 1)
      .orderBy(col("c").desc, col("piece")).limit(KeepK)
    val singles = wc.select(
        explode(expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
          .as("piece"))
      .distinct()
      .join(usage, Seq("piece"), "left")
      .select(col("piece"), coalesce(col("c"), lit(0L)).as("c"))
    multi.select(col("piece"), col("c")).unionByName(singles)
  }

  /** The full trainer: seed → `rounds` hard-EM rounds (score, Viterbi-
    * segment, prune) → final scored vocabulary `(piece, c, bits)`. The
    * corpus is touched exactly once (the word-count shuffle inside
    * [[wordCounts]]); the word and substring tables are materialized once
    * and reread every round; each round's pruned vocabulary is
    * materialized so lineage never stacks Viterbi towers, and the round it
    * supersedes is released. Driver state per round: ONE Long (the vocabulary
    * total, embedded as a literal into the next round's scoring — the
    * t8/b1 posture). */
  def train(docs: DataFrame, rounds: Int): DataFrame = {
    val wc = Reuse.materialize(wordCounts(docs))
    val subs = Reuse.materialize(substrings(wc))
    var pieces = Reuse.materialize(seedCounts(subs))
    // sum over an EMPTY vocabulary (corpus of only >MaxWord words) is null
    // → 0; scored() never divides then — zero piece rows evaluate nothing
    def total(): Long =
      pieces.agg(coalesce(sum(col("c")), lit(0L))).head.getLong(0)
    var t = total()
    for (_ <- 1 to rounds) {
      val next = Reuse.materialize(prune(viterbiUsage(subs, scored(pieces, t)), wc))
      Reuse.release(pieces)
      pieces = next
      t = total()
    }
    Reuse.release(wc); Reuse.release(subs)
    scored(pieces, t).select(col("piece"), col("c"), col("bits"))
  }
}
