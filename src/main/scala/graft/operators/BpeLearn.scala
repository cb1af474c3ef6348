package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge learning — the tokenizer-TRAINING step of an
  * LLM data pipeline (v1_vocab_build counts whole words; this learns the
  * subword merge table those words decompose into). Public algorithm:
  * Sennrich, Haddow & Birch, "Neural Machine Translation of Rare Words with
  * Subword Units", ACL 2016 (reference repo has no tokenizer trainer; this
  * is part of the training-data extension surface).
  *
  * Scale shape — the reason industrial BPE trainers work at corpus scale:
  * the CORPUS is touched exactly once (one shuffle to build `(word, cnt)`);
  * every one of the K merge iterations then runs on the DISTINCT-WORD table,
  * which is vocabulary-sized (~10^6–10^7 rows at 100 TB, independent of
  * corpus row count). Per iteration: one small aggregation for weighted
  * adjacent-pair counts, one single-row argmax `collect()` (bounded driver
  * state: exactly one `(pair, count)` per round), one
  * map-only rewrite of the word renderings. No iteration re-reads the corpus.
  *
  * Determinism contract (this feeds a DuckDB-hash-checked catalog entry):
  * pair counts are exact integer sums; the argmax tiebreak is
  * `(count DESC, left ASC, right ASC)` over binary string order; and merge
  * APPLICATION is defined as a TWO-PASS non-overlapping left-to-right
  * string replace of the space-delimited rendering — pass 2 catches the
  * occurrences whose leading space was consumed by a pass-1 match. For
  * self-pairs over odd runs this deviates from canonical greedy BPE
  * (`a a a a a` merges to `aa a aa`, not `aa aa a`); both engines run the
  * identical two passes, so the catalog hash cannot flap, and the deviation
  * is asserted (not hidden) in BpeLearnSpec.
  */
object BpeLearn {

  /** Learned merge, in application order. */
  final case class Merge(merge_rank: Int, left_sym: String, right_sym: String,
      pair_count: Long)

  /** End-of-word marker (Sennrich): lets a learned subword distinguish
    * word-final position from word-internal. Space-free by construction so
    * it survives the space-delimited rendering. */
  val EndMark = "</w>"

  /** The one corpus-scale pass: whitespace words of `textCol`, lowercased,
    * empties dropped, exact counts. One shuffle; output is vocab-sized. */
  def wordCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(split(lower(col(textCol)), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Initial rendering: one symbol per character, space-joined, end marker
    * appended. `split(w, "")` under Java regex keeps a trailing empty match,
    * so empties are filtered — the result is exactly DuckDB's
    * `string_split(word, '')` char list. */
  def initialSymbols(wordCounts: DataFrame): DataFrame =
    wordCounts.select(
      concat(concat_ws(" ", filter(split(col("word"), ""), s => length(s) > 0)),
        lit(" " + EndMark)).as("w"),
      col("cnt"))

  /** Weighted adjacent-pair counts of the current renderings: every
    * position i contributes (sym[i], sym[i+1]) with the word's weight.
    * Pure expressions until the one pair aggregate — no explode-join. */
  def pairCounts(words: DataFrame): DataFrame =
    words.withColumn("syms", split(col("w"), " "))
      .select(col("cnt"), explode(transform(
        slice(col("syms"), lit(1), size(col("syms")) - 1),
        (s, i) => struct(s.as("a"), element_at(col("syms"), i + 2).as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum("cnt").as("c"))

  /** The two-pass merge rewrite (see determinism contract above). */
  def applyMerge(w: Column, left: String, right: String): Column = {
    val pat = lit(s" $left $right ")
    val rep = lit(s" $left$right ")
    trim(replace(replace(concat(lit(" "), w, lit(" ")), pat, rep), pat, rep))
  }

  /** The tokenizer's INFERENCE half: apply an ordered merge list to symbol
    * renderings. The whole chain folds into one map-only projection over the
    * vocab-sized word table — K chained replaces, no per-merge jobs; at
    * tokenization time documents join this table on `word` (or inline the
    * same expression chain over their own text). */
  def applyMerges(words: DataFrame, merges: Seq[Merge]): DataFrame =
    words.select(
      merges.foldLeft(col("w"))((c, m) => applyMerge(c, m.left_sym, m.right_sym)).as("w"),
      col("cnt"))

  /** How many cache-over-cache merge rounds may chain before the lineage
    * is cut with [[Reuse.materialize]]. Each round's plan is one projection over
    * the previous round's cached frame, so WITHOUT a cut the logical plan
    * deepens by one layer per merge — at real merge counts (tens of
    * thousands) driver-side analysis goes quadratic and an executor loss
    * recomputes through every unpersisted layer back to the corpus scan.
    * A periodic cut bounds plan depth and recovery cost at `interval`
    * layers while costing one vocab-sized write per interval. */
  private val CheckpointInterval = 32

  /** Learn `numMerges` merges. Stops early if the corpus runs out of
    * repeated pairs. Caches each round's vocab-sized rendering and frees the
    * previous one, so storage is bounded at two renderings regardless of K;
    * every [[CheckpointInterval]]-th rendering is written through
    * [[Reuse.materialize]] instead (cluster-survivable lineage cut). */
  def learn(wordCounts: DataFrame, numMerges: Int): Seq[Merge] = {
    var words = initialSymbols(wordCounts).cache()
    var prev: Option[DataFrame] = None
    // the latest cut round: every later cached rendering recomputes from
    // its files after a lost block, so it is released at the next cut
    var cut: Option[DataFrame] = None
    val merges = Seq.newBuilder[Merge]
    var rank = 1
    var done = false
    while (rank <= numMerges && !done) {
      // ONE job per round: this collect materializes `words`' cache (reading
      // the previous round's cache, or the corpus on round one) — so only
      // AFTER it is the previous rendering safe to free. Storage stays
      // bounded at two vocab-sized renderings with no extra count() job.
      val top = pairCounts(words)
        .orderBy(col("c").desc, col("a"), col("b")).limit(1).collect()
      prev.filterNot(cut.contains).foreach(Reuse.release)
      prev = Some(words)
      if (top.isEmpty) done = true
      else {
        val (a, b, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += Merge(rank, a, b, c)
        // a cut round is read from its files, so it takes no cache
        val rendered = words.select(applyMerge(col("w"), a, b).as("w"), col("cnt"))
        words =
          if (rank % CheckpointInterval == 0) {
            val m = Reuse.materialize(rendered)
            cut.foreach(Reuse.release)
            cut = Some(m)
            m
          } else rendered.cache()
        rank += 1
      }
    }
    (prev.toSeq ++ cut :+ words).distinct.foreach(Reuse.release)
    merges.result()
  }
}
