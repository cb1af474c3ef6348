package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import UnigramLM.{MaxPiece, MaxWord, NegInf}

/** The original unrolled-column form of [[UnigramLM.viterbiUsage]]: the
  * Viterbi DP as chained columns, identical semantics and a ruinous plan
  * constant (see `viterbiUsage`'s scaladoc). UnigramLMSpec's differential
  * reference for the native expression. */
object UnigramViterbiOracle {

  def viterbiUsageUnrolled(
      subs: DataFrame, scoredPieces: DataFrame): DataFrame = {
    // the per-word lookup list, as UnigramLM builds it
    var df = subs
      .join(scoredPieces.select(col("piece"), col("bits")), Seq("piece"))
      .groupBy(col("word"), col("cnt"))
      .agg(collect_list(struct(col("s"), col("k"), col("bits").as("b"))).as("hs"))
      .withColumn("n", length(col("word")))
    // get() (0-based) not element_at(…, 1): a piece absent from the current
    // vocabulary leaves the filter EMPTY, and ANSI element_at throws
    // INVALID_ARRAY_INDEX on an empty array where the DP needs a null
    // (→ NegInf candidate). UnigramLMSpec pins the missing-piece case.
    def bitsAt(s: Int, k: Int): Column =
      get(filter(col("hs"),
        h => h.getField("s") === lit(s.toLong) && h.getField("k") === lit(k.toLong)),
        lit(0)).getField("b")
    // dp[j] = best score of word[1..j]; k[j] = the chosen last-piece length.
    // Per-piece score is bits − 21: the integer log2-probability proxy (see
    // UnigramLM's scaladoc — the shift is what makes merges beat char splits
    // exactly on the PMI > 0 condition). A missing lookup (piece not in the
    // current vocabulary) nulls the addition and coalesces to NegInf.
    for (j <- 1 to MaxWord) {
      val cands: Seq[Column] = (1 to MaxPiece).map { k =>
        if (k > j) lit(NegInf)
        else {
          val prev = if (j - k == 0) lit(0L) else col(s"v${j - k}")
          coalesce(prev + (bitsAt(j - k + 1, k) - lit(21L)), lit(NegInf))
        }
      }
      val Seq(c1, c2, c3, c4) = cands
      // tiebreak: longer piece wins — k=4 first, each gate uses >=
      val kj = when(c4 >= c3 && c4 >= c2 && c4 >= c1, lit(4L))
        .when(c3 >= c2 && c3 >= c1, lit(3L))
        .when(c2 >= c1, lit(2L))
        .otherwise(lit(1L))
      df = df
        .withColumn(s"v$j", when(col("n") >= j, greatest(c1, c2, c3, c4)))
        .withColumn(s"k$j", when(col("n") >= j, kj))
    }
    // backpointer walk from position n: at most MaxWord steps, unrolled
    df = df.withColumn("p0", col("n").cast("long"))
    for (i <- 1 to MaxWord) {
      val prev = col(s"p${i - 1}")
      val kat = (1 to MaxWord).foldLeft(lit(null).cast("long")) { (acc, j) =>
        when(prev === j, col(s"k$j")).otherwise(acc)
      }
      df = df
        .withColumn(s"kat$i", kat)
        .withColumn(s"pc$i", when(prev > 0,
          expr(s"substring(word, CAST(p${i - 1} - kat$i + 1 AS INT), CAST(kat$i AS INT))")))
        .withColumn(s"p$i", when(prev > 0, prev - col(s"kat$i")).otherwise(lit(0L)))
    }
    df.select(col("cnt"),
        explode(array((1 to MaxWord).map(i => col(s"pc$i")): _*)).as("piece"))
      .filter(col("piece").isNotNull)
      .groupBy(col("piece")).agg(sum(col("cnt")).as("c"))
  }
}
