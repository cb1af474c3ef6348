package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorExpressions.dotF

/** The recall oracle shared by [[AnnIndexSpec]] and [[PqIndexSpec]]. */
object AnnOracle {

  private def cosine(a: Column, b: Column, normA: Column, normB: Column): Column =
    dotF(a, b) / (normA * normB)

  /** Exact brute-force top-k (the recall baseline for [[AnnIndex.searchTopK]]). */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int = 10): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_emb"),
      sqrt(dotF(col(vecCol), col(vecCol))).as("q_norm"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_emb"),
      sqrt(dotF(col(vecCol), col(vecCol))).as("c_norm"))
    val rank = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_emb"), col("c_emb"), col("q_norm"), col("c_norm")).as("cos_sim"))
      .withColumn("rank", row_number().over(rank)).filter(col("rank") <= k)
  }
}
