package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS hub/authority scoring over an edge list (public: Kleinberg, JACM
  * 1999) — the second link-graph centrality signal next to [[PageRank]]:
  * authorities are pages good hubs point AT, hubs are pages that point at
  * good authorities; corpus curation uses the pair to separate link
  * directories (high hub) from reference content (high authority).
  *
  * Only the integer-QUANTIZED variant is provided, because it is the
  * cross-engine-checkable one (the g1/ranksQuantized posture): scores live
  * in `unit`ths as longs, each half-round max-normalizes to exactly `unit`,
  * and every operation is exact integer arithmetic, so any engine computes
  * identical longs. The raw·unit rescale product can reach n·unit² — past
  * long range — so BOTH sides compute it in exact wide integers: Spark in
  * DECIMAL(38,0) with an integral divide, DuckDB in HUGEINT with `//`.
  *
  * Per round (authorities first, Kleinberg's order):
  *   rawA_v = Σ_{u→v} hub_u;  auth_v = rawA_v·unit div max(rawA)
  *   rawH_u = Σ_{u→v} auth_v; hub_u  = rawH_u·unit div max(rawH)
  * Nodes without in-edges get authority 0; without out-edges, hub 0.
  * Same iteration discipline as PageRank: two keyed shuffles per
  * half-round, one max scalar to the driver, storage bounded at two
  * materialized vectors.
  */
object Hits {

  def hubsAndAuthorities(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int,
      unit: Long = 1000000000L): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val g = PageRank.prepGraph(edges, srcCol, dstCol)
    // HITS reads only the canonical edges and nodes — g.withDeg is never
    // touched, so the degree-annotated list is never written here
    val (e, nodes) = (g.edges, g.nodes)

    // (node, hub, auth) — one vector carries both scores; each half-round
    // is written once and the vector it supersedes is released right away.
    // plain frame: a projection over the materialized nodes
    var scores = nodes
      .withColumn("hub", lit(unit)).withColumn("auth", lit(unit))
    var iter = 0
    while (iter < iterations) {
      // authority half: pull hub mass along edges, max-normalize
      val rawA = e.join(scores, e("src") === scores("node"))
        .groupBy(col("dst").as("node")).agg(sum(col("hub")).as("raw"))
      val maxA = rawA.agg(coalesce(max(col("raw")), lit(0L))).head.getLong(0)
      require(maxA > 0, "HITS: graph has edges but no authority mass") // unreachable: hubs start at unit
      val withAuth = Reuse.materialize(scores.drop("auth").join(rawA, Seq("node"), "left")
        .withColumn("auth",
          expr(s"CAST(coalesce(raw, 0L) AS DECIMAL(38,0)) * ${unit}L div ${maxA}L"))
        .drop("raw"))
      Reuse.release(scores)
      // hub half: pull the fresh authority mass back, max-normalize
      val rawH = e.join(withAuth, e("dst") === withAuth("node"))
        .groupBy(col("src").as("node")).agg(sum(col("auth")).as("raw"))
      val maxH = rawH.agg(coalesce(max(col("raw")), lit(0L))).head.getLong(0)
      require(maxH > 0, "HITS: graph has edges but no hub mass")
      scores = Reuse.materialize(withAuth.drop("hub").join(rawH, Seq("node"), "left")
        .withColumn("hub",
          expr(s"CAST(coalesce(raw, 0L) AS DECIMAL(38,0)) * ${unit}L div ${maxH}L"))
        .drop("raw")
        .select(col("node"), col("hub"), col("auth")))
      Reuse.release(withAuth)
      iter += 1
    }
    g.free()
    scores
  }
}
