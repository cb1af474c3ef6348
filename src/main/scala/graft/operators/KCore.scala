package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous k-core peeling over an edge list — the degeneracy-ordering
  * primitive of graph curation (Matula & Beck 1983; the distributed
  * synchronous formulation of Montresor, De Pellegrini & Miorandi,
  * "Distributed k-core decomposition", PODC'11): repeatedly delete every
  * node whose degree in the SURVIVING subgraph is below k. The k-core is
  * what filters a near-dup or interaction graph down to its densely
  * connected kernel (spam rings, canonical-document hubs) where connected
  * components (reachability) and LPA (majority vote) both keep weak
  * chains.
  *
  * Statement here is FIXED-ROUND, like [[LabelPropagation]]/[[PageRank]]:
  * `rounds` synchronous peels, every node annotated with the round that
  * removed it (0 = still in the candidate core after the last round) and
  * the degree that decided it. A fixed unroll is what makes the result a
  * pure function of the edge set — oracle-checkable as degree/filter CTE
  * layers — while full convergence is just "rounds ≥ the cascade depth"
  * (peeling is monotone: each round's alive set only shrinks, so extra
  * rounds are idempotent once the cascade drains).
  *
  * Scale shape: each round is two node-keyed semi-shaped joins (edge list
  * against the alive set on both endpoints), one degree aggregate, and a
  * left join back onto the alive set — all shuffles keyed on node id, no
  * driver state; work per round is O(surviving edges) and the alive set
  * only shrinks. Each round's annotated frame is written once through
  * [[Reuse.materialize]], and because EVERY round's removals feed the
  * final report, no round is released — live storage is bounded by
  * `rounds` node-sized frames, a constant of the operator, not the data.
  */
object KCore {

  /** `(node BIGINT, removed_round BIGINT, last_deg BIGINT)` after `rounds`
    * synchronous peels at threshold `k` over the UNDIRECTED view of
    * `edges` (symmetrized, deduped, self-loops dropped). `removed_round`
    * is 1-based; 0 marks nodes still alive after the last round.
    * `last_deg` is the surviving-subgraph degree that decided the node:
    * the degree at removal (0 for nodes isolated by earlier peels), or
    * the final round's degree for survivors.
    */
  def peel(edges: DataFrame, srcCol: String, dstCol: String,
           k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val sym = PageRank.symmetrizedHot(edges, srcCol, dstCol)

    var alive = sym.select(col("src").as("node")).distinct()
    val parts = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var lastAnn: DataFrame = null
    var i = 1
    while (i <= rounds) {
      // degree within the surviving subgraph: both endpoints must be alive
      val deg = sym
        .join(alive.select(col("node").as("src")), Seq("src"))
        .join(alive.select(col("node").as("dst")), Seq("dst"))
        .groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
      // a node isolated by earlier peels has no degree row → d = 0
      val ann = Reuse.materialize(
        alive.join(deg, Seq("node"), "left_outer").na.fill(0L, Seq("d")))
      parts += ann.filter(col("d") < k)
        .select(col("node"), lit(i.toLong).as("removed_round"),
          col("d").as("last_deg"))
      alive = ann.filter(col("d") >= k).select(col("node"))
      lastAnn = ann
      i += 1
    }
    // every round's materialized frame feeds the final report (its removed
    // slice), so none is released — bounded by `rounds`, not the data. The
    // edge list, though, is dead once the last round is written.
    Reuse.release(sym)
    parts += lastAnn.filter(col("d") >= k)
      .select(col("node"), lit(0L).as("removed_round"), col("d").as("last_deg"))
    parts.reduce(_.unionByName(_))
  }
}
