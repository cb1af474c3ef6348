package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic label propagation over an edge list — community detection
  * (Raghavan et al. 2007, "Near linear time algorithm to detect community
  * structures") as the soft-clustering sibling of [[ConnectedComponents]]:
  * CC answers "which nodes are REACHABLE from each other" (any path merges
  * clusters), LPA answers "which nodes are DENSELY connected" (a node joins
  * the community most of its neighbors vote for), which is what corpus
  * curation wants when near-dup graphs chain through weak links.
  *
  * Determinism (the property that makes it oracle-checkable, unlike the
  * textbook's random visit order): synchronous rounds, every node updates
  * from the PREVIOUS round's labels; the adopted label is the neighbor
  * majority with ties broken by SMALLEST label; integer labels and exact
  * counts throughout, so the k-round result is a pure function of the edge
  * set on any engine and any partitioning.
  *
  * Scale shape, same discipline as [[PageRank]]/[[ConnectedComponents]]:
  * each round is one keyed join (labels onto the symmetrized edge list),
  * one (node, label) count aggregate, and one per-node argmax window over
  * the aggregate's OWN exchange — all shuffles keyed on node id, no driver
  * state. Each round's label vector is written once through
  * `Reuse.materialize` and the superseded round is released right away,
  * bounding live storage at two vectors plus the edge list regardless of
  * round count. The window partition buffers one node's DISTINCT NEIGHBOR
  * LABELS (≤ degree, and collapsing every round), not its edges.
  */
object LabelPropagation {

  /** `(node BIGINT, label BIGINT)` after `iters` synchronous rounds over
    * the UNDIRECTED view of `edges` (symmetrized, deduped, self-loops
    * dropped). Labels start as the node's own id. Nodes absent from the
    * edge list are absent from the result — callers wanting singleton
    * semantics left-join and coalesce to the node id.
    */
  def propagate(edges: DataFrame, srcCol: String, dstCol: String, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val sym = PageRank.symmetrizedHot(edges, srcCol, dstCol)

    // plain frame: one distinct over the materialized sym
    var labels = sym.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    var iter = 0
    while (iter < iters) {
      val votes = sym
        .join(labels.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      // per-node argmax rides the aggregate's own (node-keyed) exchange:
      // majority label, smallest-label tiebreak — totally ordered, so the
      // pick is deterministic under any partitioning
      val best = Window.partitionBy(col("node"))
        .orderBy(col("c").desc, col("lbl").asc)
      val next = Reuse.materialize(votes
        .withColumn("rn", row_number().over(best))
        .filter(col("rn") === 1)
        .select(col("node"), col("lbl")))
      Reuse.release(labels)
      labels = next
      iter += 1
    }
    // the edge list must not outlive the propagation; the returned vector
    // reads only its own files
    Reuse.release(sym)
    labels.select(col("node"), col("lbl").as("label"))
  }
}
