package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed connected components over an edge list — the transitive step
  * between near-duplicate PAIRS (d2/d3/d5 candidate generation + verify) and
  * per-document cluster labels (d6 canonical selection): LSH emits `A~B` and
  * `B~C` as independent rows, but a dedup decision needs `{A,B,C}` as ONE
  * cluster even though `A~C` was never emitted.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — each round
  * recomputes per-node minima over the edge set, and the set converges to a star
  * forest (every node pointing at its component's minimum id) in O(log n)
  * rounds on any graph, O(1)-ish on the clique-like clusters LSH produces.
  * Per round state is the edge set itself: no driver-side structures, no
  * vertex-indexed map, nothing that grows with component count — the one
  * shape that survives a 100 TB corpus with a pathological
  * million-document boilerplate cluster (the giant component degenerates
  * to a star, i.e. one row per member, never a quadratic expansion).
  *
  * - large-star: for every node `u` (over both edge directions), let
  *   `m = min(N(u) ∪ {u})`; connect every strictly-larger neighbor to `m`.
  * - small-star: orient edges large→small; for every node `u`, let
  *   `m = min(N(u))`; connect `u` and its other (all smaller) neighbors
  *   to `m`.
  *
  * Both emit edges already canonically oriented (larger, smaller), and the
  * per-node minimum rides a window over the one exchange either formulation
  * must pay (see the in-body note), so each round is 3 exchanges.
  *
  * Convergence is detected structurally: the set is the fixpoint IFF it is
  * already a star forest (see `isStarForest`), checked by one aggregate per
  * round — never a collected set comparison, and no extra "did anything
  * change" confirm round. Each round's edge set is written once through
  * `Reuse.materialize` (read twice: once by the next round, once by the
  * convergence aggregate; the truncated plan also keeps every round's
  * analysis O(1)), and the SUPERSEDED round is released right away, so
  * live storage is bounded at two rounds' edge sets no matter how many
  * rounds run; the final round's (smallest) set stays for the label
  * projection the caller consumes.
  *
  * NOTE: `label` is necessarily EAGER — the round count is data-dependent,
  * so calling it runs Spark jobs (the rounds) before returning the final
  * label DataFrame. Catalog queries built on it (d8/x10) therefore execute
  * the contraction even under plan-only consumers like `Explain`.
  */
object ConnectedComponents {

  /** Per-node component labels for every node present in `edges`:
    * `(node BIGINT, component BIGINT)` where `component` is the minimum
    * node id of the node's connected component (roots label themselves).
    * Nodes not mentioned in `edges` are absent — callers left-join and
    * coalesce to the node's own id for singleton semantics.
    */
  def label(edges: DataFrame, src: String, dst: String, maxIter: Int = 50): DataFrame = {
    var e = Reuse.materialize(edges
      .select(
        greatest(col(src).cast("long"), col(dst).cast("long")).as("u"),
        least(col(src).cast("long"), col(dst).cast("long")).as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .distinct())

    /** Termination test that doubles as a correctness certificate: a
      * canonically-oriented edge set is the algorithm's fixpoint IFF it is
      * a star forest — both stars map a star forest to itself (the root is
      * already every member's minimum), and the SoCC'14 potential argument
      * gives the converse. Star-forest-ness is one aggregate: no node may
      * appear as a member (left endpoint) twice, or as both a member and a
      * root. Checking the SHAPE of the current set costs the same one job
      * as a change-detection checksum but needs no extra "confirm" round
      * re-running both stars to observe zero change. */
    def isStarForest(ed: DataFrame): Boolean =
      ed.select(explode(array(
          struct(col("u").as("n"), lit(1L).as("as_member"), lit(0L).as("as_root")),
          struct(col("v").as("n"), lit(0L).as("as_member"), lit(1L).as("as_root")))).as("x"))
        .groupBy(col("x.n"))
        .agg(sum(col("x.as_member")).as("nm"), sum(col("x.as_root")).as("nr"))
        .filter(col("nm") > 1 || (col("nm") > 0 && col("nr") > 0))
        .limit(1).isEmpty

    // Per-node min via a window over the SAME exchange a groupBy+join
    // would need — every (u, v) row must reach u's reducer for the min to
    // see it under either formulation (unlike the dedup hot-bucket guard,
    // nothing can be dropped pre-shuffle here), so the window costs the
    // identical shuffle while saving the min-side exchange and the join:
    // each round is 3 exchanges, not ~5. The buffered group is one node's
    // adjacency list, which the contraction itself keeps shrinking and
    // upstream candidate generation (boundedDocLists) bounds by
    // construction.
    def largeStar(ed: DataFrame): DataFrame = {
      val nbrs = ed.select(col("u"), col("v"))
        .union(ed.select(col("v").as("u"), col("u").as("v")))
      // exactly ONE output row per input edge (its v > u direction), so no
      // distinct here: the input is a set, and the round's closing distinct
      // (in smallStar) dedups across groups
      nbrs
        .withColumn("m", least(min(col("v")).over(Window.partitionBy("u")), col("u")))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")) // canonical: v > u >= m
    }

    def smallStar(ed: DataFrame): DataFrame = {
      // input is canonically (larger u, smaller v): the window partition IS
      // the smaller-neighbor set the algorithm wants. Emit (v, m) per row
      // plus (u, m), drop self-loops ((v, m) when v = m; (u, m) cannot be
      // one since m = min(v) < u), dedup once.
      ed
        .withColumn("m", min(col("v")).over(Window.partitionBy("u")))
        .select(explode(array(
          struct(col("v").as("u"), col("m").as("v")),
          struct(col("u"), col("m").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
    }

    var converged = isStarForest(e)
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = Reuse.materialize(smallStar(largeStar(e)))
      converged = isStarForest(next)
      Reuse.release(e)
      e = next
      iter += 1
    }
    require(converged, s"connected components did not converge in $maxIter rounds")

    // At the fixpoint the edge set is a star forest: one (member, root) row
    // per non-root member. Roots label themselves.
    e.select(col("u").as("node"), col("v").as("component"))
      .union(e.select(col("v").as("node"), col("v").as("component")))
      .distinct()
  }
}
