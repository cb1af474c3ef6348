package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank over an edge list — the graph-centrality quality signal corpus
  * curation pipelines rank web documents by before selecting pretraining
  * data (public: Page et al. 1999; Common-Crawl-derived corpora filter on
  * exactly this family of link-graph scores).
  *
  * Spark-first shape, same iteration discipline as
  * [[ConnectedComponents]]: each round is ONE join of the rank vector with
  * the out-degree-annotated edge list plus one aggregate on the
  * destination — both shuffles keyed on node id, so a cluster partitions
  * them; no driver-side state beyond the dangling-mass scalar (one number
  * per round, the fixed-size-reduction posture). Every round's rank vector
  * is written once through [[Reuse.materialize]] (a lineage cut an
  * executor loss re-reads) and the superseded round is released right
  * away, bounding live storage at two vectors no matter how many rounds
  * run.
  *
  * Semantics (the standard ones, so scores are comparable to reference
  * implementations): damping `d`, uniform teleport `(1−d)/n`, and dangling
  * nodes (no out-edges) redistribute their mass uniformly — rank mass is
  * conserved at exactly `n` every round, which the spec asserts.
  */
object PageRank {

  /** Shared graph prep for both rank variants: materialized canonical edge
    * list, node set, node count, out-degrees — and, built on first use
    * only, the degree-annotated edge list the PageRank rounds reuse.
    * [[Hits]] shares the prep but never reads degrees, so the annotated
    * list is not written for it at all: it is materialized on first use
    * and released only if it was ever built. */
  private[operators] final class Graph(
      val edges: DataFrame, val nodes: DataFrame, val n: Long,
      val outDeg: DataFrame) {
    private var deg: Option[DataFrame] = None
    /** Degree-annotated edge list, materialized once and cached: every
      * PageRank round re-reads it. */
    def withDeg: DataFrame = synchronized {
      if (deg.isEmpty) deg = Some(Reuse.materialize(edges.join(outDeg, "src")).cache())
      deg.get
    }
    /** Release the prep frames once the final vector is written — the
      * edge list must not outlive training. */
    def free(): Unit = synchronized {
      Reuse.release(edges); Reuse.release(nodes); deg.foreach(Reuse.release); deg = None
    }
  }

  private[operators] def prepGraph(edges: DataFrame, srcCol: String, dstCol: String): Graph = {
    // cached: every round re-reads the edge list
    val e = Reuse.materialize(edges.select(
        col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)).cache()
    val nodes = Reuse.materialize(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    val n = nodes.count()
    require(n > 0, "PageRank: empty graph")
    // per-source fanout once, reused every round
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    new Graph(e, nodes, n, outDeg)
  }

  /** Shared undirected-graph prologue for the iterative operators that
    * work on the SYMMETRIZED view ([[LabelPropagation]], [[KCore]]):
    * normalize to long (src, dst), drop nulls and self-loops, union the
    * reverse direction, dedup, materialize and cache (every round re-reads
    * it). Release with [[Reuse.release]] when the loop ends. */
  private[operators] def symmetrizedHot(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(
        col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
    Reuse.materialize(
      e.union(e.select(col("dst").as("src"), col("src").as("dst"))).distinct()).cache()
  }

  /** Ranks after `iterations` rounds: (node, rank). Nodes = every distinct
    * src or dst. Parallel edges count once per occurrence (a multigraph
    * edge is a stronger link); self-loops are legal. */
  def ranks(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 10,
      damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    val g = prepGraph(edges, srcCol, dstCol)
    // one row per source, probed by the dangling anti-join EVERY round —
    // without this the groupBy over the edge list re-runs per iteration
    val outDeg = Reuse.materialize(g.outDeg).cache()
    val (nodes, withDeg) = (g.nodes, g.withDeg)
    val n = g.n.toDouble

    // plain frame: a projection over the materialized nodes
    var ranks = nodes.withColumn("rank", lit(1.0))
    var iter = 0
    while (iter < iterations) {
      // dangling mass: one scalar to the driver per round
      val dangling = ranks.join(outDeg, ranks("node") === outDeg("src"), "left_anti")
        .agg(coalesce(sum(col("rank")), lit(0.0))).head.getDouble(0)
      val contribs = withDeg
        .join(ranks, withDeg("src") === ranks("node"))
        .select(col("dst").as("node"), (col("rank") / col("deg")).as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("contrib"))
      val base = (1.0 - damping) + damping * dangling / n
      val next = Reuse.materialize(nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + lit(damping) * coalesce(col("contrib"), lit(0.0))).as("rank")))
      Reuse.release(ranks)
      ranks = next
      iter += 1
    }
    Reuse.release(outDeg)
    g.free()
    ranks
  }

  /** Integer-QUANTIZED PageRank: bit-identical results on any engine,
    * partitioning, or summation order — the cross-engine-checkable scoring
    * mode. Double ranks cannot be hash-compared across engines (float
    * addition is order-dependent); here ranks live in `unit`ths as longs,
    * every division truncates, and damping is the rational 85/100, so each
    * round is pure integer arithmetic with one deterministic result.
    * Per round: dangling mass D (one scalar), its per-node share D div n,
    * per-edge contribution s_u div deg_u, then
    * s'_v = (15·unit + 85·(Σ contrib + share)) div 100.
    * Floor losses mean mass is NOT exactly conserved — the trade for
    * bit-exactness; relative error per round is ~deg/unit. Overflow
    * envelope: 85·n·unit must fit a long → n ≤ ~1e8 at unit=1e9; shrink
    * `unit` beyond that. Same iteration discipline as [[ranks]]: two keyed
    * shuffles per round, one scalar to the driver, storage bounded at two
    * materialized vectors. */
  def ranksQuantized(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int,
      unit: Long = 1000000000L): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val g = prepGraph(edges, srcCol, dstCol)
    val outDeg = Reuse.materialize(g.outDeg).cache() // see ranks()
    val (nodes, n, withDeg) = (g.nodes, g.n, g.withDeg)

    var ranks = nodes.withColumn("s", lit(unit)) // plain: see ranks()
    var iter = 0
    while (iter < iterations) {
      val dangling = ranks.join(outDeg, ranks("node") === outDeg("src"), "left_anti")
        .agg(coalesce(sum(col("s")), lit(0L))).head.getLong(0)
      val share = dangling / n
      val contribs = withDeg
        .join(ranks, withDeg("src") === ranks("node"))
        .select(col("dst").as("node"), expr("s div deg").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("contrib"))
      val next = Reuse.materialize(nodes.join(contribs, Seq("node"), "left")
        .withColumn("acc",
          lit(15L) * lit(unit) + lit(85L) * (coalesce(col("contrib"), lit(0L)) + lit(share)))
        .select(col("node"), expr("acc div 100").as("s")))
      Reuse.release(ranks)
      ranks = next
      iter += 1
    }
    Reuse.release(outDeg)
    g.free()
    ranks
  }
}
