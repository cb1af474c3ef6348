package graft.operators

import graft.SparkSpec

class HitsSpec extends SparkSpec {
  import spark.implicits._

  /** In-memory quantized-HITS reference with identical integer semantics:
    * authority half then hub half, max-normalized via BigInt·unit floor
    * division — no shared code with the implementation under test. */
  private def reference(
      edges: Seq[(Long, Long)], iters: Int, unit: Long = 1000000000L): Map[Long, (Long, Long)] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    var hub = nodes.map(_ -> unit).toMap
    var auth = nodes.map(_ -> unit).toMap
    (1 to iters).foreach { _ =>
      val rawA = edges.groupBy(_._2).view.mapValues(_.map(e => hub(e._1)).sum).toMap
      val maxA = rawA.values.max
      auth = nodes.map(v =>
        v -> (BigInt(rawA.getOrElse(v, 0L)) * unit / maxA).toLong).toMap
      val rawH = edges.groupBy(_._1).view.mapValues(_.map(e => auth(e._2)).sum).toMap
      val maxH = rawH.values.max
      hub = nodes.map(v =>
        v -> (BigInt(rawH.getOrElse(v, 0L)) * unit / maxH).toLong).toMap
    }
    nodes.map(v => v -> (hub(v), auth(v))).toMap
  }

  private def collect(edges: Seq[(Long, Long)], iters: Int): Map[Long, (Long, Long)] =
    Hits.hubsAndAuthorities(edges.toDF("s", "t"), "s", "t", iters)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("matches the integer reference; hub/authority separation is visible") {
    // 1 and 2 are hubs pointing at authorities 3,4; 4 also points at 3
    val edges = Seq((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (4L, 3L))
    val got = collect(edges, 4)
    assert(got == reference(edges, 4))
    val (h1, a1) = got(1L); val (h3, a3) = got(3L)
    assert(h1 > h3, "pure hubs outrank the authority on the hub axis")
    assert(a3 > a1, "the authority outranks pure hubs on the authority axis")
    assert(a3 == 1000000000L, "max-normalization pins the top authority at unit")
  }

  test("bit-identical under repartitioning") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L))
    val a = Hits.hubsAndAuthorities(edges.toDF("s", "t").repartition(5), "s", "t", 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val b = Hits.hubsAndAuthorities(edges.toDF("s", "t").repartition(2), "s", "t", 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(a == b)
    assert(a == reference(edges, 6).toSeq.map { case (n, (h, x)) => (n, h, x) }.sorted)
  }

  test("nodes without in-edges get authority 0; without out-edges hub 0") {
    val got = collect(Seq((1L, 2L), (2L, 3L)), 3)
    assert(got(1L)._2 == 0L, "source-only node has no authority")
    assert(got(3L)._1 == 0L, "sink-only node has no hub score")
  }
}
