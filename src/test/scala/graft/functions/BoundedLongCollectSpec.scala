package graft.functions

import graft.SparkSpec

/** Edge cases of the doc-frequency-bounded list aggregate that the generic
  * boundedDocLists property check (DedupBucketsCheck) cannot pin down:
  * the hot-key counter degeneration, the partial-merge/serde path under
  * many partitions, and collect_list-compatible null skipping.
  */
class BoundedLongCollectSpec extends SparkSpec {

  import spark.implicits._

  private def collect(pairs: Seq[(String, java.lang.Long)], cap: Int, parts: Int = 1) = {
    val df0 = pairs.toDF("k", "v")
    val df = if (parts > 1) df0.repartition(parts) else df0
    df.groupBy($"k")
      .agg(BoundedLongCollect($"v", cap).as("docs"))
      .collect()
      .map(r => r.getString(0) -> Option(r.getSeq[Long](1)).map(_.toList))
      .toMap
  }

  test("groups within [2, cap] get the sorted list; outside get NULL") {
    val rows = Seq[(String, java.lang.Long)](
      ("solo", 1L),
      ("pair", 9L), ("pair", 3L),
      ("hot", 1L), ("hot", 2L), ("hot", 3L), ("hot", 4L), ("hot", 5L))
    val got = collect(rows, cap = 4)
    assert(got("solo").isEmpty)                     // count 1 < 2 -> NULL
    assert(got("pair").contains(List(3L, 9L)))      // sorted ascending
    assert(got("hot").isEmpty)                      // count 5 > cap 4 -> NULL
  }

  test("a group at exactly cap survives; cap+1 does not") {
    val at = (1 to 4).map(i => ("k", java.lang.Long.valueOf(i.toLong)))
    assert(collect(at, cap = 4)("k").contains(List(1L, 2L, 3L, 4L)))
    val over = (1 to 5).map(i => ("k", java.lang.Long.valueOf(i.toLong)))
    assert(collect(over, cap = 4)("k").isEmpty)
  }

  test("partial merges across many partitions equal the single-partition result") {
    // 40 keys x (2..70) docs across 16 partitions: every partial holds a
    // fragment, so merge() and serialize()/deserialize() are on the path
    // (local hash aggregation produces per-partition partials that the
    // final aggregate merges after the exchange).
    val rng = new scala.util.Random(7)
    val rows = for {
      k <- (0 until 40).map(i => s"k$i")
      n = 2 + rng.nextInt(69)
      d <- 0 until n
    } yield (k, java.lang.Long.valueOf(d.toLong))
    val one = collect(rows, cap = 64, parts = 1)
    val many = collect(rows, cap = 64, parts = 16)
    assert(one == many)
    // past-cap groups are NULL in both; within-cap lists arrive sorted
    assert(many.valuesIterator.flatten.forall(l => l == l.sorted && l.size <= 64))
  }

  test("a hot key far past the cap yields NULL, never a partial list") {
    val rows = (0 until 10000).map(i => ("boiler", java.lang.Long.valueOf(i.toLong))) ++
      Seq(("ok", java.lang.Long.valueOf(1L)), ("ok", java.lang.Long.valueOf(2L)))
    val got = collect(rows, cap = 64, parts = 8)
    assert(got("boiler").isEmpty)
    assert(got("ok").contains(List(1L, 2L)))
  }

  test("null inputs are skipped like collect_list") {
    val rows = Seq[(String, java.lang.Long)](
      ("k", 5L), ("k", null), ("k", 1L))
    assert(collect(rows, cap = 8)("k").contains(List(1L, 5L)))
  }

  test("non-bigint input is an analysis-time type error") {
    val df = Seq(("k", "not-a-long")).toDF("k", "v")
    val e = intercept[Exception] {
      df.groupBy($"k").agg(BoundedLongCollect($"v", 8).as("d")).collect()
    }
    assert(e.getMessage.toLowerCase.contains("bigint") ||
      e.getMessage.toLowerCase.contains("type"))
  }
}
