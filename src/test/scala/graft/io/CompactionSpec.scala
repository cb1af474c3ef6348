package graft.io

import graft.SparkSpec

class CompactionSpec extends SparkSpec {
  import spark.implicits._

  private def bins(rows: Seq[(String, String, Long)], target: Long) = {
    import org.apache.spark.sql.functions.col
    Compaction.planBins(rows.toDF("part", "file_id", "size_bytes"),
      col("part"), col("file_id"), col("size_bytes"), target)
      .collect()
      .map(r => r.getString(1) -> ((r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap // file_id -> (bin, bin_bytes, n_files_in_bin)
  }

  test("planBins: sorted-fill cuts the size-desc running total at the target") {
    // desc order: f10(cum 0 -> bin 0), f9(cum 10 -> bin 0, overflow by one
    // file as documented), f2(cum 19 -> bin 1), f1(cum 21 -> bin 1)
    val out = bins(Seq(
      ("a", "f10", 10L), ("a", "f9", 9L), ("a", "f2", 2L), ("a", "f1", 1L)),
      target = 12L)
    assert(out("f10") == ((0L, 19L, 2L)) && out("f9") == ((0L, 19L, 2L)))
    assert(out("f2") == ((1L, 3L, 2L)) && out("f1") == ((1L, 3L, 2L)))
  }

  test("planBins: oversize files become their own (sparse-id) bins") {
    val out = bins(Seq(("a", "big", 30L), ("a", "small", 5L)), target = 12L)
    assert(out("big") == ((0L, 30L, 1L)))
    assert(out("small")._1 == 2L && out("small")._2 == 5L) // cum 30 div 12
  }

  test("planBins: bins never span partitions") {
    val out = bins(Seq(
      ("a", "a1", 8L), ("a", "a2", 8L), ("b", "b1", 8L), ("b", "b2", 8L)),
      target = 20L)
    // both partitions independently fill bin 0; totals stay per-partition
    assert(out.values.forall(_ == ((0L, 16L, 2L))))
  }

  test("planBins: the sorted-fill bound holds — bin_bytes < target + largest file in bin") {
    import org.apache.spark.sql.functions._
    val target = 1000L
    val files = (1 to 200).map(i =>
      ("p" + (i % 3), f"f$i%03d", ((i * 137) % 900 + 50).toLong))
    val out = Compaction.planBins(files.toDF("part", "file_id", "size_bytes"),
      col("part"), col("file_id"), col("size_bytes"), target)
    val bad = out.groupBy(col("part"), col("bin"))
      .agg(max(col("size_bytes")).as("max_f"), max(col("bin_bytes")).as("bb"))
      .filter(col("bb") >= lit(target) + col("max_f"))
    assert(bad.isEmpty, "a bin exceeded target + its largest file")
    // and every file appears exactly once
    assert(out.count() == 200 && out.select("file_id").distinct().count() == 200)
  }
}
