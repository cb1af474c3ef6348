package graft.io

import org.apache.spark.sql.functions._
import graft.SparkSpec

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("zorder2 interleaves bits: a at even positions, b at odd") {
    val rows = Seq((3L, 0L), (0L, 3L), (1L, 1L), (2L, 1L), (65535L, 65535L))
      .toDF("a", "b")
      .select(Layout.zorder2(col("a"), col("b")).as("z"))
      .collect().map(_.getLong(0))
    // a=0b11 -> bits 0,2 = 5; b=0b11 -> bits 1,3 = 10; (1,1) -> 3;
    // (2,1): a bit1->pos2 (4) + b bit0->pos1 (2) = 6; 16-bit max -> 2^32-1
    assert(rows.toSeq == Seq(5L, 10L, 3L, 6L, 4294967295L))
  }

  test("zorder2 masks negative inputs to their low bits instead of corrupting the key") {
    // -1 = ...1111: low 2 bits are 11 -> same interleave as (3, 0)
    val z = Seq((-1L, 0L)).toDF("a", "b")
      .select(Layout.zorder2(col("a"), col("b"), 2).as("z"))
      .head.getLong(0)
    assert(z == 5L)
  }

  test("zorder2 is monotone within a row/column of the grid") {
    // along a fixed b, increasing a must increase z (prefix bits agree)
    val z = (0 until 64)
      .map(a => (a.toLong, 7L)).toDF("a", "b")
      .select(Layout.zorder2(col("a"), col("b"), 6).as("z"))
      .collect().map(_.getLong(0))
    assert(z.sameElements(z.sorted))
  }

  test("z-clustering keeps both dimensions prunable where linear sort loses one") {
    // 64x64 grid; measure how many 256-row consecutive blocks a band
    // predicate on the SECOND column touches under each layout — a proxy
    // for parquet row-group min/max pruning
    val grid = (for { x <- 0 until 64; y <- 0 until 64 } yield (x, y))
      .toDF("x", "y")
    def blocksTouched(sorted: org.apache.spark.sql.DataFrame): Long = {
      val indexed = sorted.coalesce(1)
        .withColumn("pos",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("_k"))) - 1)
        .withColumn("block", floor(col("pos") / 256))
      indexed.filter(col("y").between(8, 15))
        .select(col("block")).distinct().count()
    }
    val byX = grid.withColumn("_k", col("x") * 64 + col("y"))
    val byZ = grid.withColumn("_k", Layout.zorder2(col("x"), col("y"), 6))
    val linear = blocksTouched(byX)
    val zorder = blocksTouched(byZ)
    // x-major sort scatters a y-band across every x block (all 16);
    // z-order confines it to the blocks of 4 grid rectangles
    assert(linear == 16, s"x-major should touch all 16 blocks, got $linear")
    assert(zorder <= 8, s"z-order should touch at most half the blocks, got $zorder")
  }

  test("fileStats: every 64th of the full 8-bit grid is a tight 32x32 box; 2-D query reads 2 files vs 16 date-sorted") {
    // morton>>10 keeps bits 15..10 = y7 x7 y6 x6 y5 x5: each file id is one
    // 32x32 spatial block — boxes must be exactly that block (tight in
    // BOTH dims, the whole point of the layout)
    val grid = (for (x <- 0 until 256; y <- 0 until 256) yield (x.toLong, y.toLong))
      .toDF("xq", "yq")
    val stats = Layout.fileStats(grid, col("xq"), col("yq"), fileBits = 6).collect()
    assert(stats.length == 64)
    stats.foreach { r =>
      assert(r.getLong(1) == 1024L, s"file ${r.getLong(0)} n_rows")
      assert(r.getLong(3) - r.getLong(2) == 31L, s"file ${r.getLong(0)} x extent")
      assert(r.getLong(5) - r.getLong(4) == 31L, s"file ${r.getLong(0)} y extent")
      assert(r.getLong(2) % 32 == 0 && r.getLong(4) % 32 == 0)
    }
    // query rectangle xq in [64,127], yq in [32,63] — 1/4 of x, 1/8 of y.
    // Z-layout: only the 32x32 blocks overlapping it need reading =
    // (2 x-blocks) x (1 y-block) = 2 of 64 files.
    val z = Layout.fileStats(grid, col("xq"), col("yq"), fileBits = 6)
      .withColumn("needs_read", Layout.needsRead(64, 127, 32, 63))
    val zRead = z.filter(col("needs_read")).count()
    assert(zRead == 2)
    // the 1-D alternative: same data sorted by xq only into the same 64
    // files (4 consecutive xq columns each) — every file's yq box is
    // full-range, the yq predicate skips nothing, and all 16 files
    // overlapping the x range must be read: 8x the z-layout's I/O
    val linear = grid
      .select(expr("xq div 4").as("file_id"), col("xq"), col("yq"))
      .groupBy("file_id")
      .agg(min("xq").as("min_x"), max("xq").as("max_x"),
        min("yq").as("min_y"), max("yq").as("max_y"))
      .withColumn("needs_read", Layout.needsRead(64, 127, 32, 63))
    assert(linear.filter(col("min_y") === 0 && col("max_y") === 255).count() == 64,
      "date-sorted files carry useless full-range boxes in the other dimension")
    val linRead = linear.filter(col("needs_read")).count()
    assert(linRead == 16 && zRead * 8 == linRead)
  }
}
