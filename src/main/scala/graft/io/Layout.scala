package graft.io

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: Z-order (Morton) clustering.
  *
  * Partitioned writes (`DataFrameWriter.partitionBy`) prune on ONE
  * dimension and bucketing (`bucketBy`) co-locates ONE join key. When
  * scans filter on TWO independent columns (date × account, cell × shard),
  * sorting by either one scatters the other across every file. Interleaving
  * the bits of both keys (public technique: Morton 1966; the layout behind
  * Delta/Iceberg `OPTIMIZE ZORDER BY`) gives a single sort key whose
  * contiguous ranges are rectangles in key space — so parquet row-group
  * min/max stats stay TIGHT on BOTH columns and either predicate skips most
  * of the file, at the cost of neither being perfectly clustered.
  *
  * The interleave is a pure bitwise expression tree (shifts/masks/adds —
  * whole-stage codegen, no UDF), and the write is
  * `repartitionByRange(zkey).sortWithinPartitions(zkey)`: a range exchange
  * plus local sorts, never a single-partition global sort.
  */
object Layout {

  /** Morton interleave of the low `bits` bits of two non-negative integral
    * columns: bit i of `a` lands at position 2i, bit i of `b` at 2i+1.
    * Inputs are masked to `bits` (callers with wider domains quantize
    * first — rank/bucket to a bounded grid, exactly like any Z-order
    * implementation). */
  def zorder2(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    // bit extraction via AND 1, not `% 2`: the remainder of a negative long
    // is negative, which would corrupt the key for any negative input —
    // AND keeps every term in {0, 1} whatever the sign
    val terms = (0 until bits).flatMap { i =>
      Seq(
        shiftleft(shiftrightunsigned(a.cast("long"), i).bitwiseAND(lit(1L)), 2 * i),
        shiftleft(shiftrightunsigned(b.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
    terms.reduce(_ + _)
  }

  /** Write `df` Z-clustered on two columns: range-partition then locally
    * sort by the interleaved key, so each output file covers a rectangle
    * of (c1, c2) space and row-group stats prune on either column. */
  def writeZOrdered(
      df: DataFrame, path: String, c1: String, c2: String,
      bits: Int = 16, numFiles: Int = 0): Unit = {
    require(!df.columns.contains("_zkey"),
      "input already has a column named _zkey; rename it first " +
        "(it would be silently overwritten and dropped)")
    val zkey = zorder2(col(c1), col(c2), bits).as("_zkey")
    val keyed = df.withColumn("_zkey", zkey)
    val ranged =
      if (numFiles > 0) keyed.repartitionByRange(numFiles, col("_zkey"))
      else keyed.repartitionByRange(col("_zkey"))
    ranged.sortWithinPartitions(col("_zkey"))
      .drop("_zkey")
      .write.mode("overwrite").parquet(path)
  }

  /** The skipping index a Z-layout produces, made explicit: per-file
    * row count and min/max bounding box in BOTH quantized dimensions
    * (`file_id` = the top `fileBits` bits of the 2×8-bit Morton key, i.e.
    * a contiguous key range ≙ one output file of `writeZOrdered`). This is
    * what parquet's ordinary per-file column stats BECOME under the
    * layout — computing it directly is what makes the layout auditable
    * cross-engine (catalog entry `x15_zorder_layout`). One 64-group
    * partial-aggregated exchange; the morton key itself is map-only
    * codegen. */
  def fileStats(df: DataFrame, xCol: Column, yCol: Column, fileBits: Int): DataFrame = {
    require(fileBits >= 1 && fileBits <= 16, s"fileBits must be in [1,16], got $fileBits")
    val fid = shiftright(zorder2(xCol, yCol, 8), 16 - fileBits).cast("long").as("file_id")
    df.select(fid, xCol.cast("long").as("xq"), yCol.cast("long").as("yq"))
      .groupBy(col("file_id"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("xq")).as("min_x"), max(col("xq")).as("max_x"),
        min(col("yq")).as("min_y"), max(col("yq")).as("max_y"))
  }

  /** Does a file's [[fileStats]] bounding box overlap the query rectangle
    * [x0,x1]×[y0,y1]? False = a scan with both range predicates skips the
    * whole file. */
  def needsRead(x0: Int, x1: Int, y0: Int, y1: Int): Column =
    !(col("max_x") < x0 || col("min_x") > x1 ||
      col("max_y") < y0 || col("min_y") > y1)
}
