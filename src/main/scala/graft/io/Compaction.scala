package graft.io

/** Small-file compaction planning — the steady-state ops problem of every
  * incremental lake layout: append-shaped writers (TableStore.appendNew,
  * streaming sinks) accrete files far below the scan-efficient size, and
  * each one costs a task, a footer read, and scheduler pressure; at 100 TB
  * a table can rot into millions of KB-files that make scans
  * metadata-bound. Compaction rewrites many small files into few
  * target-sized ones without changing a row; this object plans which files
  * share an output file.
  */
object Compaction {

  /** Bin-pack planning for when the file listing is itself big data: a
    * lake catalog's metadata table (Iceberg's `files`, a Delta log
    * checkpoint) lists MILLIONS of files across thousands of table
    * partitions — planning that on the driver is the collect()
    * anti-pattern. This form plans in the engine: within each table
    * partition (bins must never span partitions — a cross-partition output
    * file would break partition pruning), order files by (size DESC,
    * file_id) and cut the running total at the target: `bin =
    * cum_before div target` — sorted-fill, the planner approximation real
    * systems use (a bin can overflow by at most one file; exact packing is
    * NP-hard) in a single window pass with no per-bin driver state.
    * Oversize files land in sparse singleton bins. Both windows partition
    * by the table partition (+bin), so sorts are bounded by
    * files-per-partition, never the listing.
    *
    * @return input columns + `bin` (0-based within partition, possibly
    *         sparse), `bin_bytes`, `n_files_in_bin`
    */
  def planBins(files: org.apache.spark.sql.DataFrame,
               partCol: org.apache.spark.sql.Column,
               fileId: org.apache.spark.sql.Column,
               sizeCol: org.apache.spark.sql.Column,
               target: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    require(target > 0, "target must be positive")
    val fill = Window.partitionBy(partCol)
      .orderBy(sizeCol.desc, fileId)
      .rowsBetween(Window.unboundedPreceding, -1)
    // integral `div`, not `/`: double division then cast is exact for these
    // magnitudes but the repo posture keeps cross-engine-hashed integers in
    // integer arithmetic end to end (`div` ≡ DuckDB `//` on non-negatives)
    val binned = files
      .withColumn("cum_before", coalesce(sum(sizeCol).over(fill), lit(0L)))
      .withColumn("bin", org.apache.spark.sql.functions.expr(s"cum_before div ${target}L"))
      .drop("cum_before")
    val perBin = Window.partitionBy(partCol, col("bin"))
    binned
      .withColumn("bin_bytes", sum(sizeCol).over(perBin))
      .withColumn("n_files_in_bin", count(lit(1)).over(perBin))
  }
}
