package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the driver-generated corpus (/root/repo/TESTDATA.md).
  *
  * Every table is a single parquet file under `sfDir`. Readers go through
  * `spark.read.parquet` so Catalyst gets full pushdown/pruning; schemas are
  * whatever the files declare (the driver owns them, see TESTDATA.md).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Every fixture read goes through [[SchemaMemo]], the schema memo shared
    * with the finance warehouse: a file's footer is inferred once per file
    * generation, not once per reader call. */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    require(names.contains(name), s"unknown table $name")
    if (name == "events") {
      // The driver has shipped events.ts under two parquet encodings:
      // TIMESTAMP(NANOS, isAdjustedToUTC=false) — which Spark 4 refuses by
      // default — and plain timestamp[us]. The fixtures are regenerated
      // outside our control, so branch on the schema the file actually
      // declares instead of assuming either encoding.
      //
      // The nanosAsLong conf is the only way to open NANOS parquet (no
      // per-read option exists); it only changes how NANOS columns are typed,
      // so setting it unconditionally is harmless for µs fixtures, and it
      // must be set before the read plans its schema. Under it a NANOS column
      // arrives as LongType → integer-divide raw nanos to a µs TIMESTAMP_NTZ,
      // epoch-anchored so the NTZ value is independent of
      // spark.sql.session.timeZone. A µs column already arrives as a
      // timestamp type (NTZ for isAdjustedToUTC=false) → pass through.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = SchemaMemo.read(spark, s"$sfDir/$name.parquet")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts",
            org.apache.spark.sql.functions.expr(
              "timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"))
        case _ => df
      }
    } else SchemaMemo.read(spark, s"$sfDir/$name.parquet")
  }

  /** `documents` fanned out to one partition per core BEFORE the CPU-heavy
    * per-row stages (tokenize / shingle / hash). The fixtures are
    * single-row-group parquet, so the raw scan is ONE task no matter the
    * split config — without this, a 32-core run tokenizes on one core. The
    * exchanged payload is just the raw text (~MBs), trivially cheap next to
    * the 32× map parallelism it buys; on a many-file production corpus the
    * same repartition is how you decouple map parallelism from file layout. */
  def documentsFanned(spark: SparkSession, sfDir: String): DataFrame =
    documents(spark, sfDir).repartition(spark.sparkContext.defaultParallelism)

  /** Upper bound on the scan parallelism a table's FILE LAYOUT allows,
    * memoized per path: max(file count, ceil(bytes / maxPartitionBytes)).
    * A single file smaller than one split is exactly one task whatever its
    * row-group layout; many files (the production shape) parallelize on
    * their own. Listing is metadata-sized and memoized — never per-row. */
  private val splitBoundCache = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  private def scanSplitBound(spark: SparkSession, path: String): Long =
    splitBoundCache.computeIfAbsent(path, p => {
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
      val files = fs.listStatus(hp).filter(_.isFile)
      val nFiles = math.max(1L, files.length.toLong)
      val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
      val splitEst = files.map(f => (f.getLen + maxSplit - 1) / maxSplit).sum
      math.max(nFiles, splitEst)
    })

  /** Scale-adaptive fan-out for CPU-heavy map work over a fact scan
    * (round-16 optimization, guide §2.5 "input skew: one huge unsplittable
    * file ... repartition immediately after the read"): when the file
    * layout caps scan parallelism below the cluster's cores (the
    * single-row-group fixture case — measured: x13's 1.2M md5 calls ran on
    * ONE core for 1.1 s), exchange the projected rows once and run the map
    * stage wide. When the layout already parallelizes (many files / large
    * splittable files — the 100 TB production shape), this is a NO-OP: no
    * exchange is added, the scan's own parallelism is the right answer.
    * Call it on the PROJECTED frame (after select/filter) so only needed
    * columns ride the exchange. */
  def fanIfNarrow(spark: SparkSession, sfDir: String, name: String)(
      df: DataFrame): DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    if (scanSplitBound(spark, s"$sfDir/$name.parquet") * 2 < par)
      df.repartition(par)
    else df
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "region")
  def events(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "events")
  def documents(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "embeddings")
}
