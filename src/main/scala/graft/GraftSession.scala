package graft

import org.apache.spark.sql.SparkSession

/** Library entry point: a SparkSession builder preconfigured the way every
  * graft deployment should start, so `GraftSession.builder("app")
  * .master(...).getOrCreate()` is the one-liner between "cluster" and
  * "running the catalog". Every session in this repository starts here:
  * the single-JVM mains (Bench, Verify, the stream/corpus/skew benches,
  * Explain, JobsMain, ApiMain) and the test harness through [[local]], the
  * benchmark through [[builder]].
  *
  * What it pins, and why:
  *  - `spark.sql.extensions` → [[graft.functions.GraftExtensions]]: the
  *    native expressions (`float_vector_dot`, `word_shingles`,
  *    `minhash_signature`, `simhash_signature`) become SQL functions for
  *    pure-SQL clients, not only the Column API.
  *  - `spark.sql.session.timeZone=UTC`: every oracle-checked operator in
  *    this library derives timestamps tz-independently; pinning the
  *    session zone removes the one remaining way a deployment could skew
  *    date_trunc/window boundaries between clusters.
  *  - `spark.sql.adaptive.skewJoin.enabled=true` (explicit, though
  *    default-on in Spark 4): AQE skew splitting is the first line of
  *    defense for hot keys; `operators/Skew` is for the cases it can't
  *    fix.
  *  - `spark.sql.parquet.compression.codec=zstd`: at 100 TB the scan is
  *    IO-bound; zstd trades a little CPU for materially smaller files
  *    than the default snappy.
  *  - `spark.sql.shuffle.partitions`: caller-sized (default 200) — size
  *    it so a partition of your largest shuffle fits executor memory;
  *    AQE coalesces the small ones back down at runtime.
  *  - `spark.sql.codegen.cache.maxEntries=4096`: Spark's cache of
  *    Janino-compiled classes holds 100 by default, smaller than every
  *    working set here, so repeated query shapes were compiled again on
  *    almost every run. Measured distinct classes (4-core box): one cold
  *    pass of the 203-query catalog about 2,400 (2,347 at sf0.01, 2,377
  *    at sf0.1); an API server's set-up plus serving about 480; a finance
  *    set-up about 300 plus about 135 per orchestrator day. 4,096 holds
  *    all of them, and past it the cache still evicts the least recently
  *    used classes. The conf is static and JVM-global:
  *    `CodeGenerator` sizes its cache once, from the session active at its
  *    first use, so it must be in the contract, not set later.
  */
object GraftSession {

  /** Default home of `Reuse.materialize`'s files, set as
    * `spark.checkpoint.dir` by the contract (SparkContext applies it at
    * start-up). On a cluster, override with durable shared storage. Each
    * SparkContext gets its own UUID subdirectory under this path;
    * `Reuse.release` deletes a frame's files when its caller is done with
    * them, and a shutdown hook deletes the subdirectory with whatever is
    * left, so repeated runs don't accumulate files. */
  val DefaultCheckpointDir: String =
    s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft-checkpoints"

  /** The configuration contract, exposed for inspection/tests. */
  def configs(shufflePartitions: Int): Map[String, String] = Map(
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.parquet.compression.codec" -> "zstd",
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
    // Object-hash aggregates (BoundedLongCollect, collect_list, sketches)
    // fall back to SORT-based aggregation after 128 distinct keys per
    // partition by default — a full sort of the dedup shingle streams.
    // This engine's imperative buffers are structurally bounded
    // (BoundedLongCollect caps at 64 longs, sketches are fixed-size), so
    // 128k in-memory groups is tens of MB per partition; past that the
    // sort fallback still protects memory.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "131072",
    // Compiled-class cache sized to the measured working sets (scaladoc
    // above): at the default 100 a repeated shape is compiled again.
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    // Home of operators/Reuse.materialize's parquet files (every
    // multi-consumer intermediate and iterative round): on a cluster,
    // OVERRIDE this with durable shared storage (HDFS/object store) — an
    // executor-local or node-local path defeats the recoverability the
    // files exist for. The default keeps single-JVM runs working out of the
    // box. Reuse.release deletes a frame's files when its caller is done,
    // and a shutdown hook removes this app's subdirectory at exit.
    "spark.checkpoint.dir" -> DefaultCheckpointDir)

  def builder(appName: String, shufflePartitions: Int = 200): SparkSession.Builder = {
    require(shufflePartitions > 0, "shufflePartitions must be positive")
    configs(shufflePartitions).foldLeft(
      SparkSession.builder().appName(appName)) {
      case (b, (k, v)) => b.config(k, v)
    }
  }

  /** The contract on a single JVM: [[builder]] with `local[cpus]`, `cpus`
    * shuffle partitions and the web UI off. Returns the builder, so a
    * caller can still add its own confs (FAIR pools, a state-store
    * provider, another checkpoint dir) before `getOrCreate()`. */
  def local(appName: String, cpus: Int): SparkSession.Builder =
    builder(appName, cpus)
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
}
