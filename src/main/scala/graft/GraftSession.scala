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
  */
object GraftSession {

  /** Default reliable-checkpoint home, set as `spark.checkpoint.dir` by the
    * contract (SparkContext applies it at start-up), so every session
    * built here checkpoints under one home. On a cluster, override with
    * durable shared storage. Each SparkContext checkpoints into its own
    * UUID subdirectory under this path; `Reuse.materialize` registers a
    * shutdown hook that deletes that subdirectory so repeated runs don't
    * accumulate checkpoint blocks. */
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
    // Reliable-checkpoint home for operators/Reuse.materialize (g6's edge
    // reuse, and any multi-consumer intermediate): on a cluster, OVERRIDE
    // this with durable shared storage (HDFS/object store) — an
    // executor-local or node-local path defeats the recoverability the
    // reliable path exists for. The default keeps single-JVM runs working
    // out of the box; disk lifecycle is two-tier — the cleaner drops files
    // for frames that get garbage-collected mid-session, and
    // Reuse.materialize's shutdown hook removes this app's checkpoint
    // subdirectory at exit (session-lifetime caches hold strong
    // references, so the cleaner alone never fires for them).
    "spark.checkpoint.dir" -> DefaultCheckpointDir,
    "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true")

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
