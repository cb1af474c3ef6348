package graft

/** The GraftSession configuration contract, asserted both as the contract
  * map and against the live shared test session, which [[SparkSpec]]
  * builds with [[GraftSession.local]]. */
class GraftSessionSpec extends SparkSpec {

  test("pins extensions, UTC, skew-join AQE, zstd, and caller-sized shuffles") {
    val c = GraftSession.configs(shufflePartitions = 64)
    assert(c("spark.sql.extensions") == "graft.functions.GraftExtensions")
    assert(Class.forName(c("spark.sql.extensions")) != null) // class actually exists
    assert(c("spark.sql.session.timeZone") == "UTC")
    assert(c("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(c("spark.sql.parquet.compression.codec") == "zstd")
    assert(c("spark.sql.shuffle.partitions") == "64")
    assert(c("spark.sql.codegen.cache.maxEntries") == "4096")
  }

  test("rejects a non-positive shuffle-partition count") {
    intercept[IllegalArgumentException] {
      GraftSession.builder("app", shufflePartitions = 0)
    }
    ()
  }

  test("the live session runs the contract: SQL extensions, zstd, UTC, checkpoint dir") {
    val dot = spark.sql(
      "SELECT float_vector_dot(CAST(array(1, 2) AS ARRAY<FLOAT>), " +
        "CAST(array(3, 4) AS ARRAY<FLOAT>)) AS d").head()
    assert(dot.getDouble(0) == 11.0)
    assert(spark.conf.get("spark.sql.parquet.compression.codec") == "zstd")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "131072")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096")
    // SparkContext applies spark.checkpoint.dir at start-up, under its own
    // per-application subdirectory
    val ckpt = spark.sparkContext.getCheckpointDir
    assert(ckpt.exists(_.contains(SparkSpec.checkpointDir)), s"checkpoint dir $ckpt")
  }

  test("local() runs on local[cpus] with the UI off") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
  }
}
