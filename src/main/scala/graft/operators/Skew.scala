package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation operators for hot keys (SURVEY §4, builder north star).
  *
  * AQE's skew-join handling (on by default in Spark 4) re-splits oversized
  * partitions at runtime and is the first line of defense; these explicit
  * operators are for the cases AQE cannot fix: a broadcast-ineligible
  * dimension joined on a pathological key, and high-cardinality DISTINCT
  * aggregation concentrated on few groups.
  */
object Skew {

  /** Salted equi-join for a skewed fact against a non-broadcastable (but
    * replicable) dimension: the fact side gets a deterministic salt in
    * [0, buckets) derived from `saltBy` (any roughly-unique column — a row
    * id, an event id), the dimension side is replicated once per bucket,
    * and the join key becomes (keys..., salt) — a hot key's rows spread
    * over `buckets` reducers instead of one.
    *
    * Result equals the unsalted inner join exactly (the salt is dropped).
    */
  def saltedJoin(
      fact: DataFrame,
      dim: DataFrame,
      keys: Seq[String],
      saltBy: Column,
      buckets: Int = 16): DataFrame = {
    require(buckets > 0)
    val salted = fact.withColumn("_salt", pmod(xxhash64(saltBy), lit(buckets)).cast("int"))
    val replicated = dim.withColumn("_salt",
      explode(sequence(lit(0), lit(buckets - 1))))
    salted.join(replicated, keys :+ "_salt").drop("_salt")
  }

  /** Hot-key-targeted salted join: salt ONLY the keys that are actually
    * heavy, join everything else plain. `saltedJoin` pays `buckets`×
    * replication of the ENTIRE dimension even when one key in a million is
    * hot (measured on a 90%-hot-key 8x fan-out join, salting the whole
    * dimension lost to AQE's targeted skew split);
    * this form detects heavy hitters with one exact per-key count over the
    * fact (map-side combined — only |distinct keys| rows shuffle), salts
    * ONLY hot-key rows with the dimension replicated for the HOT KEYS
    * ONLY, and lets cold keys ride the same join unsalted (salt 0 on both
    * sides).
    *
    * The result equals the plain inner join exactly: a cold key pairs the
    * same rows at the shared salt 0, and a hot fact row meets each of its
    * dim rows exactly once — at the one salt the fact row drew, because the
    * dim copy is replicated across ALL salts. Detection is exact, so the
    * routing — and the result — is deterministic.
    *
    * At 100 TB: heavy hitters are by definition few (at most
    * |fact|/threshold of them), so the hot-key set broadcasts; the extra
    * cost over a plain join is one map-side-combined count of the fact and
    * `buckets` copies of the hot slice of the dimension. Use this over
    * [[saltedJoin]] whenever the dimension is large relative to its hot
    * slice; use AQE's skew split instead whenever both join sides reach the
    * join through shuffle exchanges (it replicates even less).
    */
  def saltedJoinHot(
      fact: DataFrame,
      dim: DataFrame,
      keys: Seq[String],
      saltBy: Column,
      buckets: Int = 16,
      hotRowThreshold: Long = 4000000L): DataFrame = {
    require(buckets > 0 && hotRowThreshold > 0)
    val hotKeys = fact.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("_hot_n"))
      .filter(col("_hot_n") > hotRowThreshold)
      .select(keys.map(col): _*)
      .withColumn("_hot", lit(true))
    // Single-scan routing (not semi/anti splitting, which re-scans the fact
    // per arm): each side takes ONE broadcast left-outer against the hot-key
    // set to learn its salt — a hot fact row salts into [0, buckets), a cold
    // one takes salt 0; a hot dim row explodes to every salt, a cold one
    // keeps only salt 0 — then ONE equi-join on (keys..., salt) carries both
    // regimes. The two broadcasts share one exchange (identical subtrees →
    // ReuseExchange), so the fact is scanned exactly twice total: once for
    // detection, once for the join.
    val salted = fact.join(broadcast(hotKeys), keys, "left_outer")
      .withColumn("_salt",
        when(col("_hot"), pmod(xxhash64(saltBy), lit(buckets)).cast("int"))
          .otherwise(lit(0)))
      .drop("_hot")
    val replicated = dim.join(broadcast(hotKeys), keys, "left_outer")
      .withColumn("_salt", explode(
        when(col("_hot"), sequence(lit(0), lit(buckets - 1)))
          .otherwise(sequence(lit(0), lit(0)))))
      .drop("_hot")
    salted.join(replicated, keys :+ "_salt").drop("_salt")
  }

  /** Two-phase distinct aggregation: `groupBy(keys, value).count` first
    * (spreads a hot group's distinct values over many reducers, map-side
    * combined), then `groupBy(keys).count` — equivalent to
    * `countDistinct(value)` but without funneling every occurrence of a
    * hot key through one reducer. */
  def distinctCountSkewAware(
      df: DataFrame,
      keys: Seq[String],
      value: String,
      out: String = "n_distinct"): DataFrame =
    df.select((keys :+ value).map(col): _*)
      .groupBy((keys :+ value).map(col): _*).agg(lit(1))
      // count(col) skips the NULL distinct row, matching countDistinct's
      // NULL handling while keeping all-NULL groups present with 0
      .groupBy(keys.map(col): _*).agg(count(col(value)).as(out))
}
