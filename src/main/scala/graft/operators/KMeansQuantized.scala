package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Integer-quantized Lloyd's k-means (public: Lloyd 1982) — the clustering
  * trainer behind IVF-style ANN indexes in its cross-engine-CHECKABLE
  * mode (the g1/g2 posture applied to clustering): coordinates quantized
  * to micro-units as longs, distances and centroid updates in exact
  * integer arithmetic, ties broken by cluster id, so any engine computes
  * identical centroids.
  *
  * Semantics per round: assign each point to the centroid minimizing the
  * exact integer squared distance (tie → lowest cid); new centroid
  * coordinate = sum div count (truncating division — Spark `div` and
  * DuckDB `//` both truncate toward zero); an empty cluster keeps its
  * previous coordinates. Seeding: the k smallest vec_ids, cid assigned in
  * id order — deterministic, no RNG.
  *
  * Scale shape: the per-round assignment is one broadcast join of the
  * (pos, v) long table against k·d centroid rows plus one aggregate;
  * driver state is the k·d centroid matrix per round (bounded by the
  * operator's contract that k·d is codebook-sized — NOT data-sized).
  * Overflow envelope: d·(2·max|q|)² and n·max|q| must fit a long —
  * micro-unit quantization holds to |v| ≤ ~3e3 and trillions of rows.
  */
object KMeansQuantized {

  /** Fit on (vec_id: long, q: array<long>) points; returns one row per
    * (cluster, dimension): (cluster_id int, pos long, centroid_q long,
    * n_points long). */
  def fit(points: DataFrame, k: Int, iterations: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(iterations >= 1, "iterations must be >= 1")
    val spark = points.sparkSession
    val pe = Reuse.materialize(points
      .select(col("vec_id"), posexplode(col("q")).as(Seq("pos", "v")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"), col("v")))

    // seed: the k smallest ids (bounded collect: k longs)
    val ids = points.select("vec_id").orderBy("vec_id").limit(k)
      .collect().map(_.getLong(0))
    require(ids.length == k, s"need at least $k points, got ${ids.length}")
    val cidOf = ids.zipWithIndex.toMap
    var cent: Map[(Int, Long), Long] = pe
      .filter(col("vec_id").isin(ids.map(Long.box): _*))
      .collect().map(r => (cidOf(r.getLong(0)), r.getLong(1)) -> r.getLong(2)).toMap
    var sizes: Map[Int, Long] = Map.empty

    var iter = 0
    while (iter < iterations) {
      val centDf = broadcast(spark.createDataFrame(
        cent.toSeq.map { case ((c, p), v) => (c, p, v) }).toDF("cid", "pos", "cval"))
      val assign = pe.join(centDf, "pos")
        .groupBy(col("vec_id"), col("cid"))
        .agg(sum((col("v") - col("cval")) * (col("v") - col("cval"))).as("d2"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("cid"))))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("cid"))
      val updated = pe.join(assign, "vec_id")
        .groupBy(col("cid"), col("pos"))
        .agg(expr("sum(v) div count(1)").as("cval"), count(lit(1)).as("cnt"))
        .collect() // bounded: k·d centroid rows to the driver per round
      val newCent = updated.map(r =>
        (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      sizes = updated.groupBy(_.getInt(0)).map { case (c, rs) => c -> rs.head.getLong(3) }
      // empty clusters keep their previous coordinates
      cent = cent.map { case (key, old) => key -> newCent.getOrElse(key, old) }
      iter += 1
    }
    Reuse.release(pe)
    val rows = cent.toSeq.map { case ((c, p), v) =>
      Row(c, p, v, sizes.getOrElse(c, 0L))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cluster_id",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("pos",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("centroid_q",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("n_points",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }
}
