package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class AnnIndexSpec extends SparkSpec {
  import spark.implicits._

  /** 8 well-separated clusters of 40 vectors each in 16 dims. */
  private lazy val corpus = {
    val rng = new scala.util.Random(5)
    val centers = Array.fill(8)(Array.fill(16)(rng.nextFloat() * 10 - 5))
    (0 until 320).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(v => v + rng.nextFloat() * 0.5f - 0.25f))
    }.toDF("vec_id", "embedding")
  }

  test("index assigns every row a cell; cells roughly partition the clusters") {
    val idx = AnnIndex.build(corpus, "embedding", nCells = 8, seed = 42L)
    assert(idx.indexed.count() == 320)
    assert(idx.indexed.select("cell").distinct().count() == 8)
  }

  test("nProbe search reaches high recall vs brute force on clustered data") {
    val idx = AnnIndex.build(corpus, "embedding", nCells = 8, seed = 42L)
    val queries = corpus.filter(col("vec_id") < 8)

    val exact = AnnOracle.bruteForceTopK(corpus, queries, "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val approx = AnnIndex.searchTopK(idx, queries, "vec_id", "embedding", k = 10, nProbe = 2)
      .select("query_id", "neighbor_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap

    assert(approx.keySet == exact.keySet)
    // keys is a Set — map to a Seq BEFORE summing, or equal per-query
    // recalls collapse to one element
    val recall = approx.keys.toSeq.map { q =>
      (approx(q) intersect exact(q)).size.toDouble / exact(q).size
    }.sum / approx.size
    assert(recall >= 0.8, s"recall $recall")
    // and each query returned exactly k
    assert(approx.values.forall(_.size == 10))
  }

  test("recall@10 curve is monotone in nProbe and saturates on clustered data") {
    // recall is monotone BY CONSTRUCTION (a true top-10 member in the
    // candidate set is never pushed below rank 10 — at most 9 corpus
    // vectors score above it), so a non-monotone curve means the probe
    // ranking or candidate pruning broke; the s12 catalog entry emits the
    // same curve oracle-hashed, this gates the real-KMeans operator form.
    val idx = AnnIndex.build(corpus, "embedding", nCells = 8, seed = 42L)
    val queries = corpus.filter(col("vec_id") < 8)
    val exact = AnnOracle.bruteForceTopK(corpus, queries, "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val curve = Seq(1, 2, 4).map { np =>
      val approx = AnnIndex.searchTopK(idx, queries, "vec_id", "embedding", k = 10, nProbe = np)
        .select("query_id", "neighbor_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      val r = exact.keys.toSeq.map { q =>
        (approx.getOrElse(q, Set.empty) intersect exact(q)).size.toDouble / exact(q).size
      }.sum / exact.size
      np -> r
    }
    val recalls = curve.map(_._2)
    assert(recalls == recalls.sorted, s"recall must be monotone in nProbe: $curve")
    assert(recalls.last >= 0.9, s"nProbe=4 on 8 well-separated clusters must near-saturate: $curve")
    assert(recalls.head > 0.0, s"nProbe=1 must find the home cell's neighbors: $curve")
  }

  test("partitioned round-trip + static cell prune return the same neighbors") {
    val idx = AnnIndex.build(corpus, "embedding", nCells = 8, seed = 42L)
    val dir = java.nio.file.Files.createTempDirectory("ann_idx").toString
    try {
      AnnIndex.writePartitioned(idx, dir)
      // cell really is the parquet partition key: one directory per cell
      val cellDirs = new java.io.File(dir).listFiles().filter(_.getName.startsWith("cell="))
      assert(cellDirs.length == 8)

      val reopened = AnnIndex.loadPartitioned(spark, idx.model, dir)
      val queries = corpus.filter(col("vec_id") < 8)
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.select("query_id", "neighbor_id", "rank")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

      val base = pairs(AnnIndex.searchTopK(idx, queries, "vec_id", "embedding", k = 5, nProbe = 2))
      val fromDisk = pairs(AnnIndex.searchTopK(reopened, queries, "vec_id", "embedding", k = 5, nProbe = 2))
      val pruned = pairs(AnnIndex.searchTopK(reopened, queries, "vec_id", "embedding",
        k = 5, nProbe = 2, staticCellPrune = true))
      assert(fromDisk == base)
      assert(pruned == base)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }
}
