package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PqIndexSpec extends SparkSpec {
  import spark.implicits._

  /** 8 well-separated clusters of 40 vectors in 16 dims (the AnnIndexSpec
    * geometry — PQ must at least preserve cluster structure). */
  private lazy val corpus = {
    val rng = new scala.util.Random(5)
    val centers = Array.fill(8)(Array.fill(16)(rng.nextFloat() * 10 - 5))
    (0 until 320).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(v => v + rng.nextFloat() * 0.5f - 0.25f))
    }.toDF("vec_id", "embedding")
  }

  private lazy val cb = PqIndex.fit(corpus, "embedding", dim = 16, nSub = 4, nCodes = 16)

  test("fit produces nSub codebooks of nCodes centers with subDim dims") {
    assert(cb.nSub == 4 && cb.subDim == 4 && cb.nCodes == 16)
    assert(cb.centers.forall(_.forall(_.length == 4)))
  }

  test("encode emits nSub bytes per vector — 16x compression here, deterministic") {
    val enc = PqIndex.encode(cb, corpus, "vec_id", "embedding")
    assert(enc.count() == 320)
    val sizes = enc.select(length(col("codes"))).distinct().collect().map(_.getInt(0))
    assert(sizes.toSeq == Seq(4)) // 16 floats (64 B) -> 4 B
    // deterministic: encoding twice is byte-identical
    val a = enc.orderBy("vec_id").collect().map(_.getAs[Array[Byte]]("codes").toSeq)
    val b = PqIndex.encode(cb, corpus, "vec_id", "embedding")
      .orderBy("vec_id").collect().map(_.getAs[Array[Byte]]("codes").toSeq)
    assert(a.sameElements(b))
  }

  test("same-cluster vectors share codes far more often than cross-cluster") {
    val enc = PqIndex.encode(cb, corpus, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    def agree(x: Long, y: Long): Int =
      enc(x).zip(enc(y)).count { case (p, q) => p == q }
    // rows i and i+8 are in the same cluster; i and i+1 are not
    val same = (0L until 64L).map(i => agree(i, i + 8)).sum
    val cross = (0L until 64L).map(i => agree(i, i + 1)).sum
    assert(same > cross * 2, s"same-cluster agreement $same vs cross $cross")
  }

  test("ADC shortlist + exact rescore reaches high recall vs brute force") {
    val enc = PqIndex.encode(cb, corpus, "vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 8)
    val exact = AnnOracle.bruteForceTopK(corpus, queries, "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val pq = PqIndex.searchTopK(cb, enc, corpus, queries, "vec_id", "embedding",
        k = 10, shortlist = 64)
      .select("query_id", "neighbor_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(pq.keySet == exact.keySet)
    val recall = pq.keys.toSeq.map { q =>
      (pq(q) intersect exact(q)).size.toDouble / exact(q).size
    }.sum / pq.size
    assert(recall >= 0.8, s"recall $recall")
    assert(pq.values.forall(_.size == 10))
  }

  test("IVF-PQ composition: ADC search over only the probed cells keeps recall") {
    // the production stack: AnnIndex cells prune the corpus, PQ codes rank
    // inside the probed cells — search state is cells + codes, never the
    // full float vectors
    val idx = AnnIndex.build(corpus, "embedding", nCells = 8, seed = 42L)
    val enc = PqIndex.encode(cb, idx.indexed, "vec_id", "embedding")
      .join(idx.indexed.select("vec_id", "cell"), "vec_id")
    // two queries from two clusters — probing must NOT touch all 8 cells
    val queries = corpus.filter(col("vec_id") < 2)
    // probe each query's 2 nearest CELLS (distance to the IVF centers),
    // then restrict the encoded corpus to those cells before ADC — real
    // cell-level pruning, not a restriction to some precomputed answer set
    val qVecs = queries.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    val probedCells = qVecs.flatMap { case (_, v) =>
      idx.model.clusterCenters.zipWithIndex.map { case (c, i) =>
        val ca = c.toArray
        (i, v.indices.map(j => { val d = v(j) - ca(j); d * d }).sum)
      }.sortBy(_._2).take(2).map(_._1)
    }.toSet
    assert(probedCells.size < 8, "2 clustered queries must not probe every cell")
    val pruned = enc.filter(col("cell").isin(probedCells.toSeq: _*))
    assert(pruned.count() < 320, "probing must prune some cells")
    val pq = PqIndex.searchTopK(cb, pruned, corpus, queries, "vec_id", "embedding",
        k = 10, shortlist = 40)
      .select("query_id", "neighbor_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val exact = AnnOracle.bruteForceTopK(corpus, queries, "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val recall = pq.keys.toSeq.map { q =>
      (pq(q) intersect exact(q)).size.toDouble / exact(q).size
    }.sum / pq.size
    assert(recall >= 0.7, s"IVF-PQ recall $recall")
  }

  test("self-matches are excluded; top-1 lands in the query's own cluster") {
    val enc = PqIndex.encode(cb, corpus, "vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 4)
    val top1 = PqIndex.searchTopK(cb, enc, corpus, queries, "vec_id", "embedding",
        k = 1, shortlist = 64)
      .select("query_id", "neighbor_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // same contract as AnnIndex/bruteForce: never your own row; on this
    // fixture row i's cluster is i % 8, so the top hit shares it
    assert(top1.forall { case (q, n) => q != n && q % 8 == n % 8 }, s"$top1")
  }

  test("degenerate subspace (constant dims) yields a ragged codebook that still works") {
    // last 4 dims identically zero -> that subspace has ONE distinct point;
    // KMeans returns fewer centers than requested and nothing may crash
    val flat = corpus.select(col("vec_id"),
      concat(slice(col("embedding"), 1, 12),
        array(lit(0f), lit(0f), lit(0f), lit(0f))).as("embedding"))
    val cb2 = PqIndex.fit(flat, "embedding", dim = 16, nSub = 4, nCodes = 8)
    assert(cb2.centers(3).length < 8, "degenerate subspace must collapse")
    val enc = PqIndex.encode(cb2, flat, "vec_id", "embedding")
    assert(enc.count() == 320)
    // every code in the degenerate subspace is the single surviving center
    assert(enc.select(col("codes")).collect()
      .forall(_.getAs[Array[Byte]](0)(3) == 0))
    // and search still runs end-to-end over the ragged codebook
    val res = PqIndex.searchTopK(cb2, enc, flat,
      flat.filter(col("vec_id") < 2), "vec_id", "embedding", k = 5, shortlist = 32)
    assert(res.count() == 10)
  }
}
