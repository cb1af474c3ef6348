package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
  * web-scale through semantic deduplication") as a reusable operator on
  * arbitrary embedding frames — the DataFrame-level sibling of the
  * oracle-gated `d15_semdedup_cells` / `d16_semdedup_centroid_keep`
  * catalog entries, extracted so the corpus capstone
  * (graft.corpus.CorpusPipeline) can compose it mid-pipeline.
  *
  * Recipe, exactly the paper's: k-means-cluster the embeddings, compare
  * ONLY within a cluster, and keep the member of each duplicate group
  * LEAST similar to its centroid (the anti-memorization keep). The keep is
  * d16's one-pass reformulation — drop a vector iff some same-cell
  * cosine-similar neighbor OUTRANKS it under (centroid-d2 DESC, vec_id
  * ASC) — because greedy exactly-one-per-group recursion serializes
  * ("kept depends on kept") and does not distribute; for a tight duplicate
  * group exactly the paper's argmax survives, and on similarity chains
  * every local maximum does (recall-safe in the dedup direction: every
  * dropped vector HAS a kept similar representative further from the
  * centroid up its chain).
  *
  * Blocking: the CLUSTER is the candidate block (the paper's own
  * restriction; the catalog entries add SRP banding on top because their
  * fixture carries pre-labeled groups — here cells are the only blocking a
  * generic frame offers). Per-cell fan-out is bounded by `maxCell`: cells
  * are ranked by vec_id and only the first `maxCell` members generate
  * pairs (the d2/x10 hot-bucket ceiling — Σ min(|cell|, cap)² work, never
  * all-pairs). In the paper's regime k is chosen so cells are small
  * (n/k ≈ constant); the cap is the skew insurance, and capped-out
  * members are simply never dropped — dedup stays recall-safe, it only
  * under-deletes on a pathological cell.
  *
  * Determinism: centroid distances are integer (micro-unit quantization +
  * KMeansQuantized's integer Lloyd rounds), cosine is the pinned
  * double-dot over the raw embeddings, all tiebreaks are total orders on
  * vec_id — two runs (or two clusters) drop the identical set.
  */
object SemDeDup {

  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)
  private def norm(v: Column): Column = sqrt(dot(v, v))

  /** Micro-unit quantized points `(vec_id, q)` from `(vec_id, embedding)`
    * — the g3/s6 bround posture (round-half-even of coord·1e6). */
  def quantize(e: DataFrame, embCol: String = "embedding"): DataFrame =
    e.select(col("vec_id"),
      transform(col(embCol),
        x => bround(x.cast("double") * lit(1e6), 0).cast("long")).as("q"))

  /** Own cell of each point under FIXED centroids: argmin (d2, cid) —
    * d15/d16's assignment, carrying d2 (the keep rank) for free. `pts` is
    * [[quantize]] output; `cent` is KMeansQuantized.fit output (broadcast
    * here: k·d rows). Returns (vec_id, cid, d2). */
  def assign(pts: DataFrame, cent: DataFrame): DataFrame = {
    val pe = pts.select(col("vec_id"), posexplode(col("q")).as(Seq("pos", "v")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"), col("v"))
    pe.join(
        broadcast(cent.select(col("cluster_id").as("cid"), col("pos"),
          col("centroid_q").as("cval"))), "pos")
      .groupBy(col("vec_id"), col("cid"))
      .agg(sum((col("v") - col("cval")) * (col("v") - col("cval"))).as("d2"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("cid"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cid"), col("d2"))
  }

  /** Capped per-cell member table `(cid, vec_id, d2, embedding)` — the
    * persistable semantic state of a built corpus: each cell keeps its
    * first `maxCell` members by vec_id (the same cap [[dropsUnder]]
    * applies to its pair fan-out, so state size is bounded by k·maxCell
    * whatever the corpus). `e` must carry vec_id + embCol. */
  def cellMembers(
      e: DataFrame,
      cent: DataFrame,
      maxCell: Int,
      embCol: String = "embedding"): DataFrame = {
    val own = assign(quantize(e, embCol), cent)
    own
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cid")).orderBy(col("vec_id"))))
      .filter(col("rn") <= maxCell)
      .select(col("cid"), col("vec_id"), col("d2"))
      .join(e.select(col("vec_id"), col(embCol).as("embedding")), "vec_id")
      .select(col("cid"), col("vec_id"), col("d2"), col("embedding"))
  }

  /** Incremental SemDeDup (round-14 verdict item 4): the slice vec_ids
    * DROPPED when probed against a built corpus's STORED semantic state —
    * centroids are never refit (cells are corpus-global k-means structure;
    * rebuilds own that), slice vectors are assigned to the stored
    * centroids and the d16 keep rule runs within TOUCHED cells against
    * the stored members plus the slice's own same-cell vectors. Only
    * slice vectors can drop (the corpus is immutable — d10 posture).
    *
    * Divergence from a full rebuild, documented like the LSH bucket caps:
    *  - when the keep rule would prefer the SLICE doc (slice vector sits
    *    farther from the centroid than its corpus duplicate), a rebuild
    *    drops the corpus doc; here both survive (under-dropping, the only
    *    direction corpus immutability allows);
    *  - stored members are capped at maxCell per cell, so a slice doc
    *    whose only similar neighbor was capped out survives (the same
    *    recall trade [[dropsUnder]] makes at build time);
    *  - a rebuild refits centroids over corpus ∪ slice; drift between the
    *    stored and refit cells can re-block pairs across cell boundaries
    *    (the reason rebuilds rerun the batch operator).
    *
    * `members` is [[cellMembers]] output (possibly rolled forward);
    * corpus members always have smaller vec_ids than the slice (the
    * append-only contract), so rank ties break toward the corpus. */
  def probeDrops(
      sliceE: DataFrame,
      cent: DataFrame,
      members: DataFrame,
      threshold: Double,
      maxCell: Int = 256,
      embCol: String = "embedding"): DataFrame = {
    val own = assign(quantize(sliceE, embCol), cent)
    // slice-side cap mirrors the build-side cell ceiling
    val sliceCapped = own
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cid")).orderBy(col("vec_id"))))
      .filter(col("rn") <= maxCell)
      .select(col("cid"), col("vec_id"), col("d2"))
      .join(sliceE.select(col("vec_id"), col(embCol).as("embedding")), "vec_id")
      .select(col("cid"), col("vec_id"), col("d2"), col("embedding"))
    // candidate droppers: stored corpus members ∪ the slice's own vectors.
    // The two dropper populations join vSide SEPARATELY and the drop ids
    // union afterwards (join distributes over union, so the row set is
    // identical) — unioning the inputs FIRST would erase the member
    // table's output partitioning, and when the state is loaded bucketed
    // (CorpusState.loadBucketed buckets sem_cell_members by cid) the
    // members side of this join must arrive pre-partitioned: at scale the
    // member table is k·maxCell·(d+3) values, the one semantic piece past
    // broadcast range, and re-shuffling it per slice would be the
    // O(corpus-state) cost the bucketed layout exists to avoid.
    val vSide = sliceCapped.select(col("cid"), col("vec_id").as("v"),
        col("d2").as("d2_v"), col("embedding").as("emb_v"))
      .withColumn("n_v", norm(col("emb_v")))
    def dropsFrom(droppers: DataFrame): DataFrame =
      droppers.select(col("cid"), col("vec_id").as("u"),
          col("d2").as("d2_u"), col("embedding").as("emb_u"))
        .withColumn("n_u", norm(col("emb_u")))
        .join(vSide, "cid")
        .filter(col("u") =!= col("v"))
        // d16's outrank rule: u drops v iff u is FARTHER from the centroid
        // (anti-memorization keep), vec_id tiebreak — corpus ids are
        // smaller, so an exact tie keeps the corpus doc
        .filter(col("d2_u") > col("d2_v") ||
          (col("d2_u") === col("d2_v") && col("u") < col("v")))
        .filter(dot(col("emb_u"), col("emb_v")) / (col("n_u") * col("n_v")) >= threshold)
        .select(col("v").as("vec_id"))
    dropsFrom(members).unionByName(dropsFrom(sliceCapped)).distinct()
  }

  /** The vec_ids DROPPED by the centroid-distance keep rule under FIXED
    * (already-fit) centroids — the corpus pipeline fits once and reuses
    * the centroid table for the drop rule, the persisted state, and the
    * incremental probe.
    *
    * `e` must carry `vec_id: long` and `embCol: array` (float or double).
    * Shuffles: one cell-keyed exchange for the capped pair fan-out, two
    * id-keyed joins for the verify, one distinct on the drop ids. */
  def dropsUnder(
      e: DataFrame,
      cent: DataFrame,
      threshold: Double,
      maxCell: Int = 256,
      embCol: String = "embedding"): DataFrame = {
    val own = assign(quantize(e, embCol), cent)
    // capped within-cell candidates (u, v), u != v, both directions —
    // the symmetrized pair list d16 builds from its v1<v2 pairs
    val capped = own
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cid")).orderBy(col("vec_id"))))
      .filter(col("rn") <= maxCell)
      .select(col("cid"), col("vec_id"), col("d2"))
    val cand = capped.select(col("cid"), col("vec_id").as("u"), col("d2").as("d2_u"))
      .join(capped.select(col("cid"), col("vec_id").as("v"), col("d2").as("d2_v")), "cid")
      .filter(col("u") =!= col("v"))
      // outrank BEFORE the cosine verify: only pairs that could drop v
      .filter(col("d2_u") > col("d2_v") ||
        (col("d2_u") === col("d2_v") && col("u") < col("v")))
    // exact-cosine verify on the raw embeddings (ids-only candidates
    // re-join the corpus — the nearDupPairs discipline)
    val ex = e.select(col("vec_id"), col(embCol).as("_emb"),
      norm(col(embCol)).as("_n"))
    cand
      .join(ex.select(col("vec_id").as("u"), col("_emb").as("emb_u"), col("_n").as("n_u")), "u")
      .join(ex.select(col("vec_id").as("v"), col("_emb").as("emb_v"), col("_n").as("n_v")), "v")
      .filter(dot(col("emb_u"), col("emb_v")) / (col("n_u") * col("n_v")) >= threshold)
      .select(col("v").as("vec_id")).distinct()
  }
}
