package graft.catalog

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.io.Tables

/** Similarity search over the `embeddings` table (Array[Float], 64-dim).
  *
  * The dot product is a sequential `aggregate(zip_with(...))` fold in double
  * precision — verified bit-identical to DuckDB's `list_sum(list_transform)`
  * (same left-to-right IEEE addition order), which is what lets cosine
  * scores be hash-compared exactly, thresholds included.
  *
  * Scale shape: s1 is the brute-force baseline (broadcast the query set,
  * map-side scan of the corpus — no shuffle on the big side; top-k via
  * per-query window). s2 is the IVF-style scale path: candidates restricted
  * to the query's own partition cell (here the `label` column stands in for
  * a KMeans-assigned IVF cell), cutting the scan by the cell fanout — at
  * 100 TB the cells are parquet partitions and pruning happens at the scan.
  */
object SimilarityCatalog {

  /** Native codegen'd dot product (graft.functions.FloatVectorDot) — same
    * left-to-right double fold as the HOF formulation and the DuckDB oracle,
    * ~10× faster on the pair-join hot path. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dotF(a, b)

  /** Row norm, precomputed BEFORE the pair join so each pair evaluates one
    * dot product instead of three. `sqrt(dot(v,v))` is deterministic, so the
    * per-row value is bit-identical to the oracle's per-pair recomputation. */
  private def norm(v: Column): Column = sqrt(dot(v, v))

  private val dotSql =
    "list_sum(list_transform(list_zip(%s, %s), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"

  private def cosineSql(a: String, b: String): String =
    s"${dotSql.format(a, b)} / (sqrt(${dotSql.format(a, a)}) * sqrt(${dotSql.format(b, b)}))"

  // ---- SRP-LSH machinery (shared by s5 and SrpLshSpec) ----------------------

  /** 16 hyperplanes × 64 dims of ±1, derived from md5 parity of "i_j" —
    * deterministic, seedless, re-derivable by review, and embedded as the
    * SAME literals in the Spark plan and the DuckDB oracle. Rademacher
    * (±1) planes are the standard SimHash construction for angular LSH. */
  val SrpPlanes = 16
  val SrpBands = 4
  private lazy val srpPlaneMatrix: Array[Array[Float]] =
    Array.tabulate(SrpPlanes, 64) { (i, j) =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${i}_$j".getBytes("UTF-8"))
      if (((h(0) >> 4) & 1) == 0) 1.0f else -1.0f
    }

  private def srpPlaneSql(i: Int): String =
    srpPlaneMatrix(i).map(s => if (s > 0) "1.0" else "-1.0")
      .mkString("list_value(", ", ", ")")

  /** Per-vector band rows `(vec_id, label, emb, nrm, b, band_key)` — one
    * row per band, band key = 4 signature bits packed. The signature bit is
    * the sign of the same left-to-right double dot product as the oracle.
    * Unused columns (s5 ignores `label`; the near-dup candidate path
    * ignores `emb`/`nrm`) are pruned by Catalyst, not computed. */
  private[catalog] def srpBands(e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.typedlit
    val bits: Column = array((0 until SrpPlanes).map { i =>
      when(dot(col("embedding"), typedlit(srpPlaneMatrix(i).toSeq)) > 0, 1).otherwise(0)
    }: _*)
    e.select(col("vec_id"), col("label"), col("embedding").as("emb"),
        norm(col("embedding")).as("nrm"), bits.as("bits"))
      .select(col("vec_id"), col("label"), col("emb"), col("nrm"),
        posexplode(array((0 until SrpBands).map { b =>
          (element_at(col("bits"), b * 4 + 1)
            + element_at(col("bits"), b * 4 + 2) * 2
            + element_at(col("bits"), b * 4 + 3) * 4
            + element_at(col("bits"), b * 4 + 4) * 8)
        }: _*)))
      .withColumnRenamed("pos", "b").withColumnRenamed("col", "band_key")
  }

  // ---- Near-dup candidate machinery (shared by s3, s7, g6) -----------------
  //
  // Round-9 verdict #1: the old `embeddings ⋈ embeddings ON label` pair
  // generation was Θ(n²/|labels|) on a FIXED-cardinality key (the fixture's
  // label has 10 distinct values) — the one all-pairs scale-killer left in
  // the tree. Candidates now go through the same SRP bands s5 uses
  // (deterministic md5-parity hyperplanes, literal-identical in both
  // engines) with the Dedup posture applied verbatim: pair generation is
  // keyed on (label, band, band_key), each bucket capped at
  // [[NearDupMaxBucket]] members (first by vec_id — the d2
  // `Dedup.DefaultMaxBucket` hot-bucket discipline), survivors
  // exact-cosine verified. Semantics are therefore "band-colliding
  // near-dup pairs", the standard LSH near-dup contract (recall < 1 by
  // construction, measured in SrpLshSpec: all qualifying pairs survive at
  // sf0.01, ~40 % at sf0.1 where every survivor sits barely above the
  // 0.45 threshold — this fixture has no high-cosine planted dups, so
  // boundary pairs collide at the theoretical 1-(1-p^4)^4 rate). At
  // 100 TB the knobs are the standard LSH ones: band-key width grows with
  // log n (wider keys → smaller buckets → fewer candidates) and the cap
  // bounds worst-case skew with the drop count observable per bucket
  // (rows with rn > cap). Work is Σ min(|bucket|, cap)² per bucket —
  // never all-pairs — and the verify join touches only candidate ids.

  /** Per-bucket participant cap for banded pair generation — the
    * `Dedup.DefaultMaxBucket` discipline applied to SRP buckets. */
  val NearDupMaxBucket = 64

  /** Cosine threshold shared by s3 (pair listing), s7 (SemDeDup prune) and
    * g6 (near-dup graph edges). */
  val NearDupThreshold = 0.45

  /** DuckDB CTE prefix (no `WITH`) computing `neardup_pairs(label, v1, v2,
    * cos_sim)` — the exact oracle twin of [[nearDupPairs]]. */
  private[catalog] def bandedPairsSql: String = {
    val bitsSql = (0 until SrpPlanes).map { i =>
      s"CASE WHEN ${dotSql.format("embedding", srpPlaneSql(i))} > 0 THEN 1 ELSE 0 END"
    }.mkString("[", ",\n                 ", "]")
    s"""
        sig AS (
          SELECT vec_id, label,
                 $bitsSql AS bits
          FROM embeddings),
        bands AS (
          SELECT vec_id, label, b,
                 bits[b*4+1] + 2*bits[b*4+2] + 4*bits[b*4+3] + 8*bits[b*4+4] AS band_key
          FROM sig, unnest(range(0, $SrpBands)) AS t(b)),
        capped AS (
          SELECT label, b, band_key, vec_id FROM (
            SELECT label, b, band_key, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY label, b, band_key
                                      ORDER BY vec_id) AS rn
            FROM bands)
          WHERE rn <= $NearDupMaxBucket),
        cand AS (
          SELECT DISTINCT ca.label, ca.vec_id AS v1, cb.vec_id AS v2
          FROM capped ca
          JOIN capped cb ON ca.label = cb.label AND ca.b = cb.b
                        AND ca.band_key = cb.band_key AND ca.vec_id < cb.vec_id),
        neardup_pairs AS (
          SELECT c.label, c.v1, c.v2,
                 ${cosineSql("x.embedding", "y.embedding")} AS cos_sim
          FROM cand c
          JOIN embeddings x ON x.vec_id = c.v1
          JOIN embeddings y ON y.vec_id = c.v2
          WHERE ${cosineSql("x.embedding", "y.embedding")} >= $NearDupThreshold)"""
  }

  /** Distinct candidate pairs `(label, v1, v2)`: same (label, band,
    * band_key) bucket, both endpoints within the bucket's first
    * [[NearDupMaxBucket]] members by vec_id. One shuffle keyed on the
    * bucket, per-bucket work capped at cap² — never all-pairs. */
  private[catalog] def bandedCandidatePairs(e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val capW = Window.partitionBy(col("label"), col("b"), col("band_key"))
      .orderBy(col("vec_id"))
    val capped = srpBands(e)
      .select(col("label"), col("b"), col("band_key"), col("vec_id"))
      .withColumn("rn", row_number().over(capW))
      .filter(col("rn") <= NearDupMaxBucket)
      .select(col("label"), col("b"), col("band_key"), col("vec_id"))
    capped.join(
        capped.select(col("label"), col("b"), col("band_key"),
          col("vec_id").as("v2")),
        Seq("label", "b", "band_key"))
      .filter(col("vec_id") < col("v2"))
      .select(col("label"), col("vec_id").as("v1"), col("v2"))
      .distinct()
  }

  /** Verified near-dup pairs `(label, v1, v2, cos_sim)`: banded candidates
    * re-joined to the corpus by id (candidates are small — only ids travel
    * through the distinct), exact cosine, threshold filter. */
  private[catalog] def nearDupPairs(spark: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val x = e.select(col("vec_id").as("v1"), col("embedding").as("emb1"),
      norm(col("embedding")).as("norm1"))
    val y = e.select(col("vec_id").as("v2"), col("embedding").as("emb2"),
      norm(col("embedding")).as("norm2"))
    bandedCandidatePairs(e)
      .join(x, "v1").join(y, "v2")
      .select(col("label"), col("v1"), col("v2"),
        (dot(col("emb1"), col("emb2")) / (col("norm1") * col("norm2"))).as("cos_sim"))
      .filter(col("cos_sim") >= NearDupThreshold)
  }

  val all: Seq[QueryDef] = Seq(

    // ---- S1: brute-force cosine top-k --------------------------------------
    QueryDef(
      "s1_topk_cosine_bruteforce",
      "North-star similarity: exact top-10 cosine neighbors for 8 query vectors; broadcast queries, scan corpus once",
      Some(s"""
        SELECT query_id, neighbor_id, cos_sim
        FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 ${cosineSql("q.embedding", "c.embedding")} AS cos_sim,
                 ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                    ORDER BY ${cosineSql("q.embedding", "c.embedding")} DESC, c.vec_id) AS rk
          FROM embeddings q JOIN embeddings c ON q.vec_id < 8 AND c.vec_id <> q.vec_id)
        WHERE rk <= 10
      """)) { (spark, dir) =>
      val e = Tables.embeddings(spark, dir)
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
          norm(col("embedding")).as("q_norm"))
      val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"),
        norm(col("embedding")).as("c_norm"))
      val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          (dot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm"))).as("cos_sim"))
      val rk = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_sim").desc, col("neighbor_id"))
      scored.withColumn("rk", row_number().over(rk))
        .filter(col("rk") <= 10)
        .select(col("query_id"), col("neighbor_id"), col("cos_sim"))
    },

    // ---- S2: IVF-style partition-pruned top-k ------------------------------
    QueryDef(
      "s2_topk_cosine_ivf",
      "North-star similarity: top-5 neighbors searched only within the query's cell (label = IVF cell stand-in) — the scan-pruned scale path",
      Some(s"""
        SELECT query_id, neighbor_id, cos_sim
        FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 ${cosineSql("q.embedding", "c.embedding")} AS cos_sim,
                 ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                    ORDER BY ${cosineSql("q.embedding", "c.embedding")} DESC, c.vec_id) AS rk
          FROM embeddings q
          JOIN embeddings c ON q.vec_id < 8 AND c.label = q.label AND c.vec_id <> q.vec_id)
        WHERE rk <= 5
      """)) { (spark, dir) =>
      val e = Tables.embeddings(spark, dir)
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("label").as("q_label"),
          col("embedding").as("q_emb"), norm(col("embedding")).as("q_norm"))
      val c = e.select(col("vec_id").as("neighbor_id"), col("label"),
        col("embedding").as("c_emb"), norm(col("embedding")).as("c_norm"))
      val scored = c.join(broadcast(q),
          col("label") === col("q_label") && col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          (dot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm"))).as("cos_sim"))
      val rk = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_sim").desc, col("neighbor_id"))
      scored.withColumn("rk", row_number().over(rk))
        .filter(col("rk") <= 5)
        .select(col("query_id"), col("neighbor_id"), col("cos_sim"))
    },

    // ---- S3: cosine-threshold near-duplicate pairs (band-blocked) ----------
    // The embedding twin of d3's Jaccard verify, in d2's LSH posture: SRP
    // band-bucket candidates (capped per bucket), exact-cosine verify of
    // survivors — see the shared-machinery comment above nearDupPairs for
    // the scale analysis and the recall contract.
    QueryDef(
      "s3_cosine_neardup_pairs",
      "North-star dedup: SRP-band-blocked embedding near-dup pairs — bucketed candidates (cap 64/bucket), exact cosine >= 0.45 verify; the d2 LSH discipline applied to vectors",
      Some(s"""
        WITH $bandedPairsSql
        SELECT v1 AS vec1, v2 AS vec2, cos_sim FROM neardup_pairs
      """)) { (spark, dir) =>
      nearDupPairs(spark, dir)
        .select(col("v1").as("vec1"), col("v2").as("vec2"), col("cos_sim"))
    },

    // ---- G6: triangle count over the semantic near-dup graph ---------------
    // Clustering-coefficient material for the similarity graph s3 defines
    // (edge = band-colliding pair with cosine >= 0.45): how CLUMPED is the
    // corpus's near-duplicate structure — many triangles means duplicate
    // CLUSTERS (one canonical survivor per clique is cheap), few means
    // chains (d8's connected components does real work). Algorithm is the
    // standard degree-ordered orientation (Cohen 2009 / Suri-Vassilvitskii
    // WWW'11 "Counting triangles and the curse of the last reducer"): each
    // undirected edge orients from its lower-(degree, id) endpoint, so
    // every wedge is enumerated at its triangle's SMALLEST vertex exactly
    // once and per-vertex fan-out is bounded by O(sqrt(m)) — the skew cap
    // that makes triangle counting feasible on power-law graphs at scale.
    // Edge generation is s3's banded candidate path (round-9 verdict #1:
    // the old within-label all-pairs was the quadratic input this
    // algorithm didn't deserve); joins stay keyed on (label, vertex).
    QueryDef(
      "g6_triangle_count",
      "Triangle count per label cell over the SRP-banded cosine>=0.45 near-dup graph via degree-ordered orientation (the last-reducer-safe plan): edges + triangles per cell",
      Some(s"""
        WITH $bandedPairsSql,
        pairs AS (SELECT label, v1, v2 FROM neardup_pairs),
        und AS (SELECT label, v1 AS v, v2 AS w FROM pairs
                UNION ALL SELECT label, v2, v1 FROM pairs),
        deg AS (SELECT label, v, COUNT(*) AS d FROM und GROUP BY 1, 2),
        ori AS (
          SELECT p.label,
                 CASE WHEN (d1.d, p.v1) < (d2.d, p.v2) THEN p.v1 ELSE p.v2 END AS src,
                 CASE WHEN (d1.d, p.v1) < (d2.d, p.v2) THEN p.v2 ELSE p.v1 END AS dst
          FROM pairs p
          JOIN deg d1 ON d1.label = p.label AND d1.v = p.v1
          JOIN deg d2 ON d2.label = p.label AND d2.v = p.v2),
        tri AS (
          SELECT w.label, COUNT(*) AS n_triangles
          FROM (SELECT e1.label, e1.dst AS b, e2.dst AS c
                FROM ori e1
                JOIN ori e2 ON e1.label = e2.label AND e1.src = e2.src
                           AND e1.dst < e2.dst) w
          JOIN und u ON u.label = w.label AND u.v = w.b AND u.w = w.c
          GROUP BY 1),
        edges AS (SELECT label, COUNT(*) AS n_edges FROM pairs GROUP BY 1)
        SELECT e.label, e.n_edges, COALESCE(t.n_triangles, CAST(0 AS BIGINT)) AS n_triangles
        FROM edges e LEFT JOIN tri t ON e.label = t.label
      """)) { (spark, dir) =>
      // both the degree pass and the two orientation joins re-read the
      // edge list; one materialization beats three re-computations of the
      // banded pair generation. Every consumer here shuffles immediately,
      // so the read-back layout is irrelevant.
      val pairs = graft.operators.Reuse.materialize(
        nearDupPairs(spark, dir).select(col("label"), col("v1"), col("v2")))
      val und = pairs.select(col("label"), col("v1").as("v"), col("v2").as("w"))
        .unionByName(pairs.select(col("label"), col("v2").as("v"), col("v1").as("w")))
      val deg = und.groupBy(col("label"), col("v")).agg(count(lit(1)).as("d"))
      val lower = struct(col("d1"), col("v1")) < struct(col("d2"), col("v2"))
      val ori = pairs
        .join(deg.select(col("label"), col("v").as("v1"), col("d").as("d1")),
          Seq("label", "v1"))
        .join(deg.select(col("label"), col("v").as("v2"), col("d").as("d2")),
          Seq("label", "v2"))
        .select(col("label"),
          when(lower, col("v1")).otherwise(col("v2")).as("src"),
          when(lower, col("v2")).otherwise(col("v1")).as("dst"))
      val wedges = ori.select(col("label"), col("src"), col("dst").as("b"))
        .join(ori.select(col("label"), col("src"), col("dst").as("c")),
          Seq("label", "src"))
        .filter(col("b") < col("c"))
      val tri = wedges
        .join(und.select(col("label"), col("v").as("b"), col("w").as("c")),
          Seq("label", "b", "c"))
        .groupBy(col("label")).agg(count(lit(1)).as("n_triangles"))
      pairs.groupBy(col("label")).agg(count(lit(1)).as("n_edges"))
        .join(tri, Seq("label"), "left_outer")
        .na.fill(0L, Seq("n_triangles"))
    },

    // ---- S4: int8 scalar quantization of embeddings ------------------------
    // The storage-side half of similarity search at 100 TB: affine per-vector
    // int8 quantization (the FAISS SQ8 scheme) shrinks a float corpus 4×.
    // Scalar outputs only — per-vector range and reconstruction MSE — so the
    // whole transform is oracle-checkable (all math in double after exact
    // float→double casts; the element fold is the same left-to-right order
    // on both engines, like the dot products above).
    QueryDef(
      "s4_embedding_quantize",
      "North-star similarity: per-vector int8 affine quantization stats — range, quantized reconstruction MSE; map-only, the compression pass before ANN indexing",
      Some("""
        SELECT vec_id,
               CAST(list_min(embedding) AS DOUBLE) AS qmin,
               CAST(list_max(embedding) AS DOUBLE) AS qmax,
               CASE WHEN list_max(embedding) = list_min(embedding) THEN 0.0
                    ELSE list_sum(list_transform(
                      list_transform(embedding, x ->
                        CAST(x AS DOUBLE)
                          - (CAST(list_min(embedding) AS DOUBLE)
                             + floor((CAST(x AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE))
                                     / ((CAST(list_max(embedding) AS DOUBLE)
                                         - CAST(list_min(embedding) AS DOUBLE)) / 255.0) + 0.5)
                               * ((CAST(list_max(embedding) AS DOUBLE)
                                   - CAST(list_min(embedding) AS DOUBLE)) / 255.0))),
                      d -> d * d))
                      / len(embedding)
               END AS mse
        FROM embeddings
      """)) { (spark, dir) =>
      // min/max HOISTED to row columns before the element fold: referenced
      // inside the lambda they would re-scan the array once per element —
      // O(d²) per row, and the fold's lambda is interpreted, so the rescans
      // were the whole cost of this "map-only" query (1.0 s → ~0.2 s).
      val qminC = col("qmin")
      val qmaxC = col("qmax")
      val scale = (qmaxC - qminC) / 255.0
      // d*d, never pow(d,2): Math.pow and DuckDB's pow can disagree in the
      // last ulp (observed on exactly one sf0.1 vector); multiplication of
      // identical doubles cannot
      val err2 = aggregate(col("emb"), lit(0.0), (acc, e) => {
        val xd = e.cast("double")
        val recon = qminC + floor((xd - qminC) / scale + 0.5) * scale
        val d = xd - recon
        acc + d * d
      })
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").as("emb"),
          array_min(col("embedding")).cast("double").as("qmin"),
          array_max(col("embedding")).cast("double").as("qmax"))
        .select(
          col("vec_id"),
          qminC.as("qmin"),
          qmaxC.as("qmax"),
          when(qmaxC === qminC, 0.0)
            .otherwise(err2 / size(col("emb"))).as("mse"))
    },

    // ---- S5: SRP-LSH bucketed top-k (signature scale path) -----------------
    // The third ANN regime next to s1 (exact scan) and s2 (IVF cells):
    // sign-random-projection signatures + banding. Candidates = corpus
    // vectors sharing at least one 4-bit band with the query, then exact
    // cosine + top-10 among candidates only. At corpus scale the bands are
    // the shuffle/partition key and the scan never sees non-colliding
    // vectors; here the 8 queries' bands BROADCAST, so the corpus side
    // stays map-only until the tiny candidate set. Recall vs s1's exact
    // top-10 is measured (not assumed) in SrpLshSpec.
    QueryDef(
      "s5_topk_cosine_srp",
      "North-star similarity: top-10 cosine via sign-random-projection LSH — 16 deterministic ±1 hyperplanes (md5-parity-derived, literal-identical on both engines), 4 bands x 4 bits, exact cosine verify on band-colliding candidates only",
      Some {
        val bitsSql = (0 until SrpPlanes).map { i =>
          s"CASE WHEN ${dotSql.format("embedding", srpPlaneSql(i))} > 0 THEN 1 ELSE 0 END"
        }.mkString("[", ",\n                 ", "]")
        s"""
        WITH sig AS (
          SELECT vec_id, embedding,
                 $bitsSql AS bits
          FROM embeddings),
        bands AS (
          SELECT vec_id, embedding, b,
                 bits[b*4+1] + 2*bits[b*4+2] + 4*bits[b*4+3] + 8*bits[b*4+4] AS band_key
          FROM sig, unnest(range(0, ${SrpBands})) AS t(b)),
        cand AS (
          SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
          FROM bands q
          JOIN bands c ON q.b = c.b AND q.band_key = c.band_key
                      AND q.vec_id < 8 AND c.vec_id <> q.vec_id),
        scored AS (
          SELECT cand.query_id, cand.neighbor_id,
                 ${cosineSql("q.embedding", "c.embedding")} AS cos_sim,
                 ROW_NUMBER() OVER (PARTITION BY cand.query_id
                                    ORDER BY ${cosineSql("q.embedding", "c.embedding")} DESC, cand.neighbor_id) AS rk
          FROM cand
          JOIN embeddings q ON q.vec_id = cand.query_id
          JOIN embeddings c ON c.vec_id = cand.neighbor_id)
        SELECT query_id, neighbor_id, cos_sim FROM scored WHERE rk <= 10
      """
      }) { (spark, dir) =>
      val e = Tables.embeddings(spark, dir)
      val bands = srpBands(e)
      val q = bands.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("b").as("q_b"),
          col("band_key").as("q_key"), col("emb").as("q_emb"), col("nrm").as("q_norm"))
      // corpus side stays map-only: band keys are a projection, the 8
      // queries' bands broadcast, and only band-colliding rows survive
      val cand = bands.join(broadcast(q),
          col("b") === col("q_b") && col("band_key") === col("q_key") &&
            col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          (dot(col("q_emb"), col("emb")) / (col("q_norm") * col("nrm"))).as("cos_sim"))
        // a pair colliding on several bands is scored per collision, cheaply,
        // then deduped on the (pair, score) — cos_sim is a function of the pair
        .distinct()
      val rk = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_sim").desc, col("neighbor_id"))
      cand.withColumn("rk", row_number().over(rk))
        .filter(col("rk") <= 10)
        .select(col("query_id"), col("neighbor_id"), col("cos_sim"))
    },

    // ---- S6: per-label embedding centroids ---------------------------------
    // The prototype/E-step aggregation every embedding pipeline runs:
    // per-class mean vectors (classifier prototypes, cluster updates,
    // per-source drift monitors). Long format (label, pos) — posexplode is
    // map-only and the ONE shuffle carries labels × dims partial sums, not
    // vectors. Accumulation is nano-quantized INTEGERS from the float
    // values: float addition is order-dependent, so a double sum would hash
    // differently under every partitioning — the integer sum is exact and
    // engine/partition-order-independent (the f2 moment-stats posture
    // applied to vectors), and quantization happens in identical IEEE
    // double ops on both engines (see the oracle comment: a decimal cast
    // ties on floats whose exact expansion terminates one digit past the
    // scale, and the engines' cast rounding modes differ).
    // Sum and count ship separately; consumers divide — decimal
    // division scale rules differ across engines, the inputs don't.
    QueryDef(
      "s6_label_centroids",
      "Per-label embedding centroid accumulators: posexplode to (label, pos), nano-quantized integer sums + counts — order/partitioning-independent, one shuffle of labels x dims rows",
      Some("""
        SELECT label, i AS pos,
               -- quantize with IDENTICAL IEEE double arithmetic on both
               -- engines, never a decimal cast: x*1e9 is the same double
               -- product bit-for-bit, round_even matches Spark's bround
               -- (HALF_EVEN), and the integer sum is order-independent.
               -- A decimal(18,9) cast here ties when a float's exact
               -- expansion terminates at digit 10 (e.g. 0.1494140625, an
               -- odd multiple of 2^-10) and the engines' cast rounding
               -- modes split (Spark HALF_UP vs DuckDB HALF_EVEN) — hit at
               -- sf0.1. One final division by 1e9: same double op on both.
               CAST(SUM(CAST(round_even(CAST(embedding[i + 1] AS DOUBLE) * 1e9, 0) AS BIGINT)) AS DOUBLE) / 1e9 AS sum_val,
               COUNT(*) AS n
        FROM embeddings, unnest(range(0, len(embedding))) AS t(i)
        GROUP BY 1, 2
      """)) { (spark, dir) =>
      Tables.embeddings(spark, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos"))
        .agg(
          (sum(bround(col("v").cast("double") * lit(1e9), 0).cast("long")).cast("double")
            / lit(1e9)).as("sum_val"),
          count(lit(1)).as("n"))
    },

    // ---- S7: SemDeDup-style semantic corpus pruning ------------------------
    // The embedding dedup that SHRINKS the corpus rather than listing pairs
    // (Abbas et al. 2023 "SemDeDup": cluster embeddings, drop all but one of
    // each within-cluster semantic-duplicate group). Keep rule here: drop a
    // vector iff SOME earlier-id vector in its cell is cosine-similar above
    // the threshold. That drop-list rule is deterministic, one-pass, and
    // anti-join-shaped — unlike greedy kept-set pruning, whose "kept depends
    // on kept" recursion serializes and doesn't distribute. It is also
    // recall-safe in the dedup direction: everything it drops HAS a similar
    // earlier representative (which may itself be dropped only for having
    // its own even-earlier representative — the canonical chain ends at a
    // kept vector).
    //
    // Scale shape: candidate pairs go through s3's banded machinery (the
    // SemDeDup paper's "compare within a cluster" IS the LSH-bucket
    // restriction — round-9 verdict #1 retired the within-label all-pairs
    // form here too); the drop list shuffles bare ids, and the final
    // anti-join is the only corpus-wide exchange.
    QueryDef(
      "s7_semantic_prune",
      "SemDeDup-style semantic dedup: drop any vector with an earlier-id band-colliding neighbor at cosine >= 0.45; deterministic drop-list anti-join over the banded pair machinery — the corpus-shrinking embedding dedup next to the pair-listing s3",
      Some(s"""
        WITH $bandedPairsSql
        SELECT e.vec_id, e.label
        FROM embeddings e
        WHERE NOT EXISTS (SELECT 1 FROM neardup_pairs p WHERE p.v2 = e.vec_id)
      """)) { (spark, dir) =>
      // neardup_pairs has v1 < v2, so "has an earlier similar neighbor"
      // = "appears as some pair's v2"; the drop list is those ids
      val dropped = nearDupPairs(spark, dir)
        .select(col("v2").as("vec_id")).distinct()
      Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))
        .join(dropped, Seq("vec_id"), "left_anti")
    },

    // ---- D15: SemDeDup capstone — dedup WITHIN k-means cells ---------------
    // The published embedding-dedup recipe end to end (Abbas et al. 2023,
    // "SemDeDup: Data-efficient learning at web-scale through semantic
    // deduplication"): cluster the embeddings with k-means, then drop
    // semantic duplicates WITHIN each cluster — never across. s7 states
    // the drop rule alone; d15 composes it with g3's integer-exact Lloyd
    // cells the way d9 composes the text-dedup chain: candidate pairs ride
    // the same banded machinery (per-bucket cap, exact-cosine verify) and
    // only pairs whose endpoints share a final-centroid cell survive to
    // the drop list, so a vector is dropped iff an earlier-id SAME-CELL
    // band-colliding neighbor sits at cosine >= the threshold.
    //
    // Scale shape: the cell assignment is the memoized g3 tower (one
    // materialized vocab of (vec_id, cid)); the pair fan-out is DOUBLY
    // blocked — by SRP band bucket (capped) AND by cell membership — so
    // per-bucket work stays Σ min(|bucket|, cap)² and the cell test is two
    // id-keyed hash joins of the candidate list (ids only) against the
    // assignment, never a widening of the fan-out. The final anti-join is
    // the one corpus-wide exchange, exactly s7's. The oracle extends the
    // unrolled Lloyd rounds with the banded-pair CTEs, so cluster
    // assignment, candidate generation, cosine verify, cell restriction,
    // and the keep rule are hash-matched END TO END.
    //
    // Keep-policy fidelity (stated deviation from the paper): Abbas et al.
    // keep one representative per duplicate group chosen by CENTROID
    // DISTANCE (their reported variant keeps the vector with the LOWEST
    // cosine similarity to the cluster centroid); d15 keeps the LOWEST-ID
    // vector of each similar pair chain instead. Lowest-id is the
    // deterministic, one-pass, anti-join-shaped rule (s7's scaladoc
    // explains why greedy kept-set recursion does not distribute); which
    // member of a near-duplicate group survives is a tie-break choice the
    // paper itself reports as a minor ablation, not a different dedup. The
    // d2 distance tower already computes per-(vec, centroid) d2, so the
    // centroid-distance keep rule is implementable as a documented upgrade
    // if paper-exact selection is ever required.
    QueryDef(
      "d15_semdedup_cells",
      "SemDeDup capstone (Abbas et al. 2023): k-means cells (g3's integer-exact Lloyd rounds) x banded near-dup prune (s7's drop rule) — drop any vector with an earlier-id SAME-CELL band-colliding neighbor at cosine >= 0.45 (keep rule: lowest id, a stated deviation from the paper's centroid-distance representative); kept corpus with cluster ids, oracle = unrolled Lloyd layers + banded-pair CTEs composed",
      Some(ExtensionCatalog.kmeansOracle(
        ExtensionCatalog.KmK, ExtensionCatalog.KmIters, finalSelect = Some(s""",
      dists AS MATERIALIZED (
        SELECT p.vec_id, c.cid, SUM((p.v - c.cval) * (p.v - c.cval)) AS d2
        FROM pq p JOIN c${ExtensionCatalog.KmIters} c ON p.pos = c.pos
        GROUP BY 1, 2),
      own AS MATERIALIZED (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
          FROM dists)
        WHERE rn = 1),
      $bandedPairsSql,
      dropd AS (
        SELECT DISTINCT p.v2 AS vec_id
        FROM neardup_pairs p
        JOIN own o1 ON o1.vec_id = p.v1
        JOIN own o2 ON o2.vec_id = p.v2
        WHERE o1.cid = o2.cid)
      SELECT e.vec_id, o.cid AS cluster_id, e.label
      FROM embeddings e
      JOIN own o USING (vec_id)
      WHERE NOT EXISTS (SELECT 1 FROM dropd d WHERE d.vec_id = e.vec_id)"""))
      )) { (spark, dir) =>
      val cells = ExtensionCatalog.kmCellAssignments(spark, dir)
      // cell restriction = two id-keyed joins of the (small) verified pair
      // list against the assignment — the fan-out is already banded+capped
      val dropped = nearDupPairs(spark, dir)
        .join(cells.select(col("vec_id").as("v1"), col("cid").as("cid1")), "v1")
        .join(cells.select(col("vec_id").as("v2"), col("cid").as("cid2")), "v2")
        .filter(col("cid1") === col("cid2"))
        .select(col("v2").as("vec_id")).distinct()
      Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))
        .join(cells, "vec_id")
        .join(dropped, Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("cid").as("cluster_id"), col("label"))
    },

    // ---- D16: SemDeDup with the PAPER's keep rule (centroid distance) ------
    // d15's stated deviation, closed as a sibling entry: Abbas et al. keep
    // the member of each within-cell duplicate group with the LOWEST cosine
    // similarity to the cluster centroid — in the quantized-integer tower
    // that is the LARGEST own-cell d2 (ties broken by vec_id ASC so the
    // rank is total). Reformulated one-pass (the s7 discipline — greedy
    // exactly-one-per-group recursion serializes): drop a vector iff SOME
    // same-cell band-colliding neighbor at cosine >= the threshold OUTRANKS
    // it under (d2 DESC, vec_id ASC). For a tight duplicate group whose
    // pairs all collide (the regime SemDeDup targets — near-identical
    // embeddings land in the same SRP buckets), exactly the paper's argmax
    // survives; on similarity CHAINS the rule keeps every local maximum,
    // recall-safe in the dedup direction exactly like s7/d15. Same scale
    // shape as d15: memoized assignment tower (which already carries d2 —
    // the keep rank costs NO new computation), banded+capped pair fan-out
    // symmetrized (ids only, 2x a small list), two id-keyed joins, one
    // corpus-wide anti-join. Oracle = the d15 composition with the own-cell
    // d2 kept and the outrank predicate in the drop CTE.
    QueryDef(
      "d16_semdedup_centroid_keep",
      "SemDeDup, paper-exact keep rule (Abbas et al. 2023): within k-means cells, drop any vector with a band-colliding cosine>=0.45 same-cell neighbor FARTHER from the centroid ((d2 DESC, vec_id) outrank) — keeps the group member least similar to the centroid; kept corpus with cluster id and the integer centroid distance",
      Some(ExtensionCatalog.kmeansOracle(
        ExtensionCatalog.KmK, ExtensionCatalog.KmIters, finalSelect = Some(s""",
      dists AS MATERIALIZED (
        SELECT p.vec_id, c.cid, SUM((p.v - c.cval) * (p.v - c.cval)) AS d2
        FROM pq p JOIN c${ExtensionCatalog.KmIters} c ON p.pos = c.pos
        GROUP BY 1, 2),
      own AS MATERIALIZED (
        SELECT vec_id, cid, CAST(d2 AS BIGINT) AS d2 FROM (
          SELECT vec_id, cid, d2,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
          FROM dists)
        WHERE rn = 1),
      $bandedPairsSql,
      sym AS (SELECT v1 AS u, v2 AS v FROM neardup_pairs
              UNION ALL SELECT v2 AS u, v1 AS v FROM neardup_pairs),
      dropd AS (
        SELECT DISTINCT s.v AS vec_id
        FROM sym s
        JOIN own ou ON ou.vec_id = s.u
        JOIN own ov ON ov.vec_id = s.v
        WHERE ou.cid = ov.cid
          AND (ou.d2 > ov.d2 OR (ou.d2 = ov.d2 AND s.u < s.v)))
      SELECT e.vec_id, o.cid AS cluster_id, o.d2 AS centroid_d2, e.label
      FROM embeddings e
      JOIN own o USING (vec_id)
      WHERE NOT EXISTS (SELECT 1 FROM dropd d WHERE d.vec_id = e.vec_id)"""))
      )) { (spark, dir) =>
      val own = ExtensionCatalog.kmCellAssignments(spark, dir) // (vec_id, cid, d2)
      val pairs = nearDupPairs(spark, dir).select(col("v1"), col("v2"))
      // symmetrize: the outranking neighbor may sit on either side of the
      // v1<v2 pair list; u = the potential keeper, v = the candidate drop
      val sym = pairs.unionByName(pairs.select(col("v2").as("v1"), col("v1").as("v2")))
        .select(col("v1").as("u"), col("v2").as("v"))
      val dropped = sym
        .join(own.select(col("vec_id").as("u"), col("cid").as("cid_u"), col("d2").as("d2_u")), "u")
        .join(own.select(col("vec_id").as("v"), col("cid").as("cid_v"), col("d2").as("d2_v")), "v")
        .filter(col("cid_u") === col("cid_v") &&
          (col("d2_u") > col("d2_v") ||
            (col("d2_u") === col("d2_v") && col("u") < col("v"))))
        .select(col("v").as("vec_id")).distinct()
      Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))
        .join(own, "vec_id")
        .join(dropped, Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("cid").as("cluster_id"),
          col("d2").as("centroid_d2"), col("label"))
    },

    // ---- S8: product-quantization encode + ADC search ----------------------
    // The PQ CONTRACT oracle-gated (float/RNG-trained KMeans codebooks
    // can't hash-compare, so this entry states the machinery in the g3
    // integer-exact posture): micro-unit coordinates, 4 subspaces × 16
    // dims, SAMPLE codebooks (the 4 smallest vec_ids' subvectors — no
    // training, codebook QUALITY is g3's concern), encode = per-subspace
    // exact-integer argmin with (dist, cid) tiebreak, search = asymmetric
    // distance: per-query KB tables of partial distances, a candidate
    // costs 4 lookups + a sum over its CODES — the vectors are never
    // touched at query time. One `dists` frame serves both encode and the
    // query tables (queries are corpus vectors). Integer bounds: |q| ≤
    // 1e6+ → diff² ≤ ~4e12, ×16 dims ×4 subs ≈ 2.6e14 « 2^63.
    QueryDef(
      "s8_pq_adc",
      "Product quantization + ADC search, integer-exact: sample codebooks (4 smallest vec_ids), per-subspace argmin encode with deterministic tiebreaks, per-query partial-distance tables, top-5 by code lookups alone — the 32x-compression search path next to s2's IVF, oracle = the identical arithmetic unrolled",
      Some("""
        WITH qv AS (
          SELECT vec_id,
                 CAST((t.j - 1) // 16 AS INTEGER) AS sub, t.j AS j,
                 CAST(round_even(CAST(embedding[t.j] AS DOUBLE) * 1000000, 0) AS BIGINT) AS v
          FROM embeddings, unnest(range(1, 65)) AS t(j)),
        cb AS (SELECT vec_id AS cid, sub, j, v AS cv FROM qv WHERE vec_id < 4),
        dists AS (
          SELECT a.vec_id, a.sub, c.cid,
                 CAST(SUM((a.v - c.cv) * (a.v - c.cv)) AS BIGINT) AS dist
          FROM qv a JOIN cb c ON a.sub = c.sub AND a.j = c.j
          GROUP BY 1, 2, 3),
        codes AS (
          SELECT vec_id, sub, cid AS code FROM (
            SELECT vec_id, sub, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                      ORDER BY dist, cid) AS rn
            FROM dists) WHERE rn = 1),
        qtab AS (
          SELECT vec_id AS query_id, sub, cid, dist AS qdist
          FROM dists WHERE vec_id BETWEEN 4 AND 11),
        adc AS (
          SELECT t.query_id, c.vec_id, CAST(SUM(t.qdist) AS BIGINT) AS adc_dist
          FROM codes c JOIN qtab t ON c.sub = t.sub AND c.code = t.cid
          GROUP BY 1, 2)
        SELECT query_id, nn_rank, vec_id, adc_dist FROM (
          SELECT query_id, vec_id, adc_dist,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY adc_dist, vec_id) AS nn_rank
          FROM adc) WHERE nn_rank <= 5
      """)) { (spark, dir) =>
      val nSub = 4; val subDim = 16
      val q = Tables.embeddings(spark, dir).select(col("vec_id"),
        transform(col("embedding"),
          x => bround(x.cast("double") * lit(1e6), 0).cast("long")).as("qv"))
      val cb = q.filter(col("vec_id") < 4)
        .select(col("vec_id").as("cid"), col("qv").as("cv"))
      // per-(vector, codebook-entry, subspace) exact integer distance: one
      // zip_with/aggregate per subspace inside a 4-row broadcast cross join
      def subDist(s: Int): Column = aggregate(
        zip_with(slice(col("qv"), s * subDim + 1, subDim),
          slice(col("cv"), s * subDim + 1, subDim),
          (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x)
      val dists = q.crossJoin(broadcast(cb))
        .select(col("vec_id"), col("cid"),
          explode(array((0 until nSub).map(s =>
            struct(lit(s).as("sub"), subDist(s).as("dist"))): _*)).as("e"))
        .select(col("vec_id"), col("e.sub").as("sub"), col("cid"), col("e.dist").as("dist"))
      // encode: min(struct(dist, cid)) is the (dist asc, cid asc) argmin —
      // deterministic under ties, one aggregate instead of a ranked window
      val codes = dists.groupBy(col("vec_id"), col("sub"))
        .agg(min(struct(col("dist"), col("cid"))).as("m"))
        .select(col("vec_id"), col("sub"), col("m.cid").as("code"))
      val qtab = dists.filter(col("vec_id").between(4, 11))
        .select(col("vec_id").as("query_id"), col("sub").as("qsub"),
          col("cid"), col("dist").as("qdist"))
      // ADC: 4 table lookups + a sum per (query, candidate) — over CODES,
      // never vectors; qtab is 8 queries × 4 subs × 4 entries, broadcast
      val adc = codes.join(broadcast(qtab),
          col("sub") === col("qsub") && col("code") === col("cid"))
        .groupBy(col("query_id"), col("vec_id"))
        .agg(sum(col("qdist")).as("adc_dist"))
      val best = Window.partitionBy(col("query_id"))
        .orderBy(col("adc_dist").asc, col("vec_id").asc)
      adc.withColumn("nn_rank", row_number().over(best))
        .filter(col("nn_rank") <= 5)
        .select(col("query_id"), col("nn_rank"), col("vec_id"), col("adc_dist"))
    },

    // ---- S10: IVF + ADC composed (the FAISS IVFADC recipe) ------------------
    // s2 prunes the SCAN (search only the query's cell); s8 compresses the
    // SCAN (search codes, not vectors). Billion-scale ANN composes both —
    // FAISS's IVFADC (Jégou et al., "Product Quantization for Nearest
    // Neighbor Search", TPAMI 2011): the inverted cell list bounds WHICH
    // codes are read, the ADC table bounds WHAT each candidate costs (4
    // lookups + a sum; vectors are never touched at query time). Same
    // integer-exact contract as s8 (sample codebooks, micro-unit
    // coordinates, deterministic argmin tiebreaks), nprobe=1 on the label
    // cell (the s2 stand-in for a KMeans coarse quantizer; residual
    // encoding is a codebook-QUALITY refinement, orthogonal to the
    // machinery gated here). At 100 TB the cells are parquet partitions —
    // the cell equi-condition IS partition pruning — and per-query work is
    // |cell|/|corpus| of s8's, with the same KB-sized broadcast tables.
    QueryDef(
      "s10_ivf_adc",
      "IVF+ADC composed (FAISS IVFADC): PQ codes probed only within the query's cell — cell pruning times 32x code compression in one plan; integer-exact encode/search, oracle = the identical arithmetic unrolled with the cell restriction",
      Some("""
        WITH qv AS (
          SELECT vec_id, label,
                 CAST((t.j - 1) // 16 AS INTEGER) AS sub, t.j AS j,
                 CAST(round_even(CAST(embedding[t.j] AS DOUBLE) * 1000000, 0) AS BIGINT) AS v
          FROM embeddings, unnest(range(1, 65)) AS t(j)),
        cb AS (SELECT vec_id AS cid, sub, j, v AS cv FROM qv WHERE vec_id < 4),
        dists AS (
          SELECT a.vec_id, a.label, a.sub, c.cid,
                 CAST(SUM((a.v - c.cv) * (a.v - c.cv)) AS BIGINT) AS dist
          FROM qv a JOIN cb c ON a.sub = c.sub AND a.j = c.j
          GROUP BY 1, 2, 3, 4),
        codes AS (
          SELECT vec_id, label, sub, cid AS code FROM (
            SELECT vec_id, label, sub, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                      ORDER BY dist, cid) AS rn
            FROM dists) WHERE rn = 1),
        qtab AS (
          SELECT vec_id AS query_id, label AS q_label, sub, cid, dist AS qdist
          FROM dists WHERE vec_id BETWEEN 4 AND 11),
        adc AS (
          SELECT t.query_id, c.vec_id, CAST(SUM(t.qdist) AS BIGINT) AS adc_dist
          FROM codes c JOIN qtab t ON c.sub = t.sub AND c.code = t.cid
                                  AND c.label = t.q_label
          GROUP BY 1, 2)
        SELECT query_id, nn_rank, vec_id, adc_dist FROM (
          SELECT query_id, vec_id, adc_dist,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY adc_dist, vec_id) AS nn_rank
          FROM adc) WHERE nn_rank <= 5
      """)) { (spark, dir) =>
      val nSub = 4; val subDim = 16
      val q = Tables.embeddings(spark, dir).select(col("vec_id"), col("label"),
        transform(col("embedding"),
          x => bround(x.cast("double") * lit(1e6), 0).cast("long")).as("qv"))
      val cb = q.filter(col("vec_id") < 4)
        .select(col("vec_id").as("cid"), col("qv").as("cv"))
      def subDist(s: Int): Column = aggregate(
        zip_with(slice(col("qv"), s * subDim + 1, subDim),
          slice(col("cv"), s * subDim + 1, subDim),
          (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x)
      // the cell id (label) rides the same dists frame that serves encode
      // and the query tables — the only s8 delta is the equi-condition
      val dists = q.crossJoin(broadcast(cb))
        .select(col("vec_id"), col("label"), col("cid"),
          explode(array((0 until nSub).map(s =>
            struct(lit(s).as("sub"), subDist(s).as("dist"))): _*)).as("e"))
        .select(col("vec_id"), col("label"), col("e.sub").as("sub"),
          col("cid"), col("e.dist").as("dist"))
      val codes = dists.groupBy(col("vec_id"), col("label"), col("sub"))
        .agg(min(struct(col("dist"), col("cid"))).as("m"))
        .select(col("vec_id"), col("label"), col("sub"), col("m.cid").as("code"))
      val qtab = dists.filter(col("vec_id").between(4, 11))
        .select(col("vec_id").as("query_id"), col("label").as("q_label"),
          col("sub").as("qsub"), col("cid"), col("dist").as("qdist"))
      // candidate cost = 4 code lookups + a sum, and only same-cell codes
      // are probed: the broadcast qtab carries the query's cell, so the
      // join prunes every foreign-cell candidate before any aggregation
      val adc = codes.join(broadcast(qtab),
          col("sub") === col("qsub") && col("code") === col("cid") &&
            col("label") === col("q_label"))
        .groupBy(col("query_id"), col("vec_id"))
        .agg(sum(col("qdist")).as("adc_dist"))
      val best = Window.partitionBy(col("query_id"))
        .orderBy(col("adc_dist").asc, col("vec_id").asc)
      adc.withColumn("nn_rank", row_number().over(best))
        .filter(col("nn_rank") <= 5)
        .select(col("query_id"), col("nn_rank"), col("vec_id"), col("adc_dist"))
    },

    // ---- S11: index-quality evaluation — recall@10 of IVF vs exact ---------
    // The missing piece of an ANN deployment: every approximate index
    // (s2/s5/s8/s10) trades recall for scan cost, and the trade must be
    // MEASURED before a 100 TB corpus is served from it — FAISS publishes
    // recall@k curves for exactly this reason. The standard estimator is
    // sampled-query recall: for a small probe set, compute exact top-k
    // (one brute-force corpus scan — affordable because the probe set is
    // tiny and broadcast) and the index's top-k, and report
    // |approx ∩ exact| / k per query. Both legs are the already-audited s1
    // and s2 shapes; the overlap join touches only the 8×10-row id sets,
    // so the whole evaluation adds two bounded windows and one id-keyed
    // left join on top of machinery the catalog already gates. At 100 TB
    // this runs on the same sampled probe set — cost is one corpus scan,
    // independent of index size.
    QueryDef(
      "s11_ivf_recall",
      "ANN index-quality evaluation: recall@10 of the IVF cell-pruned search (s2 shape) against the exact brute-force top-10 (s1 shape) per sampled query — the FAISS-style recall curve point a 100 TB ANN deployment is gated on",
      Some(s"""
        WITH exact AS (
          SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                      ORDER BY ${cosineSql("q.embedding", "c.embedding")} DESC, c.vec_id) AS rk
            FROM embeddings q JOIN embeddings c ON q.vec_id < 8 AND c.vec_id <> q.vec_id)
          WHERE rk <= 10),
        ivf AS (
          SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                      ORDER BY ${cosineSql("q.embedding", "c.embedding")} DESC, c.vec_id) AS rk
            FROM embeddings q
            JOIN embeddings c ON q.vec_id < 8 AND c.label = q.label AND c.vec_id <> q.vec_id)
          WHERE rk <= 10)
        SELECT e.query_id, COUNT(i.neighbor_id) AS n_overlap,
               COUNT(i.neighbor_id) / 10.0 AS recall_at_10
        FROM exact e LEFT JOIN ivf i
          ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
        GROUP BY e.query_id
      """)) { (spark, dir) =>
      val e = Tables.embeddings(spark, dir)
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("label").as("q_label"),
          col("embedding").as("q_emb"), norm(col("embedding")).as("q_norm"))
      val c = e.select(col("vec_id").as("neighbor_id"), col("label"),
        col("embedding").as("c_emb"), norm(col("embedding")).as("c_norm"))
      val rk = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_sim").desc, col("neighbor_id"))
      val cos = (dot(col("q_emb"), col("c_emb"))
        / (col("q_norm") * col("c_norm"))).as("cos_sim")
      // ground truth: ONE corpus scan fanned against the broadcast probe
      // set (the s1 plan); at any corpus size the probe set stays 8 rows
      val exact = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"), cos)
        .withColumn("rk", row_number().over(rk)).filter(col("rk") <= 10)
        .select(col("query_id"), col("neighbor_id"))
      // the index under test: same-cell candidates only (the s2 plan) —
      // recall < 1 exactly when a true neighbor lives in a foreign cell
      val ivf = c.join(broadcast(q),
          col("label") === col("q_label") && col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"), cos)
        .withColumn("rk", row_number().over(rk)).filter(col("rk") <= 10)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
      // overlap over the two 8x10-row id sets: count survives the left
      // join only where the index found the true neighbor
      exact.join(ivf, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(col("hit")).as("n_overlap"))
        .select(col("query_id"), col("n_overlap"),
          (col("n_overlap") / lit(10.0)).as("recall_at_10"))
    },

    // ---- S12: the recall CURVE — recall@10 at nprobe ∈ {1, 2, 4} -----------
    // s11 measures one point; a deployment decision needs the curve (FAISS
    // publishes recall-vs-nprobe for exactly this trade). Here the IVF gains
    // a real probe ranking: per-label centroids (s6's nano-quantized integer
    // accumulators, assembled into a dim-ordered array so BOTH engines fold
    // the same integers left-to-right), each query ranks cells by the
    // EXACT-integer-input distance  Σ_d (n·q_d − s_d)²  (≡ n²·‖q − s/n‖²,
    // rank-equivalent to L2-to-centroid; products in double but from
    // integers, same IEEE ops in the same dim order on both engines — no
    // float-mean nondeterminism can flip a probe rank), then scans the top
    // `nprobe` cells. Recall is monotone in nprobe BY CONSTRUCTION (a true
    // top-10 member in the candidate set can never be pushed below rank 10
    // — at most 9 vectors score above it), so the emitted curve is also a
    // correctness gate. Cost: the ground-truth corpus scan is shared across
    // legs; the probe side stays queries × Σnprobe ≤ 56 rows broadcast —
    // at 100 TB the curve costs one corpus scan plus the s2-shaped pruned
    // scans it is evaluating anyway.
    QueryDef(
      "s12_ivf_recall_curve",
      "ANN recall curve: recall@10 of centroid-ranked IVF probing at nprobe in {1,2,4} vs exact top-10 — per-label nano-quantized integer centroids rank the cells deterministically on both engines; monotone in nprobe by construction",
      Some(s"""
        WITH cent AS (
          SELECT label, i AS pos,
                 SUM(CAST(round_even(CAST(embedding[i + 1] AS DOUBLE) * 1e9, 0) AS BIGINT)) AS s,
                 COUNT(*) AS n
          FROM embeddings, unnest(range(0, len(embedding))) AS t(i)
          GROUP BY 1, 2),
        centv AS (
          SELECT label, list(s ORDER BY pos) AS cs, MAX(n) AS n
          FROM cent GROUP BY label),
        q AS (
          SELECT vec_id AS query_id, embedding,
                 list_transform(embedding,
                   x -> CAST(round_even(CAST(x AS DOUBLE) * 1e9, 0) AS BIGINT)) AS qn
          FROM embeddings WHERE vec_id < 8),
        probes AS (
          SELECT query_id, label,
                 ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY pdist ASC, label) AS pr
          FROM (
            SELECT q.query_id, c.label,
                   list_sum(list_transform(list_zip(q.qn, c.cs),
                     x -> (CAST(x[1] AS DOUBLE) * c.n - CAST(x[2] AS DOUBLE))
                        * (CAST(x[1] AS DOUBLE) * c.n - CAST(x[2] AS DOUBLE)))) AS pdist
            FROM q CROSS JOIN centv c)),
        np AS (SELECT * FROM (VALUES (1), (2), (4)) AS t(nprobe)),
        exact AS (
          SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                      ORDER BY ${cosineSql("q.embedding", "c.embedding")} DESC, c.vec_id) AS rk
            FROM embeddings q JOIN embeddings c ON q.vec_id < 8 AND c.vec_id <> q.vec_id)
          WHERE rk <= 10),
        ivf AS (
          SELECT nprobe, query_id, neighbor_id FROM (
            SELECT n.nprobe, p.query_id, c.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY n.nprobe, p.query_id
                                      ORDER BY ${cosineSql("qq.embedding", "c.embedding")} DESC, c.vec_id) AS rk
            FROM np n
            JOIN probes p ON p.pr <= n.nprobe
            JOIN embeddings qq ON qq.vec_id = p.query_id
            JOIN embeddings c ON c.label = p.label AND c.vec_id <> p.query_id)
          WHERE rk <= 10)
        SELECT n.nprobe, e.query_id, COUNT(i.neighbor_id) AS n_overlap,
               COUNT(i.neighbor_id) / 10.0 AS recall_at_10
        FROM np n CROSS JOIN exact e
        LEFT JOIN ivf i ON i.nprobe = n.nprobe AND e.query_id = i.query_id
                       AND e.neighbor_id = i.neighbor_id
        GROUP BY 1, 2
      """)) { (spark, dir) =>
      val e = Tables.embeddings(spark, dir)
      // s6's centroid accumulators, per label: nano-quantized integer sums
      // assembled into a pos-ordered array + the member count — exact and
      // partition-order-independent, so the probe ranking below cannot be
      // flipped by float-mean summation order on either engine
      val cent = e
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos"))
        .agg(sum(bround(col("v").cast("double") * lit(1e9), 0).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .groupBy(col("label"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("s")))),
          x => x("s")).as("cs"), max(col("n")).as("n"))
      val q = e.filter(col("vec_id") < 8).select(
        col("vec_id").as("query_id"),
        col("embedding").as("q_emb"),
        norm(col("embedding")).as("q_norm"),
        transform(col("embedding"),
          x => bround(x.cast("double") * lit(1e9), 0).cast("long")).as("qn"))
      // rank the cells per query: Σ_d (n·q_d − s_d)² over exact integer
      // inputs, folded left-to-right in double exactly like the oracle's
      // list_sum — 8 queries × |labels| rows, all tiny and broadcast
      val probeRank = Window.partitionBy(col("query_id"))
        .orderBy(col("pdist").asc, col("label"))
      val probes = q.crossJoin(broadcast(cent))
        .withColumn("pdist", aggregate(
          zip_with(col("qn"), col("cs"),
            (a, b) => (a.cast("double") * col("n") - b.cast("double"))
              * (a.cast("double") * col("n") - b.cast("double"))),
          lit(0.0), (acc, x) => acc + x))
        .withColumn("pr", row_number().over(probeRank))
        .select(col("query_id"), col("q_emb"), col("q_norm"), col("label"), col("pr"))
      val np = spark.range(1)
        .select(explode(array(lit(1), lit(2), lit(4))).as("nprobe"))
      // probe legs: (nprobe, query, probed label) ≤ 8 × (1+2+4) KEY rows —
      // the query vectors stay behind; the legs only steer the join below
      val legs = probes.crossJoin(broadcast(np)).filter(col("pr") <= col("nprobe"))
        .select(col("nprobe"), col("query_id"), col("label"))
      val cos = (dot(col("q_emb"), col("c_emb"))
        / (col("q_norm") * col("c_norm"))).as("cos_sim")
      val c = e.select(col("vec_id").as("neighbor_id"), col("label"),
        col("embedding").as("c_emb"), norm(col("embedding")).as("c_norm"))
      // Round-17 (VERDICT r16 #6): ONE scored corpus scan feeds both the
      // ground truth and every IVF leg. The old plan ran the
      // scan + broadcast-join + cosine pipeline TWICE (exact leg and
      // probed-cell leg are differently-pruned subtrees, so nothing
      // reused); the probed-cell candidates are a SUBSET of the exact
      // leg's candidate set — (query, candidate-label) pairs selected by
      // `legs` — so they derive from the same scored rows by a broadcast
      // key join. materialize computes the scored set once (tiny:
      // |queries| × corpus rows of 4 scalar columns).
      val scored = graft.operators.Reuse.materialize(
        c.join(broadcast(q.select(col("query_id"), col("q_emb"), col("q_norm"))),
            col("neighbor_id") =!= col("query_id"))
          .select(col("query_id"), col("neighbor_id"), col("label"), cos))
      val rkIvf = Window.partitionBy(col("nprobe"), col("query_id"))
        .orderBy(col("cos_sim").desc, col("neighbor_id"))
      val ivf = scored.join(broadcast(legs), Seq("query_id", "label"))
        .select(col("nprobe"), col("query_id"), col("neighbor_id"), col("cos_sim"))
        .withColumn("rk", row_number().over(rkIvf)).filter(col("rk") <= 10)
        .select(col("nprobe"), col("query_id"), col("neighbor_id"), lit(1).as("hit"))
      val rkEx = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_sim").desc, col("neighbor_id"))
      val exact = scored
        .withColumn("rk", row_number().over(rkEx)).filter(col("rk") <= 10)
        .select(col("query_id"), col("neighbor_id"))
      exact.crossJoin(broadcast(np))
        .join(ivf, Seq("nprobe", "query_id", "neighbor_id"), "left")
        .groupBy(col("nprobe"), col("query_id"))
        .agg(count(col("hit")).as("n_overlap"))
        .select(col("nprobe"), col("query_id"), col("n_overlap"),
          (col("n_overlap") / lit(10.0)).as("recall_at_10"))
    })
}
