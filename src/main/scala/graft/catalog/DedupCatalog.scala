package graft.catalog

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.io.Tables

/** Document-deduplication operators for the training-data-pipeline extension
  * (north star, SURVEY §7.1 step 8): exact hash dedup, MinHash+LSH banding,
  * n-gram Jaccard verification, SimHash signatures.
  *
  * Shingling, hashing, and band construction are pure `functions._`
  * higher-order expressions (no UDFs, fully codegen'd). Hash values are MD5
  * hex strings; a lexicographic MIN over fixed-width lowercase hex equals the
  * numeric MIN, and MD5 is byte-identical across engines, which is what makes
  * these oracle-checkable bit-for-bit in DuckDB.
  *
  * Scale notes (100 TB): every step is a groupBy/join on a derived key —
  * shuffle-partitionable with no driver-side state. The LSH band join
  * (d2) is the scale path: candidate generation cost is O(docs × bands),
  * never O(docs²); d3's exact-Jaccard join is the *verify* stage you run on
  * LSH candidates, shown standalone here because the corpus is small.
  */
object DedupCatalog {

  /** Largest prime below 2^30 — the universal-hash modulus for minhash
    * (shared with the SQL function registration in GraftExtensions). */
  private val MinhashP = graft.functions.GraftExtensions.DefaultModulus

  /** Nine fixed (a, b) affine coefficients, all < P: h_s = (a·h + b) mod P. */
  private val minhashCoeffs: Seq[(Long, Long)] =
    graft.functions.GraftExtensions.DefaultCoeffs

  /** Hot-bucket ceiling for every pair-expansion stage (d2/d3/d5): a
    * shingle/band/chunk shared by more than this many docs is boilerplate —
    * it carries no dedup signal and would otherwise concentrate an O(n²)
    * expansion (and an unbounded collect_list buffer) on one reducer.
    * Enforced pre-collect (windowed count, filter, THEN collect_list) by
    * [[graft.operators.Dedup.boundedDocLists]]; mirrored in each oracle
    * as `HAVING COUNT(*) BETWEEN 2 AND cap`. */
  private val MaxBucket = graft.operators.Dedup.DefaultMaxBucket

  /** d8/x10 share one star-contraction run: the CC label set is memoized
    * per (session, dir) exactly like ExtensionCatalog.graphScores — x10 is
    * d8's labels plus a pure md5-bucket map, and at corpus scale a second
    * full contraction is the single most expensive thing in the catalog.
    * The entry is the final star forest's label projection, checkpointed
    * and materialized so both consumers read blocks (the contraction's own
    * free discipline only preserves the LAST round's edge set; pinning the
    * projection keeps reuse safe even if a future refactor frees it).
    * Session-keyed because a DataFrame is unusable cross-session; no
    * eviction — one tiny label table per fixture dir for the session's
    * lifetime. */
  private val ccLabelCache =
    new Memo[(org.apache.spark.sql.SparkSession, String), org.apache.spark.sql.DataFrame]

  private def ccLabelsDF(
      spark: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    ccLabelCache((spark, dir)) {
      // Reuse.materialize: RELIABLE checkpoint under a configured dir
      // (cluster-survivable), localCheckpoint only as the bare-session
      // fallback — the round-10 g6 posture applied to every one-shot
      // multi-consumer reuse site.
      graft.operators.Reuse.materialize(
        graft.operators.ConnectedComponents
          .label(simhashPairsDF(spark, dir), "doc1", "doc2"))
    }

  /** Doc ids that ride the d3/d5 packed-long encodings must fit 31 bits: a
    * doc_id in [2^31, 2^32) would set the sign bit of `doc<<32 | other`,
    * breaking both array_sort's doc ordering inside the buckets and the
    * arithmetic-shift unpack (advisor round-5 finding). Enforced loudly —
    * a wider corpus remaps ids (dense ranks) before dedup. */
  private def packableDocId(c: Column): Column =
    when(c >= 0 && c < (1L << 31), c)
      .otherwise(raise_error(lit(
        "doc_id outside [0, 2^31) cannot ride the packed-long dedup path: remap ids first")))

  /** Private shingle key for d7/b1 (round-16, the d3 rationale): the hash
    * never reaches the output — both queries emit doc ids and counts only —
    * so it does not need the cross-engine md5 bridge the oracle uses on its
    * side; xxhash64 (native, codegen'd) replaces md5+hex-conv, which
    * profiling showed at ~40% of the d3-shaped pipelines. Engines can
    * disagree only if a 64-bit collision merges two distinct shingles
    * (birthday bound ~1e-9 at 260k shingles/SF — the md5 path carried its
    * own 2^-60 collision term anyway). */
  private def shingleHash(c: Column): Column = xxhash64(c)

  /** Whitespace tokens of lowercased text. */
  private def toks(c: Column): Column = split(lower(c), " ")

  /** Distinct word 3-gram shingles; empty array when the doc has <3 tokens.
    * Native one-pass construction (graft.functions.WordShingles) — same
    * output as the array_distinct/transform/slice formulation without the
    * intermediate token array, index sequence, and per-window slices. */
  private def shingles(c: Column): Column = graft.functions.WordShingles(c, 3)

  /** Same shingling in DuckDB SQL (1-based list indexing, range upper-exclusive). */
  private val shinglesSql =
    """sh AS (
      |  SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
      |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      |       unnest(range(1, greatest(len(toks) - 1, 1))) AS t(i))""".stripMargin

  /** Shared oracle CTE chain ending in `bands(doc_id, b, band_key)` — the
    * d2 minhash → 3-band pipeline, reused by d10's incremental check. */
  private lazy val minhashBandsCtesSql: String =
    s"""$shinglesSql,
        shl AS (SELECT doc_id, list(shingle) AS shs FROM sh GROUP BY doc_id),
        base AS (
          SELECT doc_id,
                 list_transform(shs,
                   x -> CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) % $MinhashP) AS hs
          FROM shl),
        mh AS (
          SELECT doc_id,
                 [${minhashCoeffs.map { case (a, b) =>
                     s"list_min(list_transform(hs, h -> (h * $a + $b) % $MinhashP))"
                   }.mkString(", ")}] AS mhs
          FROM base),
        bands AS (
          SELECT doc_id, b,
                 CAST(mhs[b*3+1] AS VARCHAR) || '|' || CAST(mhs[b*3+2] AS VARCHAR)
                   || '|' || CAST(mhs[b*3+3] AS VARCHAR) AS band_key
          FROM mh, unnest(range(0, 3)) AS t(b))"""

  /** d2's candidate pairs `(doc1, doc2)`, shared with d12's edit-distance
    * verify. Pairs via per-bucket doc lists instead of a self-join: a
    * self-join (broadcast here) evaluates the whole minhash pipeline TWICE
    * — once per side. Grouping evaluates it once; pairs expand inside one
    * array expression. boundedDocLists caps buckets at MaxBucket (hot-band
    * OOM guard). */
  private def lshCandidatePairsDF(
      spark: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val bands = minhashBandsDF(spark, dir)
    val buckets = graft.operators.Dedup.boundedDocLists(
      bands, Seq("b", "band_key"), col("doc_id"), MaxBucket)
    buckets.select(explode(flatten(
        transform(col("docs"), (x, i) =>
          transform(slice(col("docs"), i + 2, size(col("docs"))),
            y => struct(x.as("doc1"), y.as("doc2")))))).as("p"))
      .select(col("p.doc1").as("doc1"), col("p.doc2").as("doc2"))
      .distinct()
  }

  /** The shared oracle CTE for d2/d12: `cand(doc1, doc2)` = the LSH
    * candidate pairs (band buckets of 2..MaxBucket members, ordered pairs). */
  private lazy val lshCandidatesCteSql: String =
    s"""$minhashBandsCtesSql,
        bsz AS (SELECT b, band_key FROM bands GROUP BY b, band_key
                HAVING COUNT(*) BETWEEN 2 AND $MaxBucket),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc1, c.doc_id AS doc2
          FROM bands a
          JOIN bsz USING (b, band_key)
          JOIN bands c ON a.b = c.b AND a.band_key = c.band_key AND a.doc_id < c.doc_id)"""

  /** The d2 band pipeline `(doc_id, b, band_key)`, shared with d10.
    * One-pass native signature (graft.functions.MinHashSignature): one md5
    * per shingle with a reused digest, all 9 minima in a single compiled
    * loop — replaces 10 interpreted HOF passes per document. Null
    * signatures (docs with <3 tokens) are dropped: concat_ws never returns
    * null, so an all-null signature would otherwise band such docs into a
    * shared "" bucket — the oracle emits no rows for them. */
  private def minhashBandsDF(
      spark: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    // documentsFanned + NO isNotNull filter: a `.filter(mhs.isNotNull)`
    // gets predicate-pushed below the exchange onto the single scan task,
    // where it evaluates the ENTIRE minhash pipeline a second time (the d3
    // round-6 profiling finding, worse here because minhash is the CPU-heavy
    // one). Null signatures are instead dropped inside the generator: the
    // when() guard nulls the band array and posexplode of a null array
    // emits no rows — same semantics, one evaluation, post-fan parallel.
    val sh = Tables.documentsFanned(spark, dir)
      .select(col("doc_id"), shingles(col("text")).as("shingles"))
    val mhs = sh.select(col("doc_id"),
      graft.functions.MinHashSignature(col("shingles"), minhashCoeffs, MinhashP).as("mhs"))
    mhs.select(col("doc_id"),
        posexplode(when(col("mhs").isNotNull,
          transform(sequence(lit(0), lit(2)),
            b => concat_ws("|",
              element_at(col("mhs"), b * 3 + 1),
              element_at(col("mhs"), b * 3 + 2),
              element_at(col("mhs"), b * 3 + 3))))))
      .withColumnRenamed("pos", "b").withColumnRenamed("col", "band_key")
  }

  val all: Seq[QueryDef] = Seq(

    // ---- D1: exact dedup by content hash ----------------------------------
    QueryDef(
      "d1_exact_dedup",
      "North-star dedup: exact duplicate grouping by md5(normalized text); canonical id = min per group",
      Some("""
        SELECT d.doc_id,
               g.canonical_id,
               g.dup_count
        FROM documents d
        JOIN (SELECT md5(lower(trim(text))) AS h,
                     MIN(doc_id) AS canonical_id,
                     COUNT(*) AS dup_count
              FROM documents GROUP BY 1) g
          ON md5(lower(trim(d.text))) = g.h
      """)) { (spark, dir) =>
      val d = Tables.documents(spark, dir).withColumn("h", md5(lower(trim(col("text")))))
      val groups = d.groupBy(col("h"))
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("dup_count"))
      d.join(groups, Seq("h"))
        .select(col("doc_id"), col("canonical_id"), col("dup_count"))
    },

    // ---- D2: MinHash + LSH banding candidate pairs ------------------------
    // Universal-hashing minhash: ONE md5 per shingle reduced to a <2^30 int,
    // then 9 independent affine variants h_s = (a_s·h + b_s) mod P — integer
    // ops instead of 9 md5 calls per shingle (the md5-per-seed variant spent
    // 50 s at sf0.1; this runs in ~2 s). a·h < 2^60 so the product cannot
    // overflow BIGINT on either engine (DuckDB errors on overflow).
    QueryDef(
      "d2_minhash_lsh_candidates",
      "North-star dedup: MinHash (9 universal-hash seeds) → 3 LSH bands of 3 → bucket-join candidate pairs; O(docs×bands), never O(docs²)",
      Some(s"""
        WITH $minhashBandsCtesSql,
        bsz AS (SELECT b, band_key FROM bands GROUP BY b, band_key
                HAVING COUNT(*) BETWEEN 2 AND $MaxBucket)
        SELECT DISTINCT a.doc_id AS doc1, c.doc_id AS doc2
        FROM bands a
        JOIN bsz USING (b, band_key)
        JOIN bands c ON a.b = c.b AND a.band_key = c.band_key AND a.doc_id < c.doc_id
      """)) { (spark, dir) =>
      lshCandidatePairsDF(spark, dir)
    },

    // ---- D3: exact n-gram Jaccard near-dup pairs --------------------------
    // The pair join runs on the 60-bit shingle hash, not the shingle string:
    // an 8-byte shuffle key instead of ~20-char strings. Both engines hash
    // identically, so results (collisions included, p≈2^-60) stay equal.
    QueryDef(
      "d3_ngram_jaccard_pairs",
      "North-star dedup: word-3-gram Jaccard >= 0.5 near-duplicate pairs (the verify stage of LSH dedup)",
      Some(s"""
        WITH $shinglesSql,
        shh AS (SELECT doc_id, CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h FROM sh),
        cnt AS (SELECT doc_id, COUNT(*) AS n FROM shh GROUP BY doc_id),
        keep AS (SELECT h FROM shh GROUP BY h HAVING COUNT(*) BETWEEN 2 AND $MaxBucket),
        inter AS (
          SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS shared
          FROM shh a JOIN keep USING (h) JOIN shh b ON a.h = b.h AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT doc1, doc2,
               shared * 1.0 / (c1.n + c2.n - shared) AS jaccard
        FROM inter
        JOIN cnt c1 ON doc1 = c1.doc_id
        JOIN cnt c2 ON doc2 = c2.doc_id
        WHERE shared * 1.0 / (c1.n + c2.n - shared) >= 0.5
      """)) { (spark, dir) =>
      // ONE evaluation of the shingle pipeline: hash every shingle inside
      // the per-doc array (transform, codegen'd), so the per-doc size |A|
      // comes for free as size(hs) — the previous shape fed an exploded
      // (doc, h) stream into TWO branches (a per-doc count aggregate and
      // the bucket build), which Spark evaluates twice, then paid two joins
      // to stitch the counts back on at the end.
      //
      // The hash here is a PRIVATE grouping key — no hash value reaches the
      // output (doc ids + jaccard only), so unlike d2's minhash base it
      // does not need to be cross-engine reproducible. xxhash64 (native,
      // codegen'd, ~ns/shingle) replaces the md5+hex-conv path, which
      // profiling showed was ~40% of the whole query. Engines can disagree
      // only if a 64-bit collision merges two distinct shingles
      // (birthday bound ~1e-9 at 260k shingles/SF — and the md5 path
      // carried its own 2^-60 collision term anyway).
      // No size>0 filter here: explode() already emits nothing for empty or
      // null shingle arrays, and an explicit filter gets predicate-pushed
      // BELOW the fan exchange, where it evaluates the shingle pipeline a
      // second time on the single scan task (profiled: the pushed filter
      // serialized the whole hash pass onto one core before the fan).
      val docSh = Tables.documentsFanned(spark, dir)
        .select(col("doc_id"),
          graft.functions.HashedWordShingles(col("text"), 3).as("hs"))
      // Each bucket member is doc_id and |doc| packed into ONE long
      // (doc_id<<24 | n): doc ids fit 32 bits by corpus contract, and
      // 2^24 distinct 3-gram shingles implies a >100 MB document — far
      // past the engine's document envelope. n is a function of doc_id, so
      // array_sort on packed values keeps the same doc_id ordering (and
      // pair orientation) as before.
      val packed = docSh.select(
        explode(col("hs")).as("shingle"),
        (shiftleft(packableDocId(col("doc_id")).cast("long"), 24) + size(col("hs"))).as("dn"))
      // boundedDocLists drops shingles shared by >MaxBucket docs before any
      // list is collected (hot-shingle OOM guard). Recall contract: such
      // shingles are boilerplate and contribute to NO pair's intersection;
      // per-doc sizes `n` still count them, so a pair sharing mostly
      // boilerplate (correctly) cannot reach the 0.5 threshold.
      val docLists = graft.operators.Dedup.boundedDocLists(
        packed, Seq("shingle"), col("dn"), MaxBucket)
      // Pair expansion as ONE native expression (PairCandidates): the pair
      // key is packed into a long (doc1<<32 | doc2) and the jaccard
      // size-ratio prune runs INSIDE the expansion before any row exists —
      // jaccard >= 0.5 needs 3·shared >= n1+n2 and shared <= min(n1,n2),
      // so a pair with n1+n2 > 3·min(n1,n2) can never pass. Only
      // s = n1+n2 rides the shuffle (|A∪B| = s − shared is all the
      // denominator needs), 12 bytes per candidate, min() of a per-key
      // constant, no join anywhere in the plan.
      val pairs = docLists
        .select(explode(graft.functions.PairCandidates(col("docs"))).as("p"))
        .select(col("p.pk").as("pk"), col("p.s").as("s"))
      val inter = pairs
        .groupBy(col("pk")).agg(count(lit(1)).as("shared"), min(col("s")).as("s"))
      // shared/(n1+n2-shared): integer-exact inputs, one double division —
      // bit-identical across engines, so the 0.5 threshold cannot flap.
      val jac = col("shared") * lit(1.0) / (col("s") - col("shared"))
      inter
        .filter(jac >= 0.5)
        .select(shiftrightunsigned(col("pk"), 32).as("doc1"),
          col("pk").bitwiseAND(lit(0xffffffffL)).as("doc2"), jac.as("jaccard"))
    },

    // ---- D4: SimHash signatures ------------------------------------------
    QueryDef(
      "d4_simhash_signature",
      "North-star dedup: 32-bit SimHash over token frequencies; bit j = sign of sum(±count) keyed on md5 hex digit high-bit",
      Some(simhashOracleSql)) { (spark, dir) =>
      simhashDF(spark, dir)
    },

    // ---- D5: SimHash near-dup pairs via chunk banding ---------------------
    QueryDef(
      "d5_simhash_neardup_pairs",
      "North-star dedup: hamming<=1 SimHash pairs; 2x16-bit chunk banding bounds candidates (a <=1-bit flip preserves at least one exact chunk), hamming verified only on candidates",
      Some(simhashPairsOracleSql)) { (spark, dir) =>
      simhashPairsDF(spark, dir)
    },

    // ---- D8: transitive duplicate clusters over near-dup pairs ------------
    QueryDef(
      "d8_connected_components",
      "North-star dedup: transitive closure of d5's near-dup pairs into per-document cluster labels via alternating large-star/small-star connected components (operators/ConnectedComponents) — the step between LSH pair emission and cluster-level canonical selection; O(log n) rounds of pure groupBy+join, no driver state",
      Some(s"""
        WITH RECURSIVE $simhashPairsCtesSql,
        edges AS (
          SELECT doc1 AS u, doc2 AS v FROM pairs
          UNION
          SELECT doc2 AS u, doc1 AS v FROM pairs),
        reach(u, l) AS (
          SELECT u, v AS l FROM edges
          UNION
          SELECT e.u, r.l FROM edges e JOIN reach r ON r.u = e.v),
        comp AS (SELECT u AS doc_id, LEAST(u, MIN(l)) AS component_id
                 FROM reach GROUP BY u),
        sizes AS (SELECT component_id, COUNT(*) AS component_size
                  FROM comp GROUP BY component_id)
        SELECT d.doc_id,
               COALESCE(c.component_id, d.doc_id) AS component_id,
               CAST(COALESCE(s.component_size, 1) AS BIGINT) AS component_size
        FROM documents d
        LEFT JOIN comp c ON d.doc_id = c.doc_id
        LEFT JOIN sizes s ON c.component_id = s.component_id
      """)) { (spark, dir) =>
      // The oracle's recursive CTE is the SPEC (transitive closure:
      // O(n·m) tuples, fine on a fixture, lethal at corpus scale); the
      // implementation is the star-contraction operator, whose per-round
      // cost is a groupBy+join over the edge set only. Labels cover only
      // docs that appear in some pair (the edge set at 100 TB is far
      // smaller than the corpus), so singleton docs never enter a shuffle:
      // they get their own id back via the left join + coalesce.
      val labels = ccLabelsDF(spark, dir)
      // cluster sizes on the tiny label set (one row per paired doc), then
      // joined back onto labels — never a window over the full corpus
      val sizes = labels.groupBy("component").agg(count(lit(1)).as("component_size"))
      Tables.documents(spark, dir).select(col("doc_id"))
        .join(labels.join(sizes, "component"), col("doc_id") === col("node"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component_id"),
          coalesce(col("component_size"), lit(1L)).as("component_size"))
    },

    // ---- X10: leakage-proof train/val/test sharding ------------------------
    // The x7 hash split has a blind spot every real pretraining pipeline
    // hits: two NEAR-DUPLICATE documents hash independently, so one lands
    // in train and its twin in test — evaluation contamination that d7
    // then has to detect after the fact. The fix is structural: shard by
    // the d8 CLUSTER id, so an entire near-dup cluster moves as one unit
    // and the train/eval boundary can never split a duplicate pair.
    QueryDef(
      "x10_cluster_shard",
      "Leakage-proof 80/10/10 sharding: the x7 md5 split applied to the d8 cluster id instead of the doc id — near-duplicate clusters move as one unit across the train/eval boundary, so twins can never straddle it; same determinism contract (pure function of content-derived ids, engine/partitioning/run-independent)",
      Some(s"""
        WITH RECURSIVE $simhashPairsCtesSql,
        edges AS (
          SELECT doc1 AS u, doc2 AS v FROM pairs
          UNION
          SELECT doc2 AS u, doc1 AS v FROM pairs),
        reach(u, l) AS (
          SELECT u, v AS l FROM edges
          UNION
          SELECT e.u, r.l FROM edges e JOIN reach r ON r.u = e.v),
        comp AS (SELECT u AS doc_id, LEAST(u, MIN(l)) AS component_id
                 FROM reach GROUP BY u),
        lbl AS (
          SELECT d.doc_id, COALESCE(c.component_id, d.doc_id) AS component_id
          FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
        SELECT doc_id, component_id, bucket,
               CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'val'
                    ELSE 'test' END AS shard
        FROM (SELECT doc_id, component_id,
                     ('0x' || substr(md5(CAST(component_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket
              FROM lbl)
      """)) { (spark, dir) =>
      val labels = ccLabelsDF(spark, dir)
      val assigned = Tables.documents(spark, dir).select(col("doc_id"))
        .join(labels, col("doc_id") === col("node"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component_id"))
      // identical bucket rule to x7, keyed on the cluster id: every member
      // of a cluster shares the bucket, hence the shard
      val bucket = graft.functions.Md5Bucket(col("component_id"), 100)
      assigned.withColumn("bucket", bucket)
        .withColumn("shard",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val")
            .otherwise("test"))
    },

    // ---- D10: incremental dedup — new batch vs existing corpus -------------
    // Continuous-ingestion dedup: an incoming batch is checked against the
    // CORPUS's minhash band index without recomputing anything over the
    // corpus pairs. At 100 TB the corpus side is a pre-materialized,
    // bucketed band-index table (band aggregates, not documents), the
    // batch's bands broadcast against it, and only colliding buckets are
    // read — ingestion-time near-dup rejection at O(batch), not O(corpus).
    // Here the doc_id >= 400 slice stands in for the incoming batch.
    QueryDef(
      "d10_incremental_dedup",
      "North-star dedup: incremental near-dup check — new-batch docs (doc_id >= 400) probed against the existing corpus's minhash band aggregates (count-capped buckets, min corpus doc per bucket); returns the matched canonical and how many bands collided, O(batch) work against a prebuilt index",
      Some(s"""
        WITH $minhashBandsCtesSql,
        cagg AS (
          SELECT b, band_key, MIN(doc_id) AS min_doc
          FROM bands WHERE doc_id < 400
          GROUP BY b, band_key
          HAVING COUNT(*) <= $MaxBucket)
        SELECT nb.doc_id, MIN(cg.min_doc) AS matched_doc,
               CAST(COUNT(DISTINCT nb.b) AS BIGINT) AS n_shared_bands
        FROM bands nb
        JOIN cagg cg USING (b, band_key)
        WHERE nb.doc_id >= 400
        GROUP BY nb.doc_id
      """)) { (spark, dir) =>
      val bands = minhashBandsDF(spark, dir)
      // the corpus band INDEX: per-bucket aggregates only (min doc id as
      // the canonical candidate), hot boilerplate bands dropped by the same
      // MaxBucket ceiling as d2 — this is the table you materialize once
      // and bucket by (b, band_key) at warehouse scale
      val cagg = bands.filter(col("doc_id") < 400)
        .groupBy(col("b"), col("band_key"))
        .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("min_doc"))
        .filter(col("cnt") <= MaxBucket)
        .drop("cnt")
      bands.filter(col("doc_id") >= 400)
        .join(cagg, Seq("b", "band_key"))
        .groupBy(col("doc_id"))
        .agg(min(col("min_doc")).as("matched_doc"),
          countDistinct(col("b")).as("n_shared_bands"))
    },

    // ---- D9: end-to-end corpus build ---------------------------------------
    // The capstone composition: the whole "raw documents → training corpus"
    // pipeline as ONE declarative plan — length gate, exact-dedup canonical
    // selection, deterministic 80/10/10 shard split, then mixture
    // reweighting applied to the TRAIN shard only (eval shards are never
    // resampled). Because it is one plan, Catalyst sees every stage at
    // once: the length filter pushes below the dedup window, the window's
    // rank<=1 runs as WindowGroupLimit, the shard/mixture stages are
    // map-only on the survivors, and nothing materializes between stages —
    // the property that matters when the input is 100 TB and the stages
    // would otherwise each pay a full write+read cycle.
    QueryDef(
      "d9_corpus_build",
      "End-to-end training-corpus build in one plan: token-length gate -> exact-dedup canonical (min doc per content hash) -> md5 80/10/10 shard -> per-language mixture resampling of the train shard only (en 1.25, zh 2.0, default 0.8)",
      Some(s"""
        WITH kept AS (
          SELECT doc_id, lang, text
          FROM documents
          WHERE len(string_split(lower(text), ' ')) BETWEEN 5 AND 1000),
        canon AS (
          SELECT doc_id, lang
          FROM (SELECT doc_id, lang,
                       ROW_NUMBER() OVER (PARTITION BY md5(lower(trim(text)))
                                          ORDER BY doc_id) AS rk
                FROM kept)
          WHERE rk = 1),
        sharded AS (
          SELECT doc_id, lang,
                 CASE WHEN bucket < 80 THEN 'train'
                      WHEN bucket < 90 THEN 'val'
                      ELSE 'test' END AS shard
          FROM (SELECT doc_id, lang,
                       ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket
                FROM canon)),
        train AS (
          SELECT doc_id, lang, shard, CAST(t.c AS BIGINT) AS copy
          FROM (SELECT doc_id, lang, shard,
                       CASE lang WHEN 'en' THEN 1 WHEN 'zh' THEN 2 ELSE 0 END
                       + CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000
                                   < CASE lang WHEN 'en' THEN 2500 WHEN 'zh' THEN 0 ELSE 8000 END
                              THEN 1 ELSE 0 END AS n_copies
                FROM sharded WHERE shard = 'train'),
               unnest(range(0, n_copies)) AS t(c))
        SELECT doc_id, lang, shard, copy FROM train
        UNION ALL
        SELECT doc_id, lang, shard, CAST(0 AS BIGINT) AS copy
        FROM sharded WHERE shard <> 'train'
      """)) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val kept = Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("text"))
        .filter(size(toks(col("text"))).between(5, 1000))
      // d1's canonical rule as a rank-1 window: WindowGroupLimit pushes the
      // limit into the sort, so no hash group ever materializes fully
      val canon = kept
        .withColumn("rk", row_number().over(
          Window.partitionBy(md5(lower(trim(col("text"))))).orderBy(col("doc_id"))))
        .filter(col("rk") === 1)
        .select(col("doc_id"), col("lang"))
      val bucket = graft.functions.Md5Bucket(col("doc_id"), 100)
      val sharded = canon.withColumn("shard",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
      // ONE pass for both branches: train rows get the mixture copy count,
      // eval shards exactly one copy — a union of filtered branches would
      // duplicate the whole scan+dedup subtree in the plan (verified via
      // Explain: two parquet scans), which is precisely what this capstone
      // exists to avoid at corpus scale
      val n = when(col("shard") === "train",
        graft.operators.MixtureSample.copies(
          col("doc_id"), col("lang"), Map("en" -> 1.25, "zh" -> 2.0), 0.8))
        .otherwise(lit(1L))
      sharded.withColumn("_n", n)
        .filter(col("_n") > 0)
        .withColumn("copy", explode(sequence(lit(0L), col("_n") - 1)))
        .select(col("doc_id"), col("lang"), col("shard"), col("copy"))
    },

    // ---- D7: benchmark decontamination -------------------------------------
    // The eval-set overlap check every pretraining pipeline runs: flag
    // training documents sharing >= 3 distinct word-3-gram shingles with
    // ANY evaluation document (here the eval set is the doc_id < 25 slice
    // of the corpus — at production scale it is a benchmark suite, tiny by
    // definition, so its distinct-shingle set BROADCASTS and the check is
    // a map-side semi-join over the training scan: no shuffle of the big
    // side, no pair blowup).
    QueryDef(
      "d7_decontamination",
      "North-star dedup: train-vs-eval n-gram contamination — training docs sharing >=3 distinct 3-gram shingles with the (broadcastable) eval set, with the shared count",
      Some(s"""
        WITH $shinglesSql,
        shh AS (SELECT doc_id, CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h FROM sh),
        eval_sh AS (SELECT DISTINCT h FROM shh WHERE doc_id < 25)
        SELECT t.doc_id, COUNT(*) AS n_shared
        FROM shh t JOIN eval_sh e ON t.h = e.h
        WHERE t.doc_id >= 25
        GROUP BY t.doc_id
        HAVING COUNT(*) >= 3
      """)) { (spark, dir) =>
      val sh = Tables.documentsFanned(spark, dir)
        .select(col("doc_id"), explode(shingles(col("text"))).as("shingle"))
        .select(col("doc_id"), shingleHash(col("shingle")).as("h"))
      val evalSh = sh.filter(col("doc_id") < 25).select(col("h")).distinct()
      sh.filter(col("doc_id") >= 25)
        .join(broadcast(evalSh), Seq("h"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 3)
    },

    // ---- B1: bloom-prefiltered decontamination ----------------------------
    // d7 broadcasts the eval shingle SET — fine while the eval suite is
    // small. When the contamination reference is itself large (a seen-URL
    // corpus, a blocklist of billions of shingles), the scale move is a
    // FIXED-SIZE mergeable bloom filter (graft.functions.BloomBuildAgg):
    // built in one aggregate (map-side combined, OR-merged), shipped to
    // every task as a literal of a few hundred KB, probed inside
    // whole-stage codegen. Bloom "no" is definitive (no false negatives),
    // so only the suspects — a vanishing fraction of the corpus — reach the
    // exact confirmation join, and the final answer is byte-identical to
    // the exact plan the oracle runs.
    QueryDef(
      "b1_bloom_decontamination",
      "North-star dedup: bloom-prefiltered decontamination — clean training docs via a fixed-size mergeable filter over eval shingle hashes, suspects exactly confirmed (result ≡ exact anti-join)",
      Some(s"""
        WITH $shinglesSql,
        shh AS (SELECT doc_id, CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h FROM sh),
        eval_sh AS (SELECT DISTINCT h FROM shh WHERE doc_id < 25),
        contaminated AS (
          SELECT DISTINCT t.doc_id FROM shh t JOIN eval_sh e ON t.h = e.h
          WHERE t.doc_id >= 25)
        SELECT d.doc_id
        FROM (SELECT DISTINCT doc_id FROM shh WHERE doc_id >= 25) d
        WHERE d.doc_id NOT IN (SELECT doc_id FROM contaminated)
      """)) { (spark, dir) =>
      val sh = Tables.documentsFanned(spark, dir)
        .select(col("doc_id"), explode(shingles(col("text"))).as("shingle"))
        .select(col("doc_id"), shingleHash(col("shingle")).as("h"))
      val evalSh = sh.filter(col("doc_id") < 25).select(col("h")).distinct()
      // fixed-size filter collected to the driver — KBs whatever the eval size
      val bloom = evalSh
        .agg(graft.functions.BloomBits.bloomBuild(col("h"), numBits = 1L << 20))
        .head.getAs[Array[Byte]](0)
      val train = sh.filter(col("doc_id") >= 25)
      // only bloom suspects reach the exact join; a bloom "no" never lies
      val confirmed = train
        .withColumn("maybe",
          graft.functions.BloomBits.bloomMightContain(lit(bloom), col("h")))
        .filter(col("maybe"))
        .join(broadcast(evalSh), Seq("h"), "left_semi")
        .select(col("doc_id")).distinct()
      // The clean-doc roster only needs "has >=1 shingle", not the hash
      // pipeline — and a doc has >=1 distinct 3-gram shingle iff it has
      // >=3 whitespace tokens (same split both sides), so the roster tests
      // the TOKEN COUNT instead of building every shingle array (round-16:
      // the shingle-set construction was ~all of this pass's CPU).
      // `confirmed` is a vanishing fraction of the corpus by construction,
      // so the anti-join broadcasts.
      Tables.documentsFanned(spark, dir)
        .filter(col("doc_id") >= 25 && size(split(lower(col("text")), " ")) >= 3)
        .select(col("doc_id"))
        .join(broadcast(confirmed), Seq("doc_id"), "left_anti")
    },

    // ---- B2: bloom runtime-filter join pruning -----------------------------
    // b1's direction is anti-join (drop what the reference set contains);
    // b2 is the SEMI direction — the runtime-filter pattern: a KB bloom
    // over the dimension side's join keys prefilters the fact SCAN before
    // the join, so rows that cannot match never enter the shuffle/probe.
    // Semantically transparent by construction: a bloom "no" is definitive
    // (those rows could never join) and false positives die in the real
    // join — which is why the ORACLE is the PLAIN join, and the hash match
    // proves the prefilter changed nothing. At 100 TB this is the
    // difference between shuffling the fact table and dropping 90% of it
    // at the scan; Spark's own runtime row-group filters cover simple
    // equi-joins, but an explicit mergeable bloom composes with arbitrary
    // downstream plans (and streams — see EventStreams.dropProbablySeen).
    // The key hash is xxhash64: Spark-side only (the filter never reaches
    // the output), so cross-engine md5 parity is not needed here.
    QueryDef(
      "b2_bloom_join_prune",
      "Runtime-filter join pruning: KB bloom over the dim side's keys prefilters the fact scan before the join — false positives die in the join, so the oracle is the PLAIN join and the hash match proves transparency",
      Some("""
        SELECT s.s_nationkey,
               COUNT(*) AS n_lines,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM lineitem l
        JOIN (SELECT s_suppkey, s_nationkey FROM supplier WHERE s_acctbal > 9000) s
          ON l.l_suppkey = s.s_suppkey
        GROUP BY 1
      """)) { (spark, dir) =>
      val dim = Tables.supplier(spark, dir)
        .filter(col("s_acctbal") > 9000)
        .select(col("s_suppkey"), col("s_nationkey"))
      // fixed-size filter collected once — KBs whatever the dim size
      val bloom = dim
        .agg(graft.functions.BloomBits.bloomBuild(
          xxhash64(col("s_suppkey")), numBits = 1L << 17))
        .head.getAs[Array[Byte]](0)
      Tables.lineitem(spark, dir)
        .filter(graft.functions.BloomBits.bloomMightContain(
          lit(bloom), xxhash64(col("l_suppkey"))))
        .join(broadcast(dim), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("revenue"))
    },

    // ---- D6: canonical selection — keep the best doc per dup cluster ------
    // d1 answers "which docs are duplicates"; the pipeline's next question
    // is "which ONE do we keep". Rank each exact-dup cluster by the t2
    // quality gate (desc, doc_id tiebreak) and keep rank 1 — one shuffle on
    // the content hash, rank-limit window (WindowGroupLimit pushes the
    // rn=1 filter map-side in Spark 4).
    QueryDef(
      "d6_canonical_keep_best",
      "North-star dedup: per-duplicate-cluster canonical selection — keep the highest-quality doc (t2 gate score, doc_id tiebreak) of each exact-hash group",
      Some("""
        WITH q AS (
          SELECT doc_id,
                 md5(lower(trim(text))) AS h,
                 (CASE WHEN len(toks) BETWEEN 20 AND 200 THEN 1 ELSE 0 END
                  + CASE WHEN len(list_filter(toks, x -> list_contains(
                      ['the','a','of','and','to','in','is','it'], x))) * 1.0 / len(toks) >= 0.05
                    THEN 1 ELSE 0 END
                  + CASE WHEN len(list_distinct(toks)) * 1.0 / len(toks) >= 0.3
                    THEN 1 ELSE 0 END) AS quality_score
          FROM (SELECT doc_id, text, string_split(lower(text), ' ') AS toks FROM documents))
        SELECT doc_id AS canonical_id, dup_count, quality_score
        FROM (SELECT doc_id, quality_score,
                     COUNT(*) OVER (PARTITION BY h) AS dup_count,
                     ROW_NUMBER() OVER (PARTITION BY h
                       ORDER BY quality_score DESC, doc_id ASC) AS rn
              FROM q)
        WHERE rn = 1
      """)) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val en = Seq("the", "a", "of", "and", "to", "in", "is", "it")
      val t = Tables.documents(spark, dir).select(
        col("doc_id"),
        md5(lower(trim(col("text")))).as("h"),
        split(lower(col("text")), " ").as("toks"))
      val stopHits = size(filter(col("toks"),
        x => array_contains(array(en.map(lit): _*), x)))
      val q = t.select(col("doc_id"), col("h"),
        (when(size(col("toks")).between(20, 200), 1).otherwise(0)
          + when(stopHits * lit(1.0) / size(col("toks")) >= 0.05, 1).otherwise(0)
          + when(size(array_distinct(col("toks"))) * lit(1.0) / size(col("toks")) >= 0.3, 1)
            .otherwise(0)).as("quality_score"))
      val cluster = Window.partitionBy(col("h"))
      val best = Window.partitionBy(col("h"))
        .orderBy(col("quality_score").desc, col("doc_id").asc)
      q.withColumn("dup_count", count(lit(1)).over(cluster))
        .withColumn("rn", row_number().over(best))
        .filter(col("rn") === 1)
        .select(col("doc_id").as("canonical_id"), col("dup_count"), col("quality_score"))
    },

    // ---- D11: exact span dedup (token-chunk granularity) ------------------
    // Whole-document dedup (d1) misses the dominant contamination mode of
    // web corpora: boilerplate SPANS repeated across otherwise-distinct
    // pages. The ExactSubstr answer (public: Lee et al., "Deduplicating
    // Training Data Makes Language Models Better") removes repeated spans,
    // keeping the first occurrence. Re-expressed Spark-shaped at fixed
    // 10-token chunk granularity: explode docs into indexed chunks (map-
    // only), pick each chunk's global first occurrence with ONE window over
    // the chunk-content shuffle — partitioned by md5(chunk) so the sort key
    // is 32 fixed bytes, not the span text — then rebuild every document
    // from its surviving chunks with ONE groupBy(doc_id). Two shuffles
    // total, both on uniform keys; no suffix array, no driver state. A doc
    // whose every chunk is someone else's boilerplate simply vanishes —
    // the pipeline's intended outcome, not an edge case.
    QueryDef(
      "d11_span_dedup",
      "North-star dedup: exact span dedup at 10-token-chunk granularity — global first occurrence (doc_id, chunk_idx) wins, documents rebuilt from surviving chunks",
      Some("""
        WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        chunks AS (
          SELECT doc_id, i AS chunk_idx,
                 array_to_string(t[((i-1)*10+1):(i*10)], ' ') AS chunk
          FROM toks, unnest(range(1, CAST(ceil(len(t) / 10.0) AS BIGINT) + 1)) AS u(i)),
        keep AS (
          SELECT doc_id, chunk_idx, chunk,
                 ROW_NUMBER() OVER (PARTITION BY chunk
                   ORDER BY doc_id, chunk_idx) AS rn
          FROM chunks)
        SELECT doc_id,
               string_agg(chunk, ' ' ORDER BY chunk_idx) AS dedup_text,
               COUNT(*) AS n_kept
        FROM keep WHERE rn = 1
        GROUP BY doc_id
      """)) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val chunkLen = 10
      // the size>0 guard closes a latent divergence: sequence(1, 0) defaults
      // to step -1 and would emit [1, 0] — two spurious chunks — where the
      // oracle's range(1, 1) emits none. Unreachable today (split of non-null
      // text is never empty), but empty docs must drop out on BOTH engines.
      val t = Tables.documentsFanned(spark, dir)
        .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
        .filter(size(col("t")) > 0)
      val chunks = t.select(
        col("doc_id"),
        explode(transform(
          sequence(lit(1L), ceil(size(col("t")) / lit(chunkLen.toDouble)), lit(1L)),
          i => struct(
            i.cast("long").as("chunk_idx"),
            array_join(
              slice(col("t"), ((i - 1) * chunkLen + 1).cast("int"), lit(chunkLen)),
              " ").as("chunk")))).as("c"))
        .select(col("doc_id"), col("c.chunk_idx"), col("c.chunk"))
      // first-occurrence window keyed on the chunk DIGEST: fixed-width
      // 32-byte shuffle/sort keys; rn=1 pushes map-side as WindowGroupLimit
      val first = Window.partitionBy(md5(col("chunk")))
        .orderBy(col("doc_id"), col("chunk_idx"))
      chunks.withColumn("rn", row_number().over(first))
        .filter(col("rn") === 1)
        .groupBy(col("doc_id"))
        .agg(
          array_join(
            transform(
              array_sort(collect_list(struct(col("chunk_idx"), col("chunk")))),
              s => s("chunk")),
            " ").as("dedup_text"),
          count(lit(1)).as("n_kept"))
    },

    // ---- D12: edit-distance verify over LSH candidates --------------------
    // d3 verifies d2's candidates at n-gram (set) granularity; d12 is the
    // CHARACTER-granular verify — Levenshtein distance plus a normalized
    // similarity — for near-dup regimes where token sets barely move but
    // characters do (OCR noise, templated spam with inline substitutions).
    // Cost discipline: levenshtein is O(|a|·|b|) per pair, so it NEVER runs
    // all-pairs — only on the MaxBucket-capped LSH candidates (at 100 TB
    // the candidate set is O(docs×bands), and each verify touches two docs'
    // text once). Both engines implement the classic unit-cost DP
    // (insert/delete/substitute), so the distance — and the one double
    // division deriving similarity from exact ints — is hash-identical.
    QueryDef(
      "d12_edit_distance_verify",
      "North-star dedup: Levenshtein verify over d2's MinHash-LSH candidate pairs — exact char-level edit distance + normalized similarity per candidate, the character-granular twin of d3's Jaccard verify; O(candidates), never O(docs^2)",
      Some(s"""
        WITH $lshCandidatesCteSql
        SELECT cand.doc1, cand.doc2,
               levenshtein(d1.text, d2.text) AS edit_dist,
               1.0 - levenshtein(d1.text, d2.text) * 1.0
                     / greatest(len(d1.text), len(d2.text), 1) AS similarity
        FROM cand
        JOIN documents d1 ON cand.doc1 = d1.doc_id
        JOIN documents d2 ON cand.doc2 = d2.doc_id
      """)) { (spark, dir) =>
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      // two id-keyed joins fetch the candidate texts; the distance runs
      // once per pair inside the projection (codegen'd builtin)
      val withTexts = lshCandidatePairsDF(spark, dir)
        .join(docs.select(col("doc_id").as("doc1"), col("text").as("t1")), Seq("doc1"))
        .join(docs.select(col("doc_id").as("doc2"), col("text").as("t2")), Seq("doc2"))
      // identical-string fast path: levenshtein(x, x) = 0 by definition, and
      // equality is O(n) where the DP is O(n·m) — on a duplicate-heavy
      // corpus (the regime LSH candidates come from: verbatim twins, the
      // gen_scale replication) most candidate pairs ARE byte-identical, so
      // this guard removes the quadratic work exactly where volume is
      // (66 → ~8 s at the sf1.0 10×-replica fixture); distances unchanged
      val dist = when(col("t1") === col("t2"), lit(0))
        .otherwise(levenshtein(col("t1"), col("t2")))
      withTexts.select(
        col("doc1"), col("doc2"), dist.as("edit_dist"),
        // exact ints → ONE double division, then the subtraction: pinned in
        // the same order as the oracle so the value is bit-identical
        (lit(1.0) - dist * lit(1.0)
          / greatest(length(col("t1")), length(col("t2")), lit(1))).as("similarity"))
    },

    // ---- D13: C4-style boilerplate n-gram filter --------------------------
    // d11 keeps a repeated span's FIRST occurrence; d13 is the other public
    // dedup posture (C4, Raffel et al.): a window repeated across enough
    // DISTINCT documents is boilerplate (headers, navigation, license
    // blurbs) and counts against every document carrying it. Per doc:
    // window count, boilerplate-window count, the fraction, and the keep
    // gate. Two shuffles on uniform keys (window hash, then doc_id); the
    // n-gram→doc-count table is the only intermediate and it shrinks with
    // distinct-window cardinality, not corpus size. The window hash is a
    // PRIVATE grouping key (only per-doc counts reach the output), so
    // xxhash64 replaces the md5 path — d3's justification: engines diverge
    // only on a 64-bit collision merging two distinct windows (~1e-9).
    QueryDef(
      "d13_boilerplate_ngrams",
      "North-star dedup: C4-style boilerplate filter at word-5-gram granularity — windows shared by >= 3 distinct docs are boilerplate; per-doc window/boilerplate counts, fraction, and the keep gate",
      Some("""
        WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        wins AS (
          SELECT doc_id, array_to_string(t[i:i+4], ' ') AS ng
          FROM toks, unnest(range(1, greatest(len(t) - 3, 1))) AS u(i)),
        nd AS (SELECT ng, COUNT(DISTINCT doc_id) AS ndocs FROM wins GROUP BY ng),
        per AS (
          SELECT w.doc_id, COUNT(*) AS n_windows,
                 CAST(SUM(CASE WHEN nd.ndocs >= 3 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_boilerplate
          FROM wins w JOIN nd USING (ng) GROUP BY 1)
        SELECT d.doc_id,
               COALESCE(per.n_windows, 0) AS n_windows,
               COALESCE(per.n_boilerplate, 0) AS n_boilerplate,
               CASE WHEN per.n_windows IS NULL THEN 0.0
                    ELSE per.n_boilerplate * 1.0 / per.n_windows END AS boilerplate_frac,
               CASE WHEN per.n_windows IS NULL THEN TRUE
                    ELSE per.n_boilerplate * 1.0 / per.n_windows < 0.5 END AS keep
        FROM documents d LEFT JOIN per USING (doc_id)
      """)) { (spark, dir) =>
      // Window key: each TOKEN is xxhash64'd once, and every 5-gram window
      // hashes the 5-tuple of token hashes (round-17, the d14 idiom /
      // guide §4 expression cost): the old form built a joined STRING per
      // window (≈5× the corpus bytes re-copied and re-hashed, one alloc
      // per window); this form hashes each token's bytes once and then 5
      // longs per window, all codegen. The key stays a private 64-bit
      // xxhash64 — same collision posture as before, only the input
      // encoding changed (token-hash tuple instead of the joined string).
      val t = Tables.documentsFanned(spark, dir)
        .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
        .withColumn("tv", transform(col("t"), w => xxhash64(w)))
      // size<5 docs: when() nulls the array and explode emits nothing —
      // same one-evaluation posture as minhashBandsDF (no pushed filter
      // re-running the window pipeline below the fan exchange)
      val wins = t.select(col("doc_id"),
        explode(when(size(col("t")) >= 5,
          transform(sequence(lit(1), size(col("t")) - 4),
            i => xxhash64(
              element_at(col("tv"), i),
              element_at(col("tv"), i + 1),
              element_at(col("tv"), i + 2),
              element_at(col("tv"), i + 3),
              element_at(col("tv"), i + 4))))).as("h"))
      // Round-17 reshape (guide §2.3 shuffle fewer bytes / §3.1 broadcast
      // the small side): the old plan joined EVERY window occurrence
      // against the FULL n-gram roster and only then tested ndocs >= 3 —
      // a wins-sized exchange plus a vocabulary-sized build side, to
      // attribute a property that a small fraction of hashes have. The
      // roster is now filtered to the boilerplate hashes BEFORE the join
      // back, so the join's build side is the (small) boilerplate set —
      // broadcastable at any SF where boilerplate stays a fraction of the
      // vocabulary — and the probe side's exchange disappears; per-doc
      // n_boilerplate is a count of the surviving occurrences. n_windows
      // itself is pure arithmetic on the token count (len-4 windows for
      // len >= 5, else none) — no join at all.
      val bp = wins.groupBy(col("h"))
        .agg(count_distinct(col("doc_id")).as("ndocs"))
        .filter(col("ndocs") >= 3).select(col("h"))
      val nb = wins.join(bp, Seq("h"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_boilerplate"))
      val nWin = when(size(split(lower(col("text")), " ")) >= 5,
        (size(split(lower(col("text")), " ")) - 4).cast("long")).otherwise(0L)
      Tables.documents(spark, dir).select(col("doc_id"), nWin.as("n_windows"))
        .join(nb, Seq("doc_id"), "left")
        .select(col("doc_id"),
          col("n_windows"),
          coalesce(col("n_boilerplate"), lit(0L)).as("n_boilerplate"),
          when(col("n_windows") === 0, lit(0.0))
            .otherwise(coalesce(col("n_boilerplate"), lit(0L)) * lit(1.0)
              / col("n_windows"))
            .as("boilerplate_frac"),
          when(col("n_windows") === 0, lit(true))
            .otherwise(coalesce(col("n_boilerplate"), lit(0L)) * lit(1.0)
              / col("n_windows") < 0.5)
            .as("keep"))
    },

    // ---- D14: exact-substring dedup (stride-1, the suffix-array form) -----
    // d11's fixed 10-token chunks MISS a duplicate span that straddles a
    // chunk boundary (the two copies chunk at different alignments, so no
    // chunk is shared — ExactSubstrSpec constructs the case). The published
    // answer (Lee et al. 2022, "Deduplicating Training Data Makes Language
    // Models Better") is suffix-array ExactSubstr: remove every ≥50-token
    // span that occurs elsewhere in the corpus, keeping the first
    // occurrence. A length-≥50 duplicate substring exists iff some
    // 50-token window (stride 1) is duplicated, so the suffix-array
    // criterion re-expresses Spark-shaped as: hash every stride-1 50-token
    // window (O(corpus tokens) rows — the same asymptotic footprint as the
    // suffix array itself), find each window's global first occurrence,
    // and erase the 50 tokens under every LATER occurrence. Skew
    // discipline: "first occurrence" is a groupBy(window-hash) MIN over a
    // packed (doc_id, pos) long — partial-aggregated map-side, so a
    // boilerplate window with 1e9 occurrences at 100 TB combines locally
    // instead of sorting one reducer (the row_number-per-window form d11
    // uses would funnel exactly there; its buckets are 10x coarser so it
    // tolerates it). Only occurrences of DUPLICATED windows (HAVING n>1)
    // survive the join back, so the 50x position fan-out pays out on
    // duplicated spans only; the rebuild is one anti-join plus one
    // groupBy(doc_id), both uniform-keyed.
    //
    // Window hashing (round-12, retiring the round-11 md5-of-concat): each
    // TOKEN is md5'd once (1× corpus bytes — the irreducible cross-engine
    // string→int bridge, the simhash idiom) into a 60-bit int, and every
    // 50-token window hash is a polynomial FOLD over the already-hashed int
    // slice under three distinct 31-bit primes — ~150 integer multiply-mods
    // per window instead of materializing and md5-ing a ~300-byte string
    // per position (which re-touched ~50× the corpus bytes and allocated
    // every window). All arithmetic stays under 2^52 (acc < 2^31, base <
    // 2^20), map-only, identical on both engines. The triple (h1,h2,h3) is
    // a ~93-bit key: at 1e13 windows (100 TB) the expected number of
    // colliding PAIRS is n²/2^94 ≈ 0.005 — collision-free in practice, and
    // the shuffle key shrinks from a 32-char string to three longs. (The
    // O(1)-per-window prefix-sum rolling form would need a per-doc
    // (doc_id, pos) sort — one EXTRA corpus-wide exchange; the slice fold
    // keeps the stage map-only, which wins at scale.)
    //
    // Self-overlap semantics (documented contract, pinned by
    // ExactSubstrSpec's periodic-text case): occurrences are erased by pk
    // order WITHOUT excluding overlaps within the same document, so in
    // periodic text (a token or phrase repeating back-to-back) the windows
    // at pos 2..P are "later occurrences" of the pos-1 window and erase
    // the first occurrence itself down to its first tokens. This is MORE
    // aggressive than Lee et al.'s span semantics on self-overlapping
    // repeats — deliberate: periodic filler is exactly what a training
    // corpus wants gone, and the rule stays one MIN + one anti-join with
    // no within-doc interval logic. Both engines implement the same rule.
    QueryDef(
      "d14_exact_substring_dedup",
      "North-star dedup: ExactSubstr (Lee et al. 2022) at stride-1 50-token windows — per-token md5 once, 3x31-bit polynomial fold per window (no 50x byte re-hash), global first occurrence wins, later (incl. self-overlapping) occurrences erased, documents rebuilt",
      Some("""
        WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t
                      FROM documents WHERE text IS NOT NULL),
        tv AS (SELECT doc_id, t,
                      list_transform(t, w -> ('0x' || substr(md5(w), 1, 15))::BIGINT) AS v
               FROM toks),
        wins AS (
          SELECT doc_id, i AS pos,
                 list_reduce(list_prepend(CAST(0 AS BIGINT), v[i:i+49]),
                   (acc, x) -> (acc * 1000003 + x % 2147483647) % 2147483647) AS h1,
                 list_reduce(list_prepend(CAST(0 AS BIGINT), v[i:i+49]),
                   (acc, x) -> (acc * 1000033 + x % 2147483629) % 2147483629) AS h2,
                 list_reduce(list_prepend(CAST(0 AS BIGINT), v[i:i+49]),
                   (acc, x) -> (acc * 1000037 + x % 2147483587) % 2147483587) AS h3,
                 CAST(doc_id AS BIGINT) * 4294967296 + i AS pk
          FROM tv, unnest(range(1, len(t) - 48)) AS u(i)
          WHERE len(t) >= 50),
        dups AS (SELECT h1, h2, h3, MIN(pk) AS first_pk FROM wins
                 GROUP BY 1, 2, 3 HAVING COUNT(*) > 1),
        removed AS (
          SELECT DISTINCT w.doc_id, w.pos + g.j AS tokpos
          FROM wins w JOIN dups USING (h1, h2, h3), unnest(range(0, 50)) AS g(j)
          WHERE w.pk <> dups.first_pk),
        tokens AS (
          SELECT doc_id, len(t) AS n_toks, u.i AS tokpos, t[u.i] AS w
          FROM toks, unnest(range(1, len(t) + 1)) AS u(i)),
        kept AS (
          SELECT tk.doc_id, tk.n_toks, tk.tokpos, tk.w FROM tokens tk
          WHERE NOT EXISTS (SELECT 1 FROM removed r
                            WHERE r.doc_id = tk.doc_id AND r.tokpos = tk.tokpos))
        SELECT doc_id, MAX(n_toks) AS n_toks, COUNT(*) AS n_kept,
               MAX(n_toks) - COUNT(*) AS n_removed,
               string_agg(w, ' ' ORDER BY tokpos) AS dedup_text
        FROM kept GROUP BY 1
      """)) { (spark, dir) =>
      val W = 50
      // same empty-doc guard as d11: split of non-null text is never empty
      // today, but an empty array must drop out on BOTH engines
      val t = Tables.documentsFanned(spark, dir)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
        .filter(size(col("t")) > 0)
        // ONE md5 per token (the cross-engine string→int bridge), then every
        // window hash derives from this int array — no per-window string
        // materialization
        .withColumn("tv",
          transform(col("t"), w => conv(substring(md5(w), 1, 15), 16, 10).cast("long")))
      // All stride-1 window hashes in ONE native rolling pass per document
      // (graft.functions.RollingWindowHashes — ~12 integer ops per window,
      // O(tokens) per doc regardless of W; scaladoc there explains why the
      // HOF fold form was retired). Docs below W tokens yield null and
      // explode emits nothing — the d13 one-evaluation posture. pk packs
      // (doc_id, pos) into one long (doc_id < 2^31 per the d3/d5 fixture
      // contract, pos < 2^32), so the global first occurrence is a plain
      // MIN — map-side combined, skew-immune.
      val wins = t.select(col("doc_id"),
        explode(graft.functions.RollingWindowHashes(col("tv"), W)).as("x"))
        .select(col("doc_id"), col("x.pos"),
          col("x.h1"), col("x.h2"), col("x.h3"),
          (col("doc_id").cast("long") * lit(4294967296L) + col("x.pos")).as("pk"))
      val dups = wins.groupBy(col("h1"), col("h2"), col("h3"))
        .agg(min(col("pk")).as("first_pk"), count(lit(1)).as("n"))
        .filter(col("n") > 1)
        .select(col("h1"), col("h2"), col("h3"), col("first_pk"))
      // Later occurrences of duplicated windows erase their W positions.
      // Round-17 rebuild (guide §2.3 shuffle fewer bytes / §8 decide with
      // small rows, move heavy rows once): the erase set travels as one
      // LONG per erased occurrence (its start position), aggregated to one
      // row per doc — the previous shape exploded all W positions per
      // occurrence, distinct'd them, then shuffled EVERY token of the
      // corpus through an anti-join on (doc_id, tokpos) and re-sorted each
      // document back together with a collect_list window. The rebuild is
      // now a doc-level left join (both sides one row per doc) and a
      // map-only array rewrite over the token array the scan already
      // carries: expand starts to removed positions in-row, array_except
      // them from the position range (order-preserving), slice the kept
      // tokens out. Shuffled bytes drop from (50× starts + every token +
      // every kept token) to exactly one long per erased occurrence.
      val removedStarts = wins.join(dups, Seq("h1", "h2", "h3"))
        .filter(col("pk") =!= col("first_pk"))
        .groupBy(col("doc_id"))
        .agg(collect_list(col("pos")).as("starts"))
      val fullRange = sequence(lit(1L), size(col("t")).cast("long"))
      // clean docs (no erased window — the common case) skip the rewrite
      val keptPos = when(col("starts").isNull, fullRange)
        .otherwise(array_except(fullRange,
          flatten(transform(col("starts"),
            p => sequence(p, p + lit((W - 1).toLong))))))
      t.select(col("doc_id"), col("t"))
        .join(removedStarts, Seq("doc_id"), "left")
        .select(col("doc_id"), col("t"),
          size(col("t")).cast("long").as("n_toks"), keptPos.as("kp"))
        .select(col("doc_id"), col("n_toks"),
          size(col("kp")).cast("long").as("n_kept"),
          (col("n_toks") - size(col("kp")).cast("long")).as("n_removed"),
          when(size(col("kp")) === size(col("t")), array_join(col("t"), " "))
            .otherwise(array_join(
              transform(col("kp"), p => element_at(col("t"), p.cast("int"))), " "))
            .as("dedup_text"))
        // the oracle's `kept` GROUP BY emits no row for a fully-erased doc
        .filter(col("n_kept") > 0)
    })

  /** Shared SimHash signature frame: (doc_id, 32-char bitstring) — a
    * map-only projection through the native one-pass expression
    * (graft.functions.SimHashSignature): one tight loop per document,
    * digest bytes straight to bit accumulators, NO shuffle. Replaces the
    * round-2/3 shapes (explode → groupBy(doc,tok) → 32 aggregates →
    * groupBy(doc): two exchanges of the token table, and before that 32
    * substring-CASE string ops per row — the judge-flagged d4/d5 CPU
    * sink). Σ(±cnt) over distinct tokens equals Σ(±1) over occurrences,
    * so the signature is bit-identical to the oracle's tf-weighted
    * formulation. documentsFanned still spreads the per-doc CPU across
    * cores (the fixture scan is one task without it). */
  private def simhashDF(spark: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.documentsFanned(spark, dir).select(col("doc_id"),
      graft.functions.SimHashSignature(split(lower(col("text")), " ")).as("simhash"))

  /** Shared d4/d5 oracle CTE chain ending in `sh(doc_id, simhash)` — the
    * same 4-long integer bit extraction as [[simhashDF]] (DuckDB's
    * `('0x'||…)::BIGINT` equals Spark's `conv(…,16,10)`; both sides sum the
    * identical exact ±cnt integers). */
  private def simhashShSql: String = {
    val longs = (0 until 4)
      .map(g => s"('0x' || substr(h, ${g * 8 + 1}, 8))::BIGINT AS l$g").mkString(", ")
    val bitSums = (0 until 32).map { j =>
      s"SUM((((l${j / 8} >> ${(7 - j % 8) * 4 + 3}) & 1) * 2 - 1) * cnt) AS s$j"
    }.mkString(", ")
    val bits = (0 until 32).map(j => s"CASE WHEN s$j > 0 THEN '1' ELSE '0' END").mkString(" || ")
    s"""tf AS (
        SELECT doc_id, tok, COUNT(*) AS cnt
        FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents)
        GROUP BY doc_id, tok),
      tfl AS (
        SELECT doc_id, cnt, $longs
        FROM (SELECT doc_id, cnt, md5(tok) AS h FROM tf)),
      sums AS (SELECT doc_id, $bitSums FROM tfl GROUP BY doc_id),
      sh AS (SELECT doc_id, $bits AS simhash FROM sums)"""
  }

  /** d4 CTEs + chunk banding + hamming verify, ending in
    * `pairs(doc1, doc2, hamming)` — shared by the d5 oracle and, wrapped in
    * a recursive closure, the d8 oracle. */
  private def simhashPairsCtesSql: String = {
    s"""$simhashShSql,
      chunks AS (
        SELECT doc_id, simhash, c, substr(simhash, c*16+1, 16) AS chunk
        FROM sh, unnest(range(0, 2)) AS t(c)),
      csz AS (SELECT c, chunk FROM chunks GROUP BY c, chunk
              HAVING COUNT(*) BETWEEN 2 AND $MaxBucket),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2,
               a.simhash AS sh1, b.simhash AS sh2
        FROM chunks a
        JOIN csz USING (c, chunk)
        JOIN chunks b
          ON a.c = b.c AND a.chunk = b.chunk AND a.doc_id < b.doc_id),
      pairs AS (
        SELECT doc1, doc2,
               CAST(bit_count(xor(CAST('0b' || sh1 AS BIGINT), CAST('0b' || sh2 AS BIGINT))) AS INTEGER) AS hamming
        FROM cand
        WHERE bit_count(xor(CAST('0b' || sh1 AS BIGINT), CAST('0b' || sh2 AS BIGINT))) <= 1)"""
  }

  /** d5 oracle: the d4 CTEs + chunk banding + hamming verify. */
  private def simhashPairsOracleSql: String =
    s"""
      WITH $simhashPairsCtesSql
      SELECT doc1, doc2, hamming FROM pairs
    """

  /** d5's Spark implementation — the near-dup pair set, shared with d8
    * (which runs connected components over it). */
  private def simhashPairsDF(
      spark: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    // Signatures carried as a 32-bit integer: per-pair hamming is one
    // codegen'd bit_count(xor) instead of 32 substring comparisons.
    val sh = simhashDF(spark, dir)
      .select(col("doc_id"), col("simhash"),
        conv(col("simhash"), 2, 10).cast("long").as("sh_int"))
    val chunks = sh.select(col("doc_id"), col("sh_int"),
        posexplode(array(
          substring(col("simhash"), 1, 16),
          substring(col("simhash"), 17, 16))))
      .withColumnRenamed("pos", "c").withColumnRenamed("col", "chunk")
    // per-bucket doc lists instead of a self-join (which would evaluate
    // the whole signature pipeline once per side) — same trick as d2,
    // with the same MaxBucket hot-chunk ceiling. The bucket member packs
    // (doc_id, sh_int) into ONE long (both fit 32 bits: corpus contract /
    // 32-bit signature), sorted identically to the former
    // struct(doc_id, sh_int) ordering since doc_id takes the high bits.
    val buckets = graft.operators.Dedup.boundedDocLists(
        chunks, Seq("c", "chunk"),
        shiftleft(packableDocId(col("doc_id")), 32) + col("sh_int"), MaxBucket)
      .withColumnRenamed("docs", "ds")
    // hamming is computed and thresholded INSIDE the pair expansion, so
    // the ~92% of candidates that fail never materialize as rows, and the
    // surviving pair travels as one packed long (doc ids fit 32 bits) —
    // the distinct shuffle moves 8-byte keys. A pair matching on both
    // chunks is verified twice, cheaply, instead of being distinct'd
    // first.
    val hits = buckets.select(explode(flatten(
        transform(col("ds"), (x, i) =>
          filter(
            transform(slice(col("ds"), i + 2, size(col("ds"))),
              y => struct(
                (shiftleft(shiftrightunsigned(x, 32), 32) + shiftrightunsigned(y, 32)).as("pk"),
                bit_count((x.bitwiseXOR(y)).bitwiseAND(lit(0xffffffffL)))
                  .as("hamming"))),
            p => p("hamming") <= 1)))).as("p"))
    // hamming is a function of the pair, so distinct on (pk, hamming)
    // equals distinct on the pair
    hits.select(col("p.pk").as("pk"), col("p.hamming").as("hamming"))
      .distinct()
      .select(shiftrightunsigned(col("pk"), 32).as("doc1"),
        col("pk").bitwiseAND(lit(0xffffffffL)).as("doc2"), col("hamming"))
  }

  private def simhashOracleSql: String =
    s"""
      WITH $simhashShSql
      SELECT doc_id, simhash FROM sh
    """
}
