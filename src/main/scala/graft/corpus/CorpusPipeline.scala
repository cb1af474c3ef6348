package graft.corpus

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{GraftExtensions, Md5Bucket, MinHashSignature, WordShingles}
import graft.functions.BloomBits
import graft.operators.{BpeLearn, ConnectedComponents, Dedup, ExactSubstr,
  SemDeDup, SequencePack, UnigramLM}

/** The end-to-end training-corpus pipeline, composed from the library's
  * operators — the user story the catalog entries exercise one at a time:
  *
  *   quality gate (pluggable rule battery) → exact dedup → MinHash-LSH
  *   near-dup clustering (keep best per cluster) → ExactSubstr span
  *   scrubbing → SemDeDup embedding dedup (when embeddings are supplied) →
  *   bloom decontamination against a held-out set → tokenizer training
  *   (BPE or unigram-LM) + per-doc token counts → sequence packing →
  *   deterministic sharding
  *
  * Every stage is the same machinery the oracle-gated queries check
  * (t1/t6/t7/t14/d1/d2+d8/d14/d16/b1/v2+v3 or v4+v5/x8/x7 respectively),
  * wired on arbitrary input DataFrames instead of fixture dirs, with a
  * row-accounting manifest so corpus shrinkage is auditable per stage —
  * and, for the quality gate, per RULE. Deterministic end to end: no RNG,
  * all drop rules are hash- or id-canonical, so two runs (or two
  * clusters) produce identical corpora.
  *
  * TWO OPERATING MODES:
  *  - [[run]] — the full rebuild: raw documents in, training corpus out,
  *    optionally capturing a [[CorpusState]] (`captureState = true`);
  *  - [[runIncremental]] — the daily 100 TB mode: dedup/decontaminate a
  *    NEW document slice against the existing corpus's persisted state
  *    (content hashes, band index, window-hash index, bloom filter,
  *    tokenizer artifacts) at O(slice) cost, never recomputing or
  *    mutating the corpus, then append-pack (the i1 posture). Under the
  *    append-only id contract the result equals a full rebuild of
  *    corpus ∪ slice (CorpusPipelineSpec proves it on a crafted corpus),
  *    with three documented divergence surfaces inherent to incremental
  *    posture: hot LSH buckets (the band index keeps over-cap buckets as
  *    frozen membership rows — cnt saturated at MaxBucket — so a slice
  *    doc matching a hot template DROPS, where a rebuild's pair
  *    generation skips over-cap buckets and may keep it: one-directional,
  *    the dedup-conservative direction for exactly the templates that
  *    duplicate most), a slice doc BRIDGING two existing corpus near-dup
  *    clusters (the d10 posture: the corpus is immutable, so the bridged
  *    clusters' members stay), and the tokenizer, which is REUSED from
  *    state, not retrained (nobody retrains BPE per crawl slice).
  *
  * Scale posture inherited from the parts: the quality battery is a
  * map-only scan-side gate, LSH banding is O(docs×bands) with hot-bucket
  * ceilings, clustering is the SoCC'14 star contraction, ExactSubstr is
  * the rolling-hash window MIN (O(corpus tokens), skew-immune), SemDeDup
  * blocks by k-means cell with a per-cell ceiling, the bloom filter ships
  * as a literal, both tokenizers iterate on the vocab-sized word table,
  * packing is NFD per hash partition. Every piece of [[CorpusState]] is
  * either a DataFrame (a persistable table — at warehouse scale these are
  * bucketed tables the incremental probes co-locate against) or a small
  * artifact, and the index pieces are MERGEABLE (min/sum semantics), so
  * [[runIncremental]] can also roll the state forward for the next slice.
  */
object CorpusPipeline {

  final case class Manifest(stage: String, rows: Long)

  /** The persisted knowledge a built corpus leaves behind for incremental
    * ingestion. DataFrame members are tables (persist them bucketed by
    * their join keys at scale); the rest are small artifacts.
    * [[CorpusState.write]]/[[CorpusState.load]] round-trip the whole
    * thing through a parquet directory layout, so the daily slice job is
    * a FRESH Spark application reading yesterday's state tables — the
    * actual deployment shape, not a same-JVM handoff. */
  final case class CorpusState(
      exactSubstrWindow: Int,
      decontamShingle: Int,
      tokenizer: String,
      maxDocId: Long,
      maxBinId: Long,
      maxBucket: Int,            // the LSH bucket cap the corpus was BUILT
                                 // with — runIncremental reads it from here
                                 // (never a per-slice parameter: a slice
                                 // using a different cap would shift where
                                 // the rolled bandIndex saturates mid-chain)
      contentHashes: DataFrame,  // (content_hash) of the gated corpus docs
      bandIndex: DataFrame,      // (b, band_key, min_doc, cnt<=MaxBucket)
      windowIndex: DataFrame,    // (h1, h2, h3, first_pk, n) over stage-3 survivors
      bloom: Array[Byte],
      refHashes: DataFrame,      // (h) — the held-out set's shingle hashes
      merges: Seq[BpeLearn.Merge],
      unigramVocab: Seq[(String, Long, Long)],
      semThreshold: Double,      // cosine threshold the corpus was built with
      semMaxCell: Int,           // per-cell member ceiling
      semCentroids: DataFrame,   // KMeansQuantized.fit rows; EMPTY when the
                                 // build had no embeddings (probe then skips)
      semCellMembers: DataFrame, // (cid, vec_id, d2, embedding) — final
                                 // corpus docs' vectors, capped per cell
      corpus: DataFrame)         // the packed corpus rows

  object CorpusState {
    // one subdirectory per table, one 1-row meta table for the scalars
    // (the bloom filter rides meta as a binary column — it is KBs)

    /** Persist every piece under `dir` (overwrite). The layout here is
      * plain parquet so [[load]] works anywhere; [[writeBucketed]] is the
      * warehouse-scale variant that persists the probe-index tables
      * bucketed by their join keys.
      *
      * `dir` must NOT be a directory any of the state's own DataFrames
      * read from (round-14 ADVICE): a rolled-forward state's tables are
      * LAZY unions over yesterday's parquet, and mode(overwrite) into the
      * load directory would delete those inputs mid-read — the natural
      * roll-forward call pattern writes each day's state to a FRESH
      * directory and retires the old one after the job commits. Guarded
      * here by inspecting every table's input files, not just documented. */
    def write(state: CorpusState, dir: String): Unit = {
      writeGuard(state, dir)
      def put(name: String, df: DataFrame): Unit =
        df.write.mode("overwrite").parquet(s"$dir/$name")
      put("content_hashes", state.contentHashes)
      put("band_index", state.bandIndex)
      put("window_index", state.windowIndex)
      put("sem_cell_members", state.semCellMembers)
      writeSmall(state, dir, bucketCount = 0)
    }

    /** `dir` qualified against its own filesystem (round-15 ADVICE: an
      * unqualified relative spelling like 'state/' never prefix-matches
      * the absolute inputFiles paths and silently bypasses the guard). */
    private def qualifiedPath(
        spark: org.apache.spark.sql.SparkSession, dir: String): String = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      fs.makeQualified(p).toUri.getPath.stripSuffix("/")
    }

    /** Refuse a target directory any of the state's own tables read from
      * (round-14 ADVICE): mode(overwrite) into a lazy input deletes it
      * mid-read. Detection is by the tables' actual input files, so an
      * in-memory (never-persisted) state passes trivially. */
    private def writeGuard(state: CorpusState, dir: String): Unit = {
      val dirPath = qualifiedPath(state.corpus.sparkSession, dir)
      val overlap = tables(state).map(_._2)
        .flatMap(df => scala.util.Try(df.inputFiles.toSeq).getOrElse(Nil))
        .filter(f => new org.apache.hadoop.fs.Path(f).toUri.getPath
          .startsWith(dirPath + "/"))
      require(overlap.isEmpty,
        s"CorpusState.write: target '$dir' is an INPUT of the state being " +
          s"written (e.g. ${overlap.head}) — mode(overwrite) would delete " +
          "inputs mid-read and corrupt the write. Write each day's state " +
          "to a fresh directory and retire the old one after the job commits.")
    }

    private def tables(state: CorpusState): Seq[(String, DataFrame)] = Seq(
      "content_hashes" -> state.contentHashes,
      "band_index" -> state.bandIndex,
      "window_index" -> state.windowIndex,
      "sem_cell_members" -> state.semCellMembers,
      "ref_hashes" -> state.refHashes,
      "sem_centroids" -> state.semCentroids,
      "corpus" -> state.corpus)

    /** The non-index pieces shared by [[write]] and [[writeBucketed]].
      * `bucketCount` > 0 records a [[writeBucketed]] layout's bucket count
      * in the meta row so a FRESH application can re-register the catalog
      * tables from the directory alone ([[loadBucketed]]). */
    private def writeSmall(state: CorpusState, dir: String, bucketCount: Int): Unit = {
      val spark = state.corpus.sparkSession
      import spark.implicits._
      def put(name: String, df: DataFrame): Unit =
        df.write.mode("overwrite").parquet(s"$dir/$name")
      put("ref_hashes", state.refHashes)
      put("corpus", state.corpus)
      put("sem_centroids", state.semCentroids)
      put("merges", state.merges.toDF())
      put("unigram_vocab", state.unigramVocab.toDF("piece", "c", "bits"))
      put("meta", Seq((state.exactSubstrWindow, state.decontamShingle,
        state.tokenizer, state.maxDocId, state.maxBinId, state.bloom,
        state.semThreshold, state.semMaxCell, state.maxBucket,
        bucketCount, StateVersion))
        .toDF("exact_substr_window", "decontam_shingle", "tokenizer",
          "max_doc_id", "max_bin_id", "bloom", "sem_threshold", "sem_max_cell",
          "max_bucket", "bucket_count", "state_version"))
    }

    /** Meta-layout version written by [[writeSmall]]. v1 (rounds ≤14) had
      * no semantic, max_bucket, or bucket_count pieces; [[load]] defaults
      * every post-v1 piece when absent, so old directories keep loading. */
    private[graft] val StateVersion = 2

    /** The probe-index tables and their bucket keys — each key list is
      * EXACTLY the join key set the matching [[runIncremental]] probe
      * uses, which is the condition for Spark to plan the probe with no
      * Exchange on the index side. sem_cell_members buckets by its cell
      * id: [[SemDeDup.probeDrops]] joins stored members to slice vectors
      * on cid, and the member table is the one semantic piece that grows
      * with k·maxCell (k·maxCell·(d+3) values — at production k ≈ 10⁴
      * cells, cap 256, d 768 that is several GB, past broadcast range). */
    private[graft] val BucketedTables: Seq[(String, Seq[String])] = Seq(
      "content_hashes" -> Seq("content_hash"),
      "band_index" -> Seq("b", "band_key"),
      "window_index" -> Seq("h1", "h2", "h3"),
      "sem_cell_members" -> Seq("cid"))

    /** Reopen a [[write]] layout. The DataFrame members come back as
      * plain parquet scans — exactly what [[runIncremental]] probes.
      * Tolerant of PRE-v2 layouts (round-15 ADVICE): missing semantic
      * tables load as empty frames and missing meta columns default to
      * the build defaults, so a state written before the semantic /
      * bucketed machinery existed still drives every non-semantic probe
      * (a semantic probe against the defaulted empty centroids stays the
      * loud error [[runIncremental]] already raises). */
    def load(spark: org.apache.spark.sql.SparkSession, dir: String): CorpusState = {
      def get(name: String): DataFrame = spark.read.parquet(s"$dir/$name")
      def exists(name: String): Boolean = {
        val p = new org.apache.hadoop.fs.Path(s"$dir/$name")
        p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
      }
      val metaDf = get("meta")
      val metaCols = metaDf.columns.toSet
      val meta = metaDf.head
      def intOr(name: String, dflt: Int): Int =
        if (metaCols(name)) meta.getAs[Int](name) else dflt
      def dblOr(name: String, dflt: Double): Double =
        if (metaCols(name)) meta.getAs[Double](name) else dflt
      CorpusState(
        exactSubstrWindow = meta.getAs[Int]("exact_substr_window"),
        decontamShingle = meta.getAs[Int]("decontam_shingle"),
        tokenizer = meta.getAs[String]("tokenizer"),
        maxDocId = meta.getAs[Long]("max_doc_id"),
        maxBinId = meta.getAs[Long]("max_bin_id"),
        maxBucket = intOr("max_bucket", MaxBucket),
        contentHashes = get("content_hashes"),
        bandIndex = get("band_index"),
        windowIndex = get("window_index"),
        bloom = meta.getAs[Array[Byte]]("bloom"),
        refHashes = get("ref_hashes"),
        merges = get("merges")
          .select("merge_rank", "left_sym", "right_sym", "pair_count")
          .collect()
          .map(r => BpeLearn.Merge(r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
          .sortBy(_.merge_rank).toSeq,
        // merges MUST come back rank-ordered (the BPE fold applies them in
        // order); the vocab is join-looked-up but sorted anyway so a
        // reloaded state is bit-stable regardless of parquet read order
        unigramVocab = get("unigram_vocab").select("piece", "c", "bits")
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          .sortBy(_._1).toSeq,
        semThreshold = dblOr("sem_threshold", 0.45),
        semMaxCell = intOr("sem_max_cell", 256),
        semCentroids =
          if (exists("sem_centroids")) get("sem_centroids")
          else emptyCentroids(spark),
        semCellMembers =
          if (exists("sem_cell_members")) get("sem_cell_members")
          else emptyCellMembers(spark),
        corpus = get("corpus"))
    }

    /** Warehouse-scale persistence (round-14 verdict #1): same directory
      * layout as [[write]], but the three PROBE-INDEX tables persist as
      * BUCKETED catalog tables — `bucketBy` on exactly their probe join
      * keys ([[BucketedTables]]), `saveAsTable` under `tablePrefix`, data
      * files in the same `$dir/<name>` subdirectories (bucketed parquet is
      * plain parquet plus catalog metadata, so [[load]] still opens the
      * layout anywhere, just without the bucketing). This is what makes
      * the daily mode's economics hold at 100 TB: loaded via
      * [[loadBucketed]], every [[runIncremental]] probe is a CO-LOCATED
      * join — the index side scans pre-partitioned by the join key and
      * needs NO Exchange, so each slice pays one shuffle of the SLICE
      * only, never a re-shuffle of the corpus-sized index
      * (CorpusStateBucketedSpec gates the no-Exchange plan shape). The
      * reference's B-tree indexes (ui/backend/init_db.py:79-87) are the
      * same trade re-expressed for a lake: pay at write time so every
      * probe afterwards is free of the scan. */
    def writeBucketed(state: CorpusState, dir: String, tablePrefix: String,
        buckets: Int = 32): Unit = {
      writeGuard(state, dir)
      // catalog-identity guard (round-15 ADVICE): a day-2 writeBucketed
      // with the SAME tablePrefix issues saveAsTable(Overwrite) on catalog
      // tables the rolled state may still be READING (writeGuard above
      // only inspects file paths); the daily rotation gives each day's
      // state a fresh prefix just like a fresh directory
      val targets = BucketedTables
        .map { case (n, _) => s"${tablePrefix}_$n".toLowerCase }.toSet
      val readTables = tables(state).map(_._2)
        .flatMap(df => df.queryExecution.analyzed.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation
              if lr.catalogTable.isDefined =>
            lr.catalogTable.get.identifier.table.toLowerCase
        })
      val clash = readTables.filter(targets)
      require(clash.isEmpty,
        s"CorpusState.writeBucketed: tablePrefix '$tablePrefix' names catalog " +
          s"tables the state being written still READS (${clash.head}) — " +
          "saveAsTable(Overwrite) would swap them mid-read. Use a fresh " +
          "prefix per day, like the fresh directory writeGuard enforces.")
      val byName = Map(
        "content_hashes" -> state.contentHashes,
        "band_index" -> state.bandIndex,
        "window_index" -> state.windowIndex,
        "sem_cell_members" -> state.semCellMembers)
      BucketedTables.foreach { case (name, keys) =>
        val df = byName(name)
        // an EMPTY table persists PLAIN: the bucketed writer emits no
        // part file at all for zero rows (the location then fails schema
        // inference on every future load), while the plain writer emits
        // one empty file WITH the schema footer; bucketing an empty
        // table buys nothing anyway, and loadBucketed skips the catalog
        // registration for it symmetrically (a no-embeddings build's
        // sem_cell_members is the everyday instance of this)
        if (df.isEmpty)
          df.write.mode("overwrite").parquet(s"$dir/$name")
        else
          df.write.mode("overwrite").format("parquet")
            .bucketBy(buckets, keys.head, keys.tail: _*)
            .option("path", s"$dir/$name")
            .saveAsTable(s"${tablePrefix}_$name")
      }
      writeSmall(state, dir, bucketCount = buckets)
    }

    /** Make `table` a catalog entry for the bucketed parquet data at
      * `location` — creating (or correcting) it when the current session's
      * catalog has no matching entry. This is what lets a [[writeBucketed]]
      * layout survive a FRESH application (round-15 verdict #1): bucketed
      * parquet is plain parquet files plus bucket-id file naming, so the
      * co-located plan needs only the catalog metadata re-registered —
      * `CREATE TABLE … USING parquet CLUSTERED BY (<probe keys>) INTO n
      * BUCKETS LOCATION '<dir>'`, the lakehouse analog of the reference's
      * Postgres indexes surviving between connections
      * (ui/backend/init_db.py:79-87). An existing entry is TRUSTED only if
      * its location, bucket keys, and bucket count all match; anything
      * stale (a test rerun, a retired state dir reusing the prefix) is
      * dropped and re-created — external tables, so no data moves. */
    private def ensureBucketedTable(
        spark: org.apache.spark.sql.SparkSession, table: String,
        location: String, keys: Seq[String], buckets: Int): Unit = {
      val fs = new org.apache.hadoop.fs.Path(location)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val wantLoc = fs.makeQualified(new org.apache.hadoop.fs.Path(location)).toUri
      val current = if (spark.catalog.tableExists(table)) {
        val m = spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(table))
        Some((fs.makeQualified(new org.apache.hadoop.fs.Path(m.location)).toUri,
          m.bucketSpec))
      } else None
      val matches = current.exists { case (loc, spec) =>
        loc == wantLoc && spec.exists(bs => bs.numBuckets == buckets &&
          bs.bucketColumnNames.map(_.toLowerCase) == keys.map(_.toLowerCase))
      }
      if (!matches) {
        spark.sql(s"DROP TABLE IF EXISTS `$table`")
        val schema = spark.read.parquet(location).schema.toDDL
        spark.sql(
          s"CREATE TABLE `$table` ($schema) USING parquet " +
            s"CLUSTERED BY (${keys.map(k => s"`$k`").mkString(", ")}) " +
            s"INTO $buckets BUCKETS LOCATION '$location'")
      }
    }

    /** Reopen a [[writeBucketed]] layout: like [[load]], but the
      * probe-index tables come back as bucketed catalog scans, so the
      * incremental probe joins co-locate against them (no index-side
      * Exchange). Works in a FRESH application — the deployment shape the
      * daily mode is named for: when the catalog has no (or a stale)
      * entry for a probe table, it is re-registered from the directory
      * via [[ensureBucketedTable]] using the bucket count persisted in
      * the meta row, so tomorrow's job gets the co-located plan without
      * the writing session's metastore. */
    def loadBucketed(spark: org.apache.spark.sql.SparkSession, dir: String,
        tablePrefix: String): CorpusState = {
      val plain = load(spark, dir)
      val metaDf = spark.read.parquet(s"$dir/meta")
      val bucketCount =
        if (metaDf.columns.contains("bucket_count"))
          metaDf.head.getAs[Int]("bucket_count")
        else 0
      require(bucketCount > 0,
        s"CorpusState.loadBucketed: '$dir' is not a writeBucketed layout " +
          "(meta carries no bucket count) — load() opens it plain")
      // empty tables were persisted PLAIN (see writeBucketed) — their
      // plain scan from load() is already correct and a CLUSTERED BY
      // registration over a non-bucket-named empty part file would fail
      // at query time; register and swap in only the non-empty ones
      val byName = scala.collection.mutable.Map(
        "content_hashes" -> plain.contentHashes,
        "band_index" -> plain.bandIndex,
        "window_index" -> plain.windowIndex,
        "sem_cell_members" -> plain.semCellMembers)
      BucketedTables.foreach { case (name, keys) =>
        if (!byName(name).isEmpty) {
          ensureBucketedTable(spark, s"${tablePrefix}_$name", s"$dir/$name",
            keys, bucketCount)
          byName(name) = spark.table(s"${tablePrefix}_$name")
        }
      }
      plain.copy(
        contentHashes = byName("content_hashes"),
        bandIndex = byName("band_index"),
        windowIndex = byName("window_index"),
        semCellMembers = byName("sem_cell_members"))
    }
  }

  final case class Result(
      corpus: DataFrame,      // doc_id, lang, n_tokens, bin_id, shard
      merges: Seq[BpeLearn.Merge],              // BPE artifact ("bpe" path)
      unigramVocab: Seq[(String, Long, Long)],  // (piece, usage, bits) ("unigram" path)
      manifest: Seq[Manifest],
      state: Option[CorpusState] = None)

  private[graft] val MaxBucket = 64

  // empty semantic-state frames (builds without embeddings): pinned
  // schemas so write/load round-trips them like any other state table
  private def emptyCentroids(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("cluster_id", IntegerType, nullable = false),
        StructField("pos", LongType, nullable = false),
        StructField("centroid_q", LongType, nullable = false),
        StructField("n_points", LongType, nullable = false))))
  }
  private def emptyCellMembers(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("cid", IntegerType, nullable = false),
        StructField("vec_id", LongType, nullable = false),
        StructField("d2", LongType, nullable = false),
        StructField("embedding", ArrayType(DoubleType), nullable = true))))
  }

  private def shingleHash(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  private def toks: Column = split(lower(col("text")), " ")

  private def contentHash: Column = md5(lower(trim(col("text"))))

  // ---- shared stage builders (full + incremental) ---------------------------

  /** Apply the rule battery with first-failing-rule drop attribution.
    * Returns (kept frame, ingest count, per-rule drop counts in rule
    * order). ONE aggregation scan computes ingest and every drop count
    * together (no per-rule passes, no materialized copy of the raw
    * input); the kept frame re-filters the input — the same two scans of
    * the raw corpus the single-rule gate always paid. */
  private def qualityGate(docs: DataFrame, rules: Seq[QualityRule])
      : (DataFrame, Long, Seq[(String, Long)], Long) = {
    require(rules.nonEmpty, "quality gate needs at least one rule")
    val withToks = docs.withColumn("_toks", toks)
    // null-text/null-signal docs fail the first rule that cannot score
    // them (coalesce false), matching the historical filter behavior
    val dropRule = coalesce(
      rules.map(r => when(!coalesce(r.keep, lit(false)), lit(r.name)))
        :+ lit(null).cast("string"): _*)
    // ingest count, per-rule drop counts, AND the high-water doc id (over
    // EVERY ingested doc — a quality-dropped id is still an id the
    // append-only contract must clear) in one aggregation scan
    val grouped = withToks
      .select(dropRule.as("_drop_rule"), col("doc_id"))
      .groupBy(col("_drop_rule"))
      .agg(count(lit(1)).as("n"), max(col("doc_id")).as("mx"))
      .collect().map(r => Option(r.getString(0)) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val ingest = grouped.values.map(_._1).sum
    val maxDocId =
      if (grouped.isEmpty) Long.MinValue else grouped.values.map(_._2).max
    val drops = rules.map(r => r.name -> grouped.get(Some(r.name)).map(_._1).getOrElse(0L))
    val kept = withToks.filter(dropRule.isNull).drop("_toks")
    (kept, ingest, drops, maxDocId)
  }

  /** The d2 band chain on arbitrary docs: shingles → minhash → 3 LSH
    * bands → (doc_id, b, band_key). */
  private[graft] def bandsOf(docs: DataFrame): DataFrame = {
    val sh = docs.select(col("doc_id"), WordShingles(col("text"), 3).as("shingles"))
    val mhs = sh.select(col("doc_id"),
      MinHashSignature(col("shingles"),
        GraftExtensions.DefaultCoeffs, GraftExtensions.DefaultModulus).as("mhs"))
    mhs.select(col("doc_id"),
        posexplode(when(col("mhs").isNotNull,
          transform(sequence(lit(0), lit(2)),
            b => concat_ws("|",
              element_at(col("mhs"), b * 3 + 1),
              element_at(col("mhs"), b * 3 + 2),
              element_at(col("mhs"), b * 3 + 3))))))
      .withColumnRenamed("pos", "b").withColumnRenamed("col", "band_key")
  }

  /** The exact-dedup probe of [[runIncremental]] stage 2: anti-join the
    * slice's canonical rows against the corpus's content-hash index.
    * Exposed for the bucketed-state plan gate: with `state.contentHashes`
    * loaded via [[CorpusState.loadBucketed]], this join must plan with NO
    * Exchange on the index side (the index scan is pre-partitioned by
    * content_hash — the bucket key). */
  private[graft] def exactProbe(intraCanon: DataFrame, state: CorpusState): DataFrame =
    intraCanon.withColumn("_h", contentHash)
      .join(state.contentHashes.withColumnRenamed("content_hash", "_h"),
        Seq("_h"), "left_anti")
      .drop("_h")

  /** The band-index probe of [[runIncremental]] stage 3: slice doc_ids
    * whose LSH band touches any corpus bucket. Exposed for the
    * bucketed-state plan gate — (b, band_key) is band_index's bucket key,
    * so the bucketed scan joins with no index-side Exchange. */
  private[graft] def bandProbe(bands: DataFrame, state: CorpusState): DataFrame =
    bands.join(state.bandIndex.select(col("b"), col("band_key")), Seq("b", "band_key"))
      .select(col("doc_id")).distinct()

  /** Bounded-bucket candidate pairs from a band frame (never all-pairs). */
  private def pairsOf(bands: DataFrame, maxBucket: Int): DataFrame =
    Dedup.boundedDocLists(bands, Seq("b", "band_key"), col("doc_id"), maxBucket)
      .select(explode(flatten(
        transform(col("docs"), (x, i) =>
          transform(slice(col("docs"), i + 2, size(col("docs"))),
            y => struct(x.as("doc1"), y.as("doc2")))))).as("p"))
      .select(col("p.doc1").as("doc1"), col("p.doc2").as("doc2"))
      .distinct()

  /** Per-word token counts under a FIXED tokenizer artifact (state reuse
    * path and the post-training path of [[run]] share it): "bpe" folds the
    * merge table into one column rewrite over the word table; "unigram"
    * runs the native Viterbi against the supplied vocabulary. */
  private def wordTokOf(
      wc: DataFrame,
      tokenizer: String,
      merges: Seq[BpeLearn.Merge],
      unigramVocab: Seq[(String, Long, Long)]): DataFrame = tokenizer match {
    case "bpe" =>
      val rendered = wc.select(col("word"),
        concat(concat_ws(" ", filter(split(col("word"), ""), s => length(s) > 0)),
          lit(" " + BpeLearn.EndMark)).as("w"))
      rendered.select(col("word"),
        size(split(merges.foldLeft(col("w"))(
          (c, mm) => BpeLearn.applyMerge(c, mm.left_sym, mm.right_sym)), " ")).as("n_tok"))
    case "unigram" =>
      val spark = wc.sparkSession
      val vb = spark.createDataFrame(unigramVocab).toDF("piece", "c", "bits")
      // MaxWord cap as in UnigramLM.wordCounts: longer words get no row
      // here and fall to the UNK path of docTokensOf
      UnigramLM.wordTokenCounts(
        UnigramLM.substrings(wc.filter(length(col("word")) <= UnigramLM.MaxWord)), vb)
  }

  /** Per-doc token counts through the vocab-sized word table (one
    * map-only rewrite + one join). left + coalesce(1): under "unigram",
    * words outside the MaxWord segmentation domain have no wordTok row
    * and count as ONE UNK token — SentencePiece's unsegmentable-input
    * behavior (under "bpe" the join always hits; coalesce is a no-op). */
  private def docTokensOf(clean: DataFrame, wordTok: DataFrame): DataFrame =
    clean.select(col("doc_id"), col("lang"), explode(toks).as("word"))
      .filter(col("word") =!= "")
      .join(wordTok, Seq("word"), "left")
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(coalesce(col("n_tok"), lit(1))).cast("int").as("n_tokens"))

  /** Run the pipeline over `docs` (doc_id long, lang string, text string).
    * `heldOut` supplies the decontamination reference texts (same shape).
    * `embeddings` (doc_id long, embedding array<float|double>), when
    * supplied, enables the SemDeDup stage; docs without an embedding row
    * are never semantic-dropped. `tokenizer` selects "bpe" (v2/v3's merge
    * table) or "unigram" (v4/v5's Viterbi vocabulary; words outside the
    * MaxWord segmentation domain count as ONE UNK token — SentencePiece's
    * unsegmentable-input behavior). `quality` overrides the gate's rule
    * battery ([[Quality.production]] is the full t7+t6/t14+t1 preset);
    * empty means [[Quality.minimal]] over (minTokens, maxTokens).
    * `captureState = true` additionally assembles the [[CorpusState]] the
    * incremental mode consumes — the index pieces are computed ONCE and
    * shared with the stages that need them anyway. */
  def run(
      docs: DataFrame,
      heldOut: DataFrame,
      embeddings: Option[DataFrame] = None,
      minTokens: Int = 5,
      maxTokens: Int = 1000,
      exactSubstrWindow: Int = 50,
      decontamShingle: Int = 3,
      tokenizer: String = "bpe",
      bpeMerges: Int = 8,
      unigramRounds: Int = 2,
      semK: Int = 4,
      semIters: Int = 2,
      semThreshold: Double = 0.45,
      semMaxCell: Int = 256,
      packBudget: Int = 512,
      shards: Int = 8,
      maxBucket: Int = MaxBucket,
      quality: Seq[QualityRule] = Nil,
      captureState: Boolean = false,
      pinnedTokenizer: Option[(Seq[BpeLearn.Merge], Seq[(String, Long, Long)])] = None): Result = {
    require(tokenizer == "bpe" || tokenizer == "unigram",
      s"tokenizer must be 'bpe' or 'unigram', got '$tokenizer'")
    val spark = docs.sparkSession
    val manifest = Seq.newBuilder[Manifest]
    // Every recorded stage is MATERIALIZED (Reuse.materialize: persist +
    // reliable checkpoint) before its manifest count: each stage output is
    // consumed by the count, by the next stage, and often by several
    // internal branches — without materialization every consumer
    // re-executes the whole upstream chain and the pipeline goes quadratic
    // in stages (measured: 108 s → 23 s at sf0.1 for the identical work).
    // The raw ingest frame is the one exception: checkpointing the input
    // corpus would copy it (at 100 TB, a second corpus); its manifest
    // count falls out of the quality gate's attribution aggregate.
    def record(stage: String, df: DataFrame): DataFrame = {
      val m = graft.operators.Reuse.materialize(df)
      manifest += Manifest(stage, m.count()); m
    }

    // 1. quality gate: the rule battery (minimal = the t7 battery's
    // load-bearing token-count core; Quality.production = the full
    // Gopher + repetition + langid battery), with per-rule drop counts
    val rules = if (quality.nonEmpty) quality else Quality.minimal(minTokens, maxTokens)
    val (kept, ingest, drops, maxDocId) = qualityGate(docs, rules)
    manifest += Manifest("ingest", ingest)
    drops.foreach { case (name, n) => manifest += Manifest(s"quality_drop:$name", n) }
    val gated = record("quality_gate", kept)

    // 2. exact dedup — d1's canonical rule: min doc_id per content hash
    val exact = record("exact_dedup",
      gated.withColumn("rk", row_number().over(
          Window.partitionBy(contentHash).orderBy(col("doc_id"))))
        .filter(col("rk") === 1).drop("rk"))

    // 3. near-dup clustering: shingles → minhash → LSH bands → bucket
    // pairs (bounded, never all-pairs) → connected components → keep the
    // min doc per cluster (the d2 → d8 → x10 chain)
    val bands = bandsOf(exact)
    val pairs = pairsOf(bands, maxBucket)
    val keepPerCluster = ConnectedComponents.label(pairs, "doc1", "doc2")
      .groupBy(col("component")).agg(min(col("node")).as("keep"))
      .select(col("keep"))
    val inAnyCluster = pairs.select(col("doc1").as("doc_id"))
      .union(pairs.select(col("doc2").as("doc_id"))).distinct()
    val nearDupDrops = inAnyCluster.join(keepPerCluster,
      inAnyCluster("doc_id") === keepPerCluster("keep"), "left_anti")
    val deduped = record("near_dup_dedup",
      exact.join(nearDupDrops, Seq("doc_id"), "left_anti"))

    // 3b. ExactSubstr scrubbing (Lee et al. 2022 — the d14 machinery):
    // erase every duplicated >=W-token span's later occurrences and rebuild
    // the documents; a doc that was ENTIRELY later-copied spans drops out
    // (graft.operators.ExactSubstr's pipeline contract). Runs after the
    // doc-level dedups so it only pays for the partial-overlap tail. When
    // state is captured, the window index is computed ONCE and shared
    // between the scrub and the state.
    val winIdx =
      if (captureState)
        Some(graft.operators.Reuse.materialize(
          ExactSubstr.windowIndex(deduped, exactSubstrWindow)))
      else None
    val scrubbed = record("exact_substring_scrub",
      ExactSubstr.scrub(deduped, exactSubstrWindow, index = winIdx))

    // 3c. SemDeDup (Abbas et al. 2023 — the d16 centroid-distance keep),
    // only when the caller ships embeddings: restrict the embedding table
    // to the SURVIVING docs (the paper dedups the current corpus, and the
    // cells should not be shaped by already-dropped members), compute the
    // drop list, anti-join. Docs without an embedding row pass through.
    // The centroid table is fit ONCE and shared with the captured state
    // (the incremental probe assigns slice vectors to THESE centroids).
    val semCent = embeddings.map { e =>
      val alive = graft.operators.Reuse.materialize(
        e.select(col("doc_id").as("vec_id"), col("embedding"))
          .join(scrubbed.select(col("doc_id").as("vec_id")), "vec_id"))
      (alive, graft.operators.KMeansQuantized.fit(
        SemDeDup.quantize(alive), semK, semIters))
    }
    val semDeduped = semCent match {
      case Some((alive, cent)) =>
        val drops2 = SemDeDup.dropsUnder(alive, cent, semThreshold, semMaxCell)
          .select(col("vec_id").as("doc_id"))
        record("semantic_dedup", scrubbed.join(drops2, Seq("doc_id"), "left_anti"))
      case None => scrubbed
    }

    // 4. decontamination — b1's posture: a fixed-size bloom over the
    // held-out set's shingle hashes ships as a literal; bloom suspects are
    // exact-confirmed so the drop set is identical to an exact anti-join.
    // The shingle LENGTH is a parameter: 3 is the d7/b1 parity default,
    // but on templated corpora a single shared 3-gram flags nearly
    // everything — production decontamination (Lee et al. 2022, Gopher)
    // matches LONG n-grams (8–13 tokens), which only near-copies of the
    // held-out text can share; the `graft.Bench corpus` legs run with 8.
    // Probing happens on the CURRENT corpus (post-scrub), so a
    // contaminating span already erased by ExactSubstr no longer flags
    // its document.
    val refHashes = heldOut
      .select(explode(WordShingles(col("text"), decontamShingle)).as("s"))
      .select(shingleHash(col("s")).as("h")).distinct()
    val bloom = refHashes.agg(BloomBits.bloomBuild(col("h"))).head.getAs[Array[Byte]](0)
    val docHashes = semDeduped.select(col("doc_id"),
        explode(WordShingles(col("text"), decontamShingle)).as("s"))
      .select(col("doc_id"), shingleHash(col("s")).as("h"))
    val suspects = docHashes
      .filter(BloomBits.bloomMightContain(lit(bloom), col("h")))
    val contaminated = suspects.join(refHashes, "h").select("doc_id").distinct()
    val clean = record("decontaminated",
      semDeduped.join(contaminated, Seq("doc_id"), "left_anti"))

    // 5. tokenizer on the surviving corpus, then per-doc token counts.
    // "bpe" = v2/v3's merge chain folded into one rewrite; "unigram" =
    // v4's trained vocabulary + v5's native Viterbi segmentation.
    // `pinnedTokenizer` skips training and counts under the supplied
    // artifacts instead — rebuilding a corpus VERSION under the frozen
    // production tokenizer (retokenizing every downstream consumer on
    // each rebuild is not an option once a model trains against a vocab).
    val wc = BpeLearn.wordCounts(clean)
    val (merges, unigramVocab) = pinnedTokenizer.getOrElse(tokenizer match {
      case "bpe" => (BpeLearn.learn(wc, bpeMerges), Seq.empty[(String, Long, Long)])
      case "unigram" =>
        val vocab = UnigramLM.train(clean, unigramRounds)
          .collect() // bounded: KeepK multis + the alphabet
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
        (Seq.empty[BpeLearn.Merge], vocab)
    })
    val wordTok = wordTokOf(wc, tokenizer, merges, unigramVocab)
    val docTokens = docTokensOf(clean, wordTok)

    // 6. pack + 7. shard — x8's NFD bins, x7's deterministic buckets
    val packed = SequencePack.pack(docTokens, "doc_id", "n_tokens", packBudget)
    val corpus = record("packed_sharded",
      docTokens.join(packed.select(col("doc_id"), col("bin_id")), "doc_id")
        .withColumn("shard", Md5Bucket(col("doc_id"), shards)))

    val state =
      if (!captureState) None
      else {
        // every piece derives from an already-materialized stage output
        // (or, for maxDocId, from the gate's own aggregation pass), so
        // assembling state re-reads cached frames, not the raw corpus
        val binRow = corpus.agg(max(col("bin_id"))).head
        val maxBinId = if (binRow.isNullAt(0)) -1L else binRow.getLong(0)
        Some(CorpusState(
          exactSubstrWindow = exactSubstrWindow,
          decontamShingle = decontamShingle,
          tokenizer = tokenizer,
          maxDocId = maxDocId,
          maxBinId = maxBinId,
          maxBucket = maxBucket,
          contentHashes = graft.operators.Reuse.materialize(
            exact.select(contentHash.as("content_hash"))),
          // Over-cap buckets are KEPT as frozen membership rows (cnt
          // saturated at MaxBucket, min_doc retained) — round-14 verdict
          // #2: deleting them made every future slice stop near-dup-
          // matching against exactly the templates that duplicate most,
          // and let a later slice-side count "restart" a hot bucket below
          // the cap. Membership is what the incremental probe needs; the
          // cap only ever bounded PAIR fan-out, which the probe never does.
          bandIndex = graft.operators.Reuse.materialize(
            bands.groupBy(col("b"), col("band_key"))
              .agg(least(count(lit(1)), lit(maxBucket.toLong)).as("cnt"),
                min(col("doc_id")).as("min_doc"))),
          windowIndex = winIdx.get,
          bloom = bloom,
          refHashes = graft.operators.Reuse.materialize(refHashes),
          merges = merges,
          unigramVocab = unigramVocab,
          semThreshold = semThreshold,
          semMaxCell = semMaxCell,
          // the semantic state the incremental probe assigns against:
          // THE centroids the stage used (never refit per slice) and the
          // FINAL corpus docs' vectors capped per cell — a doc dropped by
          // a later stage (decontam) must not semantic-drop future slices
          semCentroids = semCent.map(_._2)
            .getOrElse(emptyCentroids(spark)),
          semCellMembers = semCent.map { case (alive, cent) =>
            graft.operators.Reuse.materialize(SemDeDup.cellMembers(
              alive.join(corpus.select(col("doc_id").as("vec_id")), "vec_id"),
              cent, semMaxCell))
          }.getOrElse(emptyCellMembers(spark)),
          corpus = corpus))
      }

    Result(corpus, merges, unigramVocab, manifest.result(), state)
  }

  /** Ingest a NEW document `slice` against an existing corpus's `state`:
    * quality-gate the slice, dedup it exactly (intra-slice canonical +
    * anti-join on the corpus's content hashes), near-dup it (intra-slice
    * LSH clustering where any cluster touching the corpus's band index
    * drops WHOLE — the full-rebuild-equivalent rule, see below),
    * ExactSubstr-scrub it against the corpus's window-hash index,
    * bloom-decontaminate against the stored filter, token-count it with
    * the STORED tokenizer artifacts (never retrained per slice), then
    * append-pack into fresh bins above the corpus's high-water bin id and
    * shard deterministically. The existing corpus is never recomputed or
    * mutated — O(slice) work against prebuilt indexes, the d10/b1/d14/i1
    * postures composed.
    *
    * CONTRACT: every slice doc_id must exceed `state.maxDocId`
    * (append-only id discipline, asserted). Under it the full-rebuild
    * keep rules collapse to pure slice-side decisions: an exact collision
    * keeps the (earlier) corpus doc; a near-dup cluster containing ANY
    * corpus-matched member would, in a rebuild, contain a corpus doc with
    * a smaller id — so the whole slice cluster drops; a window hash known
    * to the corpus is always an earlier first occurrence — every slice
    * occurrence is erased. CorpusPipelineSpec's equivalence case proves
    * slice+corpus ≡ full rebuild on a crafted corpus covering every rule.
    *
    * SemDeDup runs as a PROBE when the caller ships `embeddings` and the
    * corpus state carries semantic state (built with embeddings +
    * captureState): slice vectors are assigned to the STORED centroids
    * (never refit per slice — cells are corpus-global k-means structure;
    * rebuilds own refitting) and the d16 keep rule runs within touched
    * cells against the stored capped members plus the slice's own
    * same-cell vectors; only slice docs can drop (corpus immutability).
    * Divergences from a rebuild are documented on
    * [[graft.operators.SemDeDup.probeDrops]] — the same treatment as the
    * LSH bucket caps. Tokenizer training stays reused from state by
    * design. `quality` must be the battery the corpus was built with for
    * rebuild equivalence; it defaults like [[run]]'s.
    *
    * Returns the APPENDED corpus (state.corpus ∪ new rows) and a
    * slice-side manifest; `state` in the result is the input state ROLLED
    * FORWARD (hashes/indexes merged — min/sum semantics make every index
    * mergeable; band-bucket counts merge SATURATING at MaxBucket, so a
    * bucket that crosses the cap stays a frozen membership row forever —
    * the documented hot-template divergence), ready for the next slice. */
  def runIncremental(
      slice: DataFrame,
      state: CorpusState,
      minTokens: Int = 5,
      maxTokens: Int = 1000,
      packBudget: Int = 512,
      shards: Int = 8,
      quality: Seq[QualityRule] = Nil,
      embeddings: Option[DataFrame] = None): Result = {
    // the LSH bucket cap is BUILD-time state, not a slice parameter
    // (round-15 ADVICE): a differing per-slice value would change where
    // the rolled bandIndex saturates and the pair fan-out bounds mid-chain
    val maxBucket = state.maxBucket
    val manifest = Seq.newBuilder[Manifest]
    def record(stage: String, df: DataFrame): DataFrame = {
      val m = graft.operators.Reuse.materialize(df)
      manifest += Manifest(stage, m.count()); m
    }

    // append-only id contract (an empty slice passes trivially)
    val minIdRow = slice.agg(min(col("doc_id"))).head
    if (!minIdRow.isNullAt(0))
      require(minIdRow.getLong(0) > state.maxDocId,
        s"runIncremental: slice doc_ids must exceed the corpus high-water id " +
          s"${state.maxDocId} (append-only contract); slice min = ${minIdRow.getLong(0)}")

    // 1. quality gate — same battery as the base run (caller's duty)
    val rules = if (quality.nonEmpty) quality else Quality.minimal(minTokens, maxTokens)
    val (kept, ingest, drops, sliceMaxId) = qualityGate(slice, rules)
    manifest += Manifest("ingest", ingest)
    drops.foreach { case (name, n) => manifest += Manifest(s"quality_drop:$name", n) }
    val gated = record("quality_gate", kept)

    // 2. exact dedup: intra-slice canonical, then anti-join the corpus's
    // content hashes (the corpus doc is always the earlier canonical)
    val intraCanon = gated.withColumn("rk", row_number().over(
        Window.partitionBy(contentHash).orderBy(col("doc_id"))))
      .filter(col("rk") === 1).drop("rk")
    val exact = record("exact_dedup", exactProbe(intraCanon, state))

    // 3. near-dup: probe the corpus band index (d10's O(batch) posture)
    // AND cluster intra-slice; a cluster with ANY corpus-matched member
    // drops whole (in a rebuild that cluster contains a corpus doc with a
    // smaller id), otherwise the min member survives. The probe joins the
    // WHOLE index — over-cap buckets are frozen membership rows, so hot
    // templates keep matching (see the saturating merge below).
    val bands = bandsOf(exact)
    val matched = bandProbe(bands, state)
    val pairs = pairsOf(bands, maxBucket)
    val comp = ConnectedComponents.label(pairs, "doc1", "doc2") // (node, component)
    val tainted = comp
      .join(matched.withColumnRenamed("doc_id", "node"), Seq("node"))
      .select(col("component")).distinct()
    val keepPerCluster = comp.join(tainted, Seq("component"), "left_anti")
      .groupBy(col("component")).agg(min(col("node")).as("keep"))
      .select(col("keep"))
    val inAnyCluster = pairs.select(col("doc1").as("doc_id"))
      .union(pairs.select(col("doc2").as("doc_id"))).distinct()
    val clusterDrops = inAnyCluster.join(keepPerCluster,
      inAnyCluster("doc_id") === keepPerCluster("keep"), "left_anti")
    val nearDupDrops = clusterDrops.select(col("doc_id"))
      .union(matched).distinct()
    val deduped = record("near_dup_dedup",
      exact.join(nearDupDrops, Seq("doc_id"), "left_anti"))

    // 3b. ExactSubstr against the corpus's window index + intra-slice
    val sliceWinIdx = graft.operators.Reuse.materialize(
      ExactSubstr.windowIndex(deduped, state.exactSubstrWindow))
    val scrubbed = record("exact_substring_scrub",
      ExactSubstr.scrubAgainst(deduped, state.windowIndex, state.exactSubstrWindow))

    // 3c. semantic probe against the corpus's STORED centroids + capped
    // cell members (round-14 verdict item 4) — only when the slice ships
    // embeddings; requires the corpus build to have captured semantic
    // state. Only slice docs can drop; divergences from a rebuild are
    // documented on SemDeDup.probeDrops.
    val semDeduped = embeddings match {
      case Some(e) =>
        require(!state.semCentroids.isEmpty,
          "runIncremental: slice embeddings supplied but the corpus state " +
            "carries no semantic state — build the corpus with embeddings " +
            "and captureState = true (or omit the slice embeddings)")
        val alive = e.select(col("doc_id").as("vec_id"), col("embedding"))
          .join(scrubbed.select(col("doc_id").as("vec_id")), "vec_id")
        val drops2 = SemDeDup.probeDrops(alive, state.semCentroids,
            state.semCellMembers, state.semThreshold, state.semMaxCell)
          .select(col("vec_id").as("doc_id"))
        record("semantic_dedup", scrubbed.join(drops2, Seq("doc_id"), "left_anti"))
      case None => scrubbed
    }

    // 4. decontamination with the STORED bloom + reference hashes
    val docHashes = semDeduped.select(col("doc_id"),
        explode(WordShingles(col("text"), state.decontamShingle)).as("s"))
      .select(col("doc_id"), shingleHash(col("s")).as("h"))
    val suspects = docHashes
      .filter(BloomBits.bloomMightContain(lit(state.bloom), col("h")))
    val contaminated = suspects.join(state.refHashes, "h").select("doc_id").distinct()
    val clean = record("decontaminated",
      semDeduped.join(contaminated, Seq("doc_id"), "left_anti"))

    // 5. token counts with the CORPUS's tokenizer artifacts — both
    // tokenizers apply to unseen words (BPE folds its merge table over
    // any rendering; unigram Viterbi counts out-of-domain words as UNK)
    val wordTok = wordTokOf(BpeLearn.wordCounts(clean),
      state.tokenizer, state.merges, state.unigramVocab)
    val docTokens = docTokensOf(clean, wordTok)

    // 6+7. append-pack above the corpus's high-water bin, then shard
    val packed = SequencePack.pack(docTokens, "doc_id", "n_tokens", packBudget)
    val newRows = record("packed_sharded",
      docTokens.join(packed.select(col("doc_id"), col("bin_id")), "doc_id")
        .withColumn("bin_id", col("bin_id") + lit(state.maxBinId + 1L))
        .withColumn("shard", Md5Bucket(col("doc_id"), shards)))
    val appended = state.corpus.unionByName(newRows)

    // roll the state forward: all index pieces are mergeable
    val newMaxDocId = math.max(state.maxDocId, sliceMaxId)
    val binRow = newRows.agg(max(col("bin_id"))).head
    val newMaxBinId = if (binRow.isNullAt(0)) state.maxBinId else binRow.getLong(0)
    val rolled = state.copy(
      maxDocId = newMaxDocId,
      maxBinId = newMaxBinId,
      contentHashes = state.contentHashes.union(
        exact.select(contentHash.as("content_hash"))),
      // saturating merge: a bucket that crosses MaxBucket stays in the
      // index as a frozen membership row (cnt pinned at the cap) — never
      // deleted, so later slices keep near-dup-matching the heaviest
      // templates and a hot bucket's count can never "restart" from the
      // slice-side value (round-14 verdict #2 / ADVICE)
      bandIndex = state.bandIndex
        .unionByName(bands.groupBy(col("b"), col("band_key"))
          .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("min_doc")))
        .groupBy(col("b"), col("band_key"))
        .agg(least(sum(col("cnt")), lit(maxBucket.toLong)).as("cnt"),
          min(col("min_doc")).as("min_doc")),
      windowIndex = state.windowIndex.unionByName(sliceWinIdx)
        .groupBy(col("h1"), col("h2"), col("h3"))
        .agg(min(col("first_pk")).as("first_pk"), sum(col("n")).as("n")),
      // semantic members roll forward too: surviving slice vectors join
      // their cells (assigned under the STORED centroids) and the per-cell
      // cap re-applies by vec_id — corpus members have smaller ids, so
      // they keep their slots and slice vectors fill what remains
      semCellMembers = embeddings match {
        case Some(e) =>
          val survivors = e.select(col("doc_id").as("vec_id"), col("embedding"))
            .join(newRows.select(col("doc_id").as("vec_id")), "vec_id")
          state.semCellMembers.unionByName(
              SemDeDup.cellMembers(survivors, state.semCentroids, state.semMaxCell))
            .withColumn("rn", row_number().over(
              Window.partitionBy(col("cid")).orderBy(col("vec_id"))))
            .filter(col("rn") <= state.semMaxCell).drop("rn")
        case None => state.semCellMembers
      },
      corpus = appended)

    Result(appended, state.merges, state.unigramVocab, manifest.result(), Some(rolled))
  }
}
