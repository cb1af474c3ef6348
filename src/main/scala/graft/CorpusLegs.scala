package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.corpus.CorpusPipeline
import graft.corpus.CorpusPipeline.CorpusState

/** The corpus legs of [[Bench]]: [[graft.corpus.CorpusPipeline]] over the
  * documents fixture, each leg printing one JSON record. The held-out set
  * is every 97th doc, removed from the input.
  *
  *   corpus full [sfDir] [bpe|unigram] [minimal|production]
  *     — full build (embeddings joined where the fixture has one): wall and
  *       per-stage manifest. `production` gates stage 1 with the
  *       Gopher+repetition+langid battery (per-rule drop counts land in the
  *       manifest); `minimal` (default) is the token-count core.
  *   corpus incremental <corpusSfDir> <sliceSfDir> [plain|bucketed]
  *     — base build with state capture, then the slice fixture (with its
  *       embeddings) id-shifted through runIncremental: base vs slice wall.
  *       With a layout the state is persisted and RELOADED first, and the
  *       record carries the probe-plan audit ([[probeIndexExchanges]]): 0
  *       everywhere for "bucketed" (asserted), 1 per probe for "plain".
  *   corpus chain <corpusSfDir> <sliceSfDir> [nSlices] [plain|bucketed]
  *     — the endurance leg: n slices ([[sliceOf]]) roll the state forward,
  *       and the final corpus is GATED equal to a full rebuild of corpus ∪
  *       all slices under the pinned base tokenizer. "plain" (default)
  *       round-trips once mid-chain through CorpusState.write/load;
  *       "bucketed" round-trips EVERY slice through writeBucketed/
  *       loadBucketed with a fresh directory and table prefix per day (the
  *       rotation the writeGuard and the catalog-identity guard prescribe)
  *       and asserts 0 index-side Exchanges on every slice.
  *   corpus divergence [fillerSfDir]
  *     — measured incremental-vs-rebuild divergence per engineered class
  *       ([[divergence]]).
  */
private[graft] object CorpusLegs {

  /** Fixture docs, repartitioned for per-doc CPU (the fixture parquet is
    * one row group → one task otherwise). */
  def docsOf(spark: SparkSession, sfDir: String): DataFrame =
    graft.io.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("text"))
      .repartition(spark.sparkContext.defaultParallelism * 2)

  /** (corpus, held-out): every 97th doc is held out and EXCLUDED from the
    * corpus (decontamination then has real work: near-copies of held-out
    * docs exist in the fixture's duplicate pairs). */
  def heldOutSplit(docs: DataFrame): (DataFrame, DataFrame) =
    (docs.filter(col("doc_id") % 97 =!= 0), docs.filter(col("doc_id") % 97 === 0))

  /** The state-capturing base build every daily-mode leg starts from.
    * decontamShingle = 8 is the long-n-gram production posture (see the
    * pipeline's stage-4 comment): a 3-gram any-match rule on this
    * templated synthetic corpus flags ~94 % of documents. */
  def baseBuild(corpus: DataFrame, heldOut: DataFrame,
      embeddings: Option[DataFrame] = None): CorpusPipeline.Result =
    CorpusPipeline.run(corpus, heldOut, embeddings = embeddings, tokenizer = "bpe",
      decontamShingle = 8, captureState = true)

  /** Day `i`'s slice: the slice fixture with every word prefixed by the
    * slice tag, so consecutive days carry genuinely NEW documents (the
    * fixture replayed verbatim would exact-dedup to nothing after day 1),
    * and ids shifted by `offset` above the rolling high-water mark. */
  def sliceOf(spark: SparkSession, sliceSf: String, i: Int, offset: Long): DataFrame =
    docsOf(spark, sliceSf)
      .withColumn("doc_id", col("doc_id") + lit(offset))
      .withColumn("text",
        array_join(transform(split(col("text"), " "), w => concat(lit(s"s${i}x"), w)), " "))

  /** Exact multiset fingerprint of the corpus-defining columns: count +
    * xxhash64 summed exactly (decimal(38,0) — no overflow, no float). */
  def corpusFingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
    val row = df.select(
        xxhash64(col("doc_id"), col("lang"), col("n_tokens"), col("shard")).as("h"))
      .agg(count(lit(1)).as("n"), sum(col("h").cast("decimal(38,0)")).as("s"))
      .head
    (row.getLong(0), if (row.isNullAt(1)) java.math.BigDecimal.ZERO else row.getDecimal(1))
  }

  def sec1(s: Double): Double = math.round(s * 10) / 10.0

  private def stagesJson(ms: Seq[CorpusPipeline.Manifest]): String =
    ms.map(m => s""""${m.stage}":${m.rows}""").mkString("{", ",", "}")

  private def embeddingsOf(spark: SparkSession, sfDir: String, offset: Long = 0L) =
    graft.io.Tables.embeddings(spark, sfDir)
      .select((col("vec_id") + lit(offset)).as("doc_id"), col("embedding"))

  def full(leg: Bench.Leg, args: List[String]): Unit = {
    val spark = leg.spark
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val tokenizer = args.lift(1).getOrElse("bpe")
    val preset = args.lift(2).getOrElse("minimal")
    val (corpus, heldOut) = heldOutSplit(docsOf(spark, sfDir))
    val quality = if (preset == "production") graft.corpus.Quality.production() else Nil
    val emb = embeddingsOf(spark, sfDir)
    val ((r, outRows), wall) = leg.section("pipeline") {
      val r = CorpusPipeline.run(corpus, heldOut, embeddings = Some(emb),
        tokenizer = tokenizer, decontamShingle = 8, quality = quality)
      (r, r.corpus.count())
    }
    leg.emit(
      s""""metric":"corpus_pipeline","value":${sec1(wall)},""" +
        s""""unit":"sec","tokenizer":"$tokenizer","preset":"$preset","sf":"$sfDir",""" +
        s""""stages":${stagesJson(r.manifest)},"corpus_rows":$outRows,""" +
        s""""bpe_merges":${r.merges.size},"unigram_vocab":${r.unigramVocab.size}""")
  }

  /** Exchanges BETWEEN each incremental probe join and its index-side
    * scan, under forced shuffle joins (broadcast + AQE off, so the plan
    * is the one a corpus-sized index gets): 0 = the index arrives
    * pre-partitioned (bucketed co-location), 1 = the index re-shuffles
    * per slice (plain parquet). Identification is by scan location under
    * `stateDir` — works for plain AND bucketed layouts. */
  private def probeIndexExchanges(
      spark: SparkSession,
      slice: DataFrame,
      state: CorpusState,
      stateDir: String): Map[String, Int] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def isJoin(p: SparkPlan): Boolean = p match {
      case _: org.apache.spark.sql.execution.joins.SortMergeJoinExec => true
      case _: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => true
      case _ => false
    }
    def pathTo(p: SparkPlan, target: SparkPlan): Option[List[SparkPlan]] =
      if (p eq target) Some(List(p))
      else p.children.view.flatMap(c => pathTo(c, target)).headOption.map(p :: _)
    def exchangesToIndexScan(df: DataFrame, table: String): Int = {
      val plan = df.queryExecution.executedPlan
      val scans = plan.collect {
        case s: FileSourceScanExec if s.relation.location.rootPaths.exists(
          p => p.toString.contains(stateDir) && p.toString.contains(table)) => s
      }
      require(scans.nonEmpty, s"probe audit: no $table scan under $stateDir in\n$plan")
      scans.map { scan =>
        val path = pathTo(plan, scan).get
        val joinIdx = path.lastIndexWhere(isJoin)
        require(joinIdx >= 0, s"probe audit: $table scan has no join ancestor")
        path.drop(joinIdx + 1).count(_.isInstanceOf[ShuffleExchangeExec])
      }.max
    }
    val conf = spark.conf
    val oldAqe = conf.get("spark.sql.adaptive.enabled", "true")
    val oldBc = conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Map(
        "content_hashes" -> exchangesToIndexScan(
          CorpusPipeline.exactProbe(slice, state), "content_hashes"),
        "band_index" -> exchangesToIndexScan(
          CorpusPipeline.bandProbe(CorpusPipeline.bandsOf(slice), state), "band_index"),
        "window_index" -> exchangesToIndexScan(
          graft.operators.ExactSubstr.scrubAgainst(
            slice, state.windowIndex, state.exactSubstrWindow), "window_index"))
    } finally {
      conf.set("spark.sql.adaptive.enabled", oldAqe)
      conf.set("spark.sql.autoBroadcastJoinThreshold", oldBc)
    }
  }

  def incremental(leg: Bench.Leg, args: List[String]): Unit = {
    val spark = leg.spark
    val (corpusSf, sliceSf) = (args(0), args(1))
    val layout = args.lift(2).getOrElse("memory")
    val (corpus, heldOut) = heldOutSplit(docsOf(spark, corpusSf))
    val emb = embeddingsOf(spark, corpusSf)
    val ((base, baseRows), baseWall) = leg.section("base") {
      val base = baseBuild(corpus, heldOut, Some(emb))
      (base, base.corpus.count())
    }

    // deployment shape when a layout is named: persist the state and
    // RELOAD it — the slice job reads yesterday's tables, not this JVM's
    // cached frames
    val stateDir = java.nio.file.Files.createTempDirectory("corpus_state_bench").toString
    val prefix = "graft_bench_corpus_state"
    val state = layout match {
      case "bucketed" =>
        CorpusState.writeBucketed(base.state.get, stateDir, prefix)
        CorpusState.loadBucketed(spark, stateDir, prefix)
      case "plain" =>
        CorpusState.write(base.state.get, stateDir)
        CorpusState.load(spark, stateDir)
      case _ => base.state.get
    }

    // the slice: the smaller fixture's docs, id-shifted above the corpus
    // high-water mark (the append-only contract a real crawl slice gets
    // from its ingestion sequence numbers); embeddings shift with it so
    // the semantic probe runs
    val offset = state.maxDocId + 1L
    val slice = docsOf(spark, sliceSf).withColumn("doc_id", col("doc_id") + lit(offset))
    val sliceEmb = embeddingsOf(spark, sliceSf, offset)

    // probe-plan audit (persisted layouts only): the bucketed claim is
    // ASSERTED — an exchange on the index side fails the leg
    val exchanges = Option.when(layout == "bucketed" || layout == "plain")(
      probeIndexExchanges(spark, slice, state, stateDir))
    if (layout == "bucketed") require(exchanges.get.values.forall(_ == 0),
      s"bucketed state: expected 0 index-side exchanges, got ${exchanges.get}")

    val ((inc, incRows), incWall) = leg.section("slice") {
      val inc = CorpusPipeline.runIncremental(slice, state, embeddings = Some(sliceEmb))
      (inc, inc.corpus.count())
    }
    val exchangesJson = exchanges.map(ex =>
      ex.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }
        .mkString(""","index_side_exchanges":{""", ",", "}")).getOrElse("")
    leg.emit(
      s""""metric":"corpus_incremental","base_wall_sec":${sec1(baseWall)},""" +
        s""""incremental_wall_sec":${sec1(incWall)},""" +
        s""""corpus_sf":"$corpusSf","slice_sf":"$sliceSf","state_layout":"$layout"$exchangesJson,""" +
        s""""base_stages":${stagesJson(base.manifest)},""" +
        s""""slice_stages":${stagesJson(inc.manifest)},""" +
        s""""base_corpus_rows":$baseRows,"appended_corpus_rows":$incRows""")
  }

  def chain(leg: Bench.Leg, args: List[String]): Unit = {
    val spark = leg.spark
    val (corpusSf, sliceSf) = (args(0), args(1))
    val nSlices = args.lift(2).map(_.toInt).getOrElse(5)
    val layout = args.lift(3).getOrElse("plain")
    require(layout == "plain" || layout == "bucketed",
      s"chain layout must be 'plain' or 'bucketed', got '$layout'")
    val (corpus, heldOut) = heldOutSplit(docsOf(spark, corpusSf))
    val (base, baseWall) = leg.section("base")(baseBuild(corpus, heldOut))

    // daily rotation (bucketed layout): each day's state goes to a FRESH
    // directory under one root with a FRESH table prefix (the shape the
    // writeGuard and the catalog-identity guard both enforce); after the
    // new state commits and reloads, yesterday's directory is deleted and
    // its catalog entries dropped — nothing lazy references them anymore,
    // which is exactly what the rotation is supposed to guarantee
    val rotRoot = java.nio.file.Files.createTempDirectory("chain_bucketed").toString
    def dayDir(i: Int) = s"$rotRoot/day_$i"
    def dayPrefix(i: Int) = s"graft_chain_day_$i"
    def retire(i: Int): Unit = {
      CorpusState.BucketedTables.foreach {
        case (name, _) => spark.sql(s"DROP TABLE IF EXISTS ${dayPrefix(i)}_$name")
      }
      val p = new org.apache.hadoop.fs.Path(dayDir(i))
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
    var state = base.state.get
    var stateDir = ""
    val persistWalls = Seq.newBuilder[Double]
    def persist(i: Int): Unit = {
      val (st, w) = leg.section(s"persist_$i") {
        CorpusState.writeBucketed(state, dayDir(i), dayPrefix(i))
        CorpusState.loadBucketed(spark, dayDir(i), dayPrefix(i))
      }
      state = st; stateDir = dayDir(i); persistWalls += w
    }
    if (layout == "bucketed") persist(0)

    val walls = Seq.newBuilder[Double]
    val survivors = Seq.newBuilder[Long]
    val probeAudits = Seq.newBuilder[Int]
    val roundTripAt = math.max(1, nSlices / 2)
    var slices = Seq.empty[DataFrame]
    (1 to nSlices).foreach { i =>
      val slice = sliceOf(spark, sliceSf, i, state.maxDocId + 1L)
      slices = slices :+ slice
      if (layout == "bucketed") {
        // the co-located-probe claim, asserted on EVERY day of the chain:
        // under forced shuffle joins, no Exchange between any probe join
        // and its bucketed index scan (the slice side shuffles; the
        // corpus-sized index side must not)
        val ex = probeIndexExchanges(spark, slice, state, stateDir)
        require(ex.values.forall(_ == 0),
          s"chain slice $i: expected 0 index-side exchanges on bucketed state, got $ex")
        probeAudits += ex.values.max
      }
      val (r, wall) = leg.section(s"slice_$i")(CorpusPipeline.runIncremental(slice, state))
      walls += wall
      survivors += r.manifest.find(_.stage == "packed_sharded").map(_.rows).getOrElse(0L)
      state = r.state.get
      if (layout == "bucketed") {
        // today's rolled state commits to day i's fresh dir+prefix, then
        // the chain continues off the RELOADED bucketed tables; day i-1
        // retires only after the commit (crash-safe rotation order)
        persist(i)
        retire(i - 1)
      } else if (i == roundTripAt) {
        // mid-chain parquet round-trip: the rest of the chain runs off
        // yesterday's persisted tables, the actual daily deployment shape
        val dir = java.nio.file.Files.createTempDirectory(s"chain_state_$i").toString
        CorpusState.write(state, dir)
        state = CorpusState.load(spark, dir)
      }
    }

    // the endurance gate: final chained corpus ≡ one full rebuild of
    // corpus ∪ every slice under the PINNED base tokenizer
    val ((rn, rs), rebuildWall) = leg.section("rebuild") {
      corpusFingerprint(CorpusPipeline.run(
        slices.foldLeft(corpus)(_ unionByName _), heldOut, tokenizer = "bpe",
        decontamShingle = 8,
        pinnedTokenizer = Some((base.merges, base.unigramVocab))).corpus)
    }
    val (cn, csum) = corpusFingerprint(state.corpus)
    val equal = rn == cn && rs.compareTo(csum) == 0
    def secsJson(xs: Seq[Double]): String = xs.map(sec1).mkString("[", ",", "]")
    val layoutJson = layout match {
      case "bucketed" =>
        s""","state_persist_walls_sec":${secsJson(persistWalls.result())}""" +
          s""","index_side_exchanges_max_per_slice":${
            probeAudits.result().mkString("[", ",", "]")}"""
      case _ => s""","round_trip_after_slice":$roundTripAt"""
    }
    leg.emit(
      s""""metric":"corpus_chain","n_slices":$nSlices,""" +
        s""""corpus_sf":"$corpusSf","slice_sf":"$sliceSf",""" +
        s""""state_layout":"$layout",""" +
        s""""base_wall_sec":${sec1(baseWall)},""" +
        s""""slice_walls_sec":${secsJson(walls.result())},""" +
        s""""slice_survivors":${survivors.result().mkString("[", ",", "]")}$layoutJson,""" +
        s""""rebuild_wall_sec":${sec1(rebuildWall)},""" +
        s""""final_rows":$cn,"final_equals_rebuild":$equal""")
    require(equal,
      s"chain final corpus != full rebuild: chained ($cn, $csum) vs rebuilt ($rn, $rs)")
  }

  /** The incremental mode documents FIVE divergence surfaces vs a full
    * rebuild (CorpusPipeline.runIncremental + SemDeDup.probeDrops
    * scaladoc). This leg turns each from a qualitative note into a
    * MEASURED rate: a fixture engineered to contain every class, one
    * slice-probe run vs one pinned-tokenizer rebuild, kept-doc-id set
    * diffed, every divergent id attributed to its engineered class, and
    * the counts printed — with a require that divergence is CONFINED to
    * the engineered classes (the filler corpus must agree exactly).
    *
    * Classes and their engineered mechanics (all deterministic — fixed
    * minhash coefficients, id-seeded k-means, no RNG):
    *  hot_bucket  — 100 near-dup variants of one template put all three
    *                LSH band buckets over MaxBucket(64): the state freezes
    *                them at the cap, so slice probes of the template DROP;
    *                a rebuild's pair generation SKIPS over-cap buckets
    *                (BoundedLongCollect evals null past the cap) and keeps
    *                them. Direction: dropped_by_probe, kept_by_rebuild.
    *  lsh_bridge  — a slice doc spliced from two dissimilar corpus
    *                near-dup clusters A and B bands with both: the rebuild
    *                merges A∪B∪{bridge} into one component and keeps only
    *                min(A); the incremental corpus is immutable, so B's
    *                keeper survives. Direction: kept_by_probe (B's keeper),
    *                dropped_by_rebuild.
    *  sem_prefer  — slice embedding FARTHER from its stored centroid than
    *                its corpus duplicate: the d16 anti-memorization keep
    *                prefers the slice doc, so a rebuild drops the CORPUS
    *                doc; the probe can only drop slice docs — both
    *                survive. Direction: kept_by_probe, dropped_by_rebuild.
    *  sem_cap     — per-cell member cap (4 here) interacts with stage
    *                order: the stored members are capped over the FINAL
    *                corpus (post-decontamination), the rebuild caps over
    *                the sem-stage survivors (pre-decontamination); a
    *                contaminated early-id member shifts the capped window,
    *                so the slice doc's dropper is stored in the state but
    *                outside the rebuild's cap. Direction: dropped_by_probe,
    *                kept_by_rebuild.
    *  sem_drift   — a rebuild REFITS centroids over corpus ∪ slice: a
    *                slice mass along a direction orthogonal to every seed
    *                drags one centroid, co-locating two corpus docs that
    *                the stored (build-time) cells kept apart — the rebuild
    *                compares and drops one; the probe never re-cells the
    *                corpus. Direction: kept_by_probe, dropped_by_rebuild.
    */
  def divergence(leg: Bench.Leg, args: List[String]): Unit = {
    val spark = leg.spark
    val fillerSf = args.lift(0).getOrElse("/root/testdata/sf0.01")
    import spark.implicits._
    val cp = CorpusPipeline

    def doc(id: Long, text: String): (Long, String, String) = (id, "en", text)
    def words(prefix: String, n: Int): Seq[String] =
      (0 until n).map(i => s"$prefix$i")

    // -- filler: real fixture docs re-id'd into 1000.. (bulk + BPE realism)
    val filler = graft.io.Tables.documents(spark, fillerSf)
      .select(col("doc_id"), col("lang"), col("text"))
      .orderBy(col("doc_id")).limit(200)
      .withColumn("doc_id",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("doc_id"))).cast("long") + lit(999L))

    // -- hot_bucket: 100 corpus variants (31 words: base 30 + unique tail;
    // < the 50-token ExactSubstr window, so the scrub never interferes),
    // 5 slice probes of the same template
    val hotBase = words("hotw", 30).mkString(" ")
    val hotCorpus = (0 until 100).map(i => doc(3000L + i, s"$hotBase hottail$i"))
    val hotProbes = (0 until 5).map(i => doc(10000L + i, s"$hotBase probetail$i"))

    // -- lsh_bridge: 4 cluster pairs (a1,a2) / (b1,b2) plus one slice doc
    // spliced from both base texts that LSH-bands into BOTH clusters.
    // Which band a splice lands in is decided by minhash minima over the
    // union of the two shingle sets — not hand-predictable, and for a
    // FIXED vocabulary pair the per-permutation winners are fixed (a
    // splice can only ever match the side that wins a whole band), so
    // the fixture searches vocabulary VARIANTS for both sides as well as
    // word-removal windows, computes every candidate's ACTUAL bands, and
    // picks the first (variant, window) combo — per pair — where
    //   a1~a2 share a band, b1~b2 share a band, and the splice shares a
    //   band with a1 AND with b1.
    // Deterministic: fixed candidate enumeration, fixed minhash seeds,
    // first hit in enumeration order.
    val nBridges = 4
    final case class BridgePick(a1: String, a2: String, b1: String, b2: String,
        splice: String)
    val bridgePicks: Seq[BridgePick] = {
      val nV = 5
      def clusterWords(side: String, j: Int, v: Int) = words(s"b$side${j}v${v}w", 36)
      def member(side: String, j: Int, v: Int, t: Int): String =
        (clusterWords(side, j, v) :+ s"b$side${j}v${v}t$t").mkString(" ")
      def spliceOf(j: Int, av: Int, bv: Int, da: Int, db: Int): String =
        (clusterWords("A", j, av).patch(da, Nil, 6) ++
          clusterWords("B", j, bv).patch(db, Nil, 6)).mkString(" ")
      final case class Meta(kind: String, j: Int, av: Int, bv: Int, da: Int = -1, db: Int = -1)
      val candidates: Seq[(Meta, String)] =
        (for (j <- 0 until nBridges; v <- 0 until nV;
              (kind, side, t) <- Seq(("a1", "A", 1), ("a2", "A", 2), ("b1", "B", 1), ("b2", "B", 2)))
          yield (if (side == "A") Meta(kind, j, v, -1) else Meta(kind, j, -1, v)) ->
            member(side, j, v, t)) ++
        (for (j <- 0 until nBridges; av <- 0 until nV; bv <- 0 until nV;
              da <- 0 to 30 by 6; db <- 0 to 30 by 6)
          yield Meta("s", j, av, bv, da, db) -> spliceOf(j, av, bv, da, db))
      val ids = candidates.indices.map(20000L + _)
      val bandsById: Map[Long, Set[(Int, String)]] = cp.bandsOf(
          ids.zip(candidates.map(_._2)).toDF("doc_id", "text"))
        .collect()
        .map(r => (r.getAs[Long]("doc_id"), (r.getAs[Int]("b"), r.getAs[String]("band_key"))))
        .groupBy(_._1).map { case (id, rs) => id -> rs.map(_._2).toSet }
      val bands: Map[Meta, Set[(Int, String)]] = candidates.map(_._1).zip(ids)
        .map { case (m, id) => m -> bandsById.getOrElse(id, Set.empty) }.toMap
      (0 until nBridges).map { j =>
        val combos = for (av <- 0 until nV; bv <- 0 until nV) yield (av, bv)
        val pick = combos.iterator.flatMap { case (av, bv) =>
          val a1b = bands(Meta("a1", j, av, -1))
          val b1b = bands(Meta("b1", j, -1, bv))
          if ((a1b & bands(Meta("a2", j, av, -1))).isEmpty ||
              (b1b & bands(Meta("b2", j, -1, bv))).isEmpty) None
          else {
            val win = (for (da <- 0 to 30 by 6; db <- 0 to 30 by 6) yield (da, db))
              .iterator.find { case (da, db) =>
                val sb = bands(Meta("s", j, av, bv, da, db))
                (sb & a1b).nonEmpty && (sb & b1b).nonEmpty
              }
            win.map { case (da, db) => (av, bv, da, db) }
          }
        }.nextOption().getOrElse(sys.error(
          s"divergence fixture: no (vocab variant, window) splice of bridge " +
            s"pair $j bands with both clusters"))
        val (av, bv, da, db) = pick
        BridgePick(member("A", j, av, 1), member("A", j, av, 2),
          member("B", j, bv, 1), member("B", j, bv, 2), spliceOf(j, av, bv, da, db))
      }
    }
    val bridgeCorpus = bridgePicks.zipWithIndex.flatMap { case (p, j) =>
      Seq(doc(4000L + 4 * j, p.a1), doc(4001L + 4 * j, p.a2),
        doc(4002L + 4 * j, p.b1), doc(4003L + 4 * j, p.b2))
    }
    val bridgeSlice: Seq[(Long, String, String)] =
      bridgePicks.zipWithIndex.map { case (p, j) => doc(10100L + j, p.splice) }

    // -- semantic classes: d=16 embeddings; dims 0..4 are the five
    // k-means seed directions (seeds = the 5 smallest vec_ids, so the
    // seed docs PIN the cell structure), dims 5..15 are orthogonal slots
    // that keep same-cell members below the 0.9 cosine threshold
    val D = 16
    def vec(parts: (Int, Double)*): Array[Double] = {
      val a = Array.fill(D)(0.0)
      parts.foreach { case (i, v) => a(i) = v }
      a
    }
    def semText(id: Long): String = words(s"sem${id}w", 6).mkString(" ")
    val heldOutGram = words("hx", 12)

    val semCorpus = Seq.newBuilder[(Long, String, String, Array[Double])]
    // seeds: one per cell, pure directions
    (0 to 4).foreach { c =>
      semCorpus += ((5000L + c, "en", semText(5000L + c), vec(c -> 1.0)))
    }
    // sem_prefer (cell 4): corpus doc p close to the centroid; the slice
    // doc is 1.5x the same vector (cosine 1, farther out)
    val pVec = vec(4 -> 0.8, 5 -> 0.6)
    semCorpus += ((5010L, "en", semText(5010L), pVec))
    // sem_cap (cell 1): six members on orthogonal slots 9..14; member
    // 5021 carries a held-out 8-gram so decontamination drops it AFTER
    // the sem stage — the stored cap window shifts to include 5024,
    // which the rebuild's pre-decontam cap excludes
    (0 until 6).foreach { i =>
      val id = 5021L + i
      val text =
        if (i == 0) (words(s"cap${id}w", 3) ++ heldOutGram.take(8) ++
          words(s"cap${id}x", 2)).mkString(" ")
        else semText(id)
      semCorpus += ((id, "en", text, vec(1 -> 0.8, (9 + i) -> 0.6)))
    }
    // sem_drift (cells 2/3): u and w share a dominant dim-15 component
    // (cosine 0.909 to each other) but split to cells 2 and 3 under the
    // stored centroids; the slice mass on pure dim 15 drags a centroid in
    // the rebuild's refit and co-locates them
    semCorpus += ((5040L, "en", semText(5040L), vec(2 -> 0.3, 15 -> 0.95)))
    semCorpus += ((5041L, "en", semText(5041L), vec(3 -> 0.3, 15 -> 0.95)))
    val semCorpusRows = semCorpus.result()

    val semSlice = Seq(
      (10200L, "en", semText(10200L), vec(4 -> 1.2, 5 -> 0.9)),   // sem_prefer
      (10210L, "en", semText(10210L), vec(1 -> 0.64, 12 -> 0.48)) // sem_cap (0.8x member 5024)
    ) ++ (0 until 20).map { i => // sem_drift mass: identical vectors, unique texts
      (10300L + i, "en", semText(10300L + i), vec(15 -> 1.0))
    }

    val heldOut = Seq(
      doc(90001L, heldOutGram.mkString(" ")),
      doc(90002L, words("hy", 12).mkString(" ")),
      doc(90003L, words("hz", 12).mkString(" "))
    ).toDF("doc_id", "lang", "text")

    val corpusDocs = filler.unionByName(
      (hotCorpus ++ bridgeCorpus ++ semCorpusRows.map(t => (t._1, t._2, t._3)))
        .toDF("doc_id", "lang", "text"))
    val corpusEmb = semCorpusRows.map(t => (t._1, t._4)).toDF("vec_id", "embedding")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val sliceDocs = (hotProbes ++ bridgeSlice ++ semSlice.map(t => (t._1, t._2, t._3)))
      .toDF("doc_id", "lang", "text")
    val sliceEmb = semSlice.map(t => (t._1, t._4)).toDF("doc_id", "embedding")

    // -- base build with state, slice probe, pinned rebuild
    val (base, _) = leg.section("base") {
      cp.run(corpusDocs, heldOut, embeddings = Some(corpusEmb),
        decontamShingle = 8, tokenizer = "bpe",
        semK = 5, semIters = 2, semThreshold = 0.9, semMaxCell = 4,
        captureState = true)
    }
    val state = base.state.get
    // fixture validity: the hot template's buckets really froze at the cap
    val saturated = state.bandIndex
      .filter(col("cnt") === lit(CorpusPipeline.MaxBucket.toLong))
      .count()
    require(saturated >= 1,
      s"divergence fixture: expected >=1 LSH bucket frozen at the cap, got $saturated")

    def ids(df: DataFrame): Set[Long] = df.select("doc_id").collect().map(_.getLong(0)).toSet
    val (incIds, _) = leg.section("slice") {
      ids(cp.runIncremental(sliceDocs, state, embeddings = Some(sliceEmb)).corpus)
    }
    val (rebIds, _) = leg.section("rebuild") {
      ids(cp.run(
        corpusDocs.unionByName(sliceDocs), heldOut,
        embeddings = Some(corpusEmb.unionByName(
          sliceEmb.toDF("doc_id", "embedding"))),
        decontamShingle = 8, tokenizer = "bpe",
        semK = 5, semIters = 2, semThreshold = 0.9, semMaxCell = 4,
        pinnedTokenizer = Some((base.merges, base.unigramVocab))).corpus)
    }

    def classOf(id: Long): String = id match {
      case i if (i >= 3000L && i < 3100L) || (i >= 10000L && i < 10010L) => "hot_bucket"
      case i if (i >= 4000L && i < 4100L) || (i >= 10100L && i < 10150L) => "lsh_bridge"
      case i if i == 5010L || i == 10200L => "sem_prefer"
      case i if (i >= 5021L && i < 5027L) || i == 10210L => "sem_cap"
      case i if i == 5040L || i == 5041L || (i >= 10300L && i < 10320L) => "sem_drift"
      case _ => "other"
    }
    val classes = Seq("hot_bucket", "lsh_bridge", "sem_prefer", "sem_cap",
      "sem_drift", "other")
    val keptByProbeOnly = (incIds -- rebIds).groupBy(classOf)
    val keptByRebuildOnly = (rebIds -- incIds).groupBy(classOf)
    def cnt(m: Map[String, Set[Long]], c: String): Int = m.get(c).map(_.size).getOrElse(0)

    val classJson = classes.map { c =>
      s""""$c":{"kept_by_probe_dropped_by_rebuild":${cnt(keptByProbeOnly, c)},""" +
        s""""dropped_by_probe_kept_by_rebuild":${cnt(keptByRebuildOnly, c)}}"""
    }.mkString("{", ",", "}")
    leg.emit(
      s""""metric":"corpus_divergence","corpus_rows":${incIds.size},""" +
        s""""rebuild_rows":${rebIds.size},"saturated_buckets":$saturated,""" +
        s""""divergent_total":${(incIds -- rebIds).size + (rebIds -- incIds).size},""" +
        s""""classes":$classJson""")

    // every engineered class must FIRE in its documented direction, and
    // divergence must be CONFINED to the engineered classes — a nonzero
    // "other" count would mean the incremental mode diverges somewhere
    // the operator scaladoc does not document
    require(cnt(keptByRebuildOnly, "hot_bucket") >= 1,
      "hot_bucket divergence did not fire (probe-dropped, rebuild-kept)")
    require(cnt(keptByProbeOnly, "lsh_bridge") >= 1,
      "lsh_bridge divergence did not fire (probe-kept, rebuild-dropped)")
    require(cnt(keptByProbeOnly, "sem_prefer") >= 1,
      "sem_prefer divergence did not fire (probe-kept, rebuild-dropped)")
    require(cnt(keptByRebuildOnly, "sem_cap") >= 1,
      "sem_cap divergence did not fire (probe-dropped, rebuild-kept)")
    require(cnt(keptByProbeOnly, "sem_drift") >= 1,
      "sem_drift divergence did not fire (probe-kept, rebuild-dropped)")
    require(cnt(keptByProbeOnly, "other") == 0 && cnt(keptByRebuildOnly, "other") == 0,
      s"UNDOCUMENTED divergence outside the engineered classes: " +
        s"probe-only=${keptByProbeOnly.get("other")} rebuild-only=${keptByRebuildOnly.get("other")}")
  }
}
