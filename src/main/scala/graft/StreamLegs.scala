package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.corpus.{CorpusPipeline, StreamingIngest}
import graft.streaming.EventStreams

/** The streaming legs of [[Bench]].
  *
  *   stream events [sfDir] [files]
  *     — throughput of the Structured Streaming path: the events fixture
  *       (default SPARK_GRAFT_SF_DIR) staged as `files` (default 32)
  *       range-sorted parquet splits, so the replay arrives in event-time
  *       order and watermark eviction runs, replayed under
  *       [[EventStreams.rocksDbStateStoreConfigs]]. One record per
  *       pipeline (rows/sec, batches, final state rows and bytes):
  *       transformWithState lifetime stats, flatMapGroupsWithState
  *       sessionization, watermarked tumbling counts and the watermarked
  *       stream-stream interval join, each gated on a state bound that is
  *       sub-linear in the stream; then a kill-and-restart recovery
  *       record, gated equal to an uninterrupted run.
  *   stream corpus [baseSfDir] [sliceSfDir] [nSlices]
  *     — the streamed corpus ingest: [[StreamingIngest]] drives
  *       runIncremental from a file stream, one staged slice per trigger,
  *       GATED equal (exact multiset fingerprint) to the batch chain over
  *       the same staged files.
  */
private[graft] object StreamLegs {

  /** Streamed corpus ingest at fixture scale: base corpus from `baseSf`,
    * `n` slices from `sliceSf` ([[CorpusLegs.sliceOf]]) staged as one
    * parquet file each, streamed at one file per trigger. */
  def corpus(leg: Bench.Leg, args: List[String]): Unit = {
    val spark = leg.spark
    val baseSf = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val sliceSf = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val n = args.lift(2).map(_.toInt).getOrElse(3)
    val work = Files.createTempDirectory("graft-streamcorpus").toString
    val (corpus, heldOut) = CorpusLegs.heldOutSplit(CorpusLegs.docsOf(spark, baseSf))
    val (base, baseWall) = leg.section("base")(CorpusLegs.baseBuild(corpus, heldOut))
    val state0 = base.state.get

    // stage n slices as ONE parquet file each with strictly increasing
    // mtimes (file-source delivery order): slice i gets a fresh id span
    // above the previous slice's — pre-staged because the stream needs
    // the files up front
    val sliceMax = CorpusLegs.docsOf(spark, sliceSf).agg(max(col("doc_id"))).head.getLong(0)
    val staged = Paths.get(work, "slices")
    Files.createDirectories(staged)
    def stagedSlice(i: Int) = staged.resolve(f"slice_$i%04d.parquet")
    (1 to n).foreach { i =>
      val offset = state0.maxDocId + 1L + (i - 1).toLong * (sliceMax + 1L)
      val tmp = Paths.get(work, s"tmp_$i")
      CorpusLegs.sliceOf(spark, sliceSf, i, offset).coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq.last
      Files.copy(part, stagedSlice(i))
      Files.setLastModifiedTime(stagedSlice(i),
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }

    val schema = spark.read.parquet(staged.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged.toString)
    val (h, streamWall) = leg.section("stream") {
      val h = StreamingIngest.start(stream, state0,
        stateRoot = s"$work/state", checkpoint = s"$work/ckpt")
      h.query.processAllAvailable()
      h.query.stop()
      h
    }
    val (chained, _) = leg.section("chain") {
      (1 to n).foldLeft(state0) { (st, i) =>
        CorpusPipeline.runIncremental(spark.read.parquet(stagedSlice(i).toString), st).state.get
      }
    }
    val (sn, ss) = CorpusLegs.corpusFingerprint(h.state.corpus)
    val (cn, cs) = CorpusLegs.corpusFingerprint(chained.corpus)
    val equal = sn == cn && ss.compareTo(cs) == 0
    val walls = h.stats.sortBy(_.batchId).map(s => CorpusLegs.sec1(s.wallSec)).mkString("[", ",", "]")
    leg.emit(
      s""""pipeline":"corpus_stream_ingest","n_slices":$n,""" +
        s""""base_sf":"$baseSf","slice_sf":"$sliceSf",""" +
        s""""base_wall_sec":${CorpusLegs.sec1(baseWall)},""" +
        s""""stream_wall_sec":${CorpusLegs.sec1(streamWall)},""" +
        s""""batches":${h.stats.size},"batch_walls_sec":$walls,""" +
        s""""files_per_trigger":1,"final_rows":$sn,""" +
        s""""streamed_equals_chain":$equal""")
    require(equal, s"CORPUS STREAM MISMATCH: streamed ($sn, $ss) vs chained ($cn, $cs)")
  }

  def events(leg: Bench.Leg, args: List[String]): Unit = {
    val spark = leg.spark
    import spark.implicits._
    val sfDir = args.lift(0)
      .getOrElse(sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val files = args.lift(1).map(_.toInt).getOrElse(32)
    val work = Files.createTempDirectory("graft-streambench").toString

    // Stage the fixture as `files` range-sorted splits: the file source
    // delivers them in path order, so the stream replays roughly in
    // event-time order — the regime where watermarks advance and state
    // eviction is observable, like a live feed.
    val staged = s"$work/events"
    graft.io.Tables.events(spark, sfDir)
      .withColumn("ts", col("ts").cast("timestamp"))
      .repartitionByRange(files, col("ts"))
      .sortWithinPartitions(col("ts"))
      .write.parquet(staged)
    val schema = spark.read.parquet(staged).schema
    val nRows = spark.read.parquet(staged).count()

    // State-rows BOUNDS: state ~ keys / open windows / lag-window events,
    // never stream length — ASSERTED per pipeline, so a state leak (a lost
    // watermark, a dropDuplicates without the watermark column, an
    // unbounded key space) fails the leg instead of shipping as a
    // big-but-unread number. Keyed pipelines bound exactly: one state row per user
    // (transformWithState ValueState, flatMapGroupsWithState session), one
    // per open (hour-window, event_type) group. The interval join's
    // eviction granularity is the micro-batch: the final batch evicts with
    // the PREVIOUS batch's watermark, so retained rows ~ the last trigger's
    // tail (4 of `files` range-balanced splits, cushioned 1.5x for range-
    // partitioner sampling imbalance) PLUS the 2h/1h lag windows. The lag
    // share is MEASURED off the fixture (rows within 2h of max ts), not
    // assumed inside the cushion: a dense-timestamp fixture whose
    // per-trigger span is below the 2h lag legitimately holds more than two
    // triggers' rows, and must not fail on a fixture property rather than
    // a watermark leak. Still sub-linear on
    // any real (long) stream — the claim under test — and a broken
    // watermark holds 100% and fails.
    val statsDf = spark.read.parquet(staged)
    val distinctUsers = statsDf.select(col("user_id")).distinct().count()
    val hourTypeGroups = statsDf
      .select(date_trunc("hour", col("ts")), col("event_type")).distinct().count()
    val lagWindowRows = {
      val maxTs = statsDf.agg(max(col("ts"))).head.getTimestamp(0)
      statsDf.filter(col("ts") >= lit(maxTs) - expr("INTERVAL 2 HOURS")).count()
    }
    def joinTailBound(fpt: Int): Long =
      (nRows * fpt.toLong * 3L) / files.toLong + lagWindowRows

    def src(maxFilesPerTrigger: Int): DataFrame =
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
        .parquet(staged)

    var stateBoundViolations = 0

    def run(name: String, mode: String, stateBound: Long, filesPerTrigger: Int = 4)(
        pipeline: DataFrame => DataFrame): Unit = {
      val out = pipeline(src(filesPerTrigger))
      val (q, wall) = leg.section(name) {
        val q = out.writeStream
          .format("noop")
          .outputMode(mode)
          .option("checkpointLocation", s"$work/ckpt-$name")
          .start()
        q.processAllAvailable()
        q
      }
      val progresses = q.recentProgress
      // batch count from the last committed batchId, NOT recentProgress
      // length: recentProgress retains only the last
      // spark.sql.streaming.numRecentProgressUpdates=100 entries, so a
      // larger file count would silently understate the count; batchId is
      // monotonic and retention-free
      val batches = Option(q.lastProgress).map(_.batchId + 1).getOrElse(0L)
      // final state snapshot: last progress that carries state operators
      // (every stateful query's progress reports its state operators, so
      // the reverse search hits within the retained window)
      val lastState = progresses.reverseIterator
        .find(_.stateOperators.nonEmpty).map(_.stateOperators.toSeq)
        .getOrElse(Seq.empty)
      val stateRows = lastState.map(_.numRowsTotal).sum
      val stateBytes = lastState.map(_.memoryUsedBytes).sum
      q.stop()
      val boundOk = stateRows <= stateBound
      if (!boundOk) {
        stateBoundViolations += 1
        System.err.println(
          s"[bench] STATE BOUND VIOLATED: $name state_rows=$stateRows > bound=$stateBound")
      }
      // files_per_trigger ships IN the record: the join's default trigger
      // size is not the other pipelines', so readers of same-name records
      // need the config self-described
      leg.emit(
        s""""pipeline":"$name","rows":$nRows,"wall_sec":${f"$wall%.2f"},""" +
          s""""rows_per_sec":${(nRows / wall).toLong},"batches":$batches,""" +
          s""""files_per_trigger":$filesPerTrigger,""" +
          s""""state_rows":$stateRows,"state_bytes":$stateBytes,""" +
          s""""state_rows_bound":$stateBound,"state_bound_ok":$boundOk""")
    }

    run("user_lifetime_stats", "update", stateBound = distinctUsers)(
      EventStreams.userLifetimeStats)
    run("sessionize", "append", stateBound = distinctUsers) { df =>
      EventStreams.sessionize(df.select(
        col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value")).as[EventStreams.Event]).toDF()
    }
    run("tumbling_counts", "update", stateBound = hourTypeGroups)(
      df => EventStreams.tumblingCounts(df))
    // 16 files/trigger is the join's default: at 4 files/trigger the
    // join's throughput is dominated by per-micro-batch state-store commit
    // overhead (RocksDB changelog upload × 2 join state stores × every
    // batch), not by the join itself — 4x larger triggers amortize it to
    // ~2x the rows/s with identical results (trigger granularity is an
    // execution knob, not semantics: EventStreamsSpec asserts the emitted
    // rows are invariant to micro-batch splits). The 4-file leg ships as
    // the permanent A/B evidence.
    run("click_purchase_join", "append", filesPerTrigger = 16,
      stateBound = joinTailBound(16))(
      df => EventStreams.clickPurchaseJoin(df))
    run("click_purchase_join_fpt4", "append", filesPerTrigger = 4,
      stateBound = joinTailBound(4))(
      df => EventStreams.clickPurchaseJoin(df))

    // ---- Recovery: kill the transformWithState pipeline after `killAfter`
    // committed batches, restart it from the SAME changelog checkpoint, and
    // require the final per-user stats to equal an uninterrupted run's.
    // The compare is exact because the accumulator is integer micro-units
    // (UserStats scaladoc): a kill between the file source's log append and
    // the offset WAL write legitimately re-plans the in-flight batch, which
    // would change a double fold's summation order. Each micro-batch's
    // update rows land in a parquet dir with their batchId; a replayed
    // batch re-emits identical rows, so dedup on (batch_id, user_id)
    // restores exactly-once rows, and "final" per user is the row with the
    // largest batch_id.
    def finalRows(dir: String): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      spark.read.parquet(dir)
        .dropDuplicates("batch_id", "user_id")
        .withColumn("rk", row_number().over(Window.partitionBy(col("user_id"))
          .orderBy(col("batch_id").desc)))
        .filter(col("rk") === 1)
        .select(col("user_id"), col("n_events"), col("total_value"), col("last_seen_s"))
    }
    // one file per trigger: at a small file count, larger triggers let
    // segment A drain the fixture before its kill lands, and the restart
    // would then recover nothing
    def startUls(outDir: String, ckpt: String) =
      EventStreams.userLifetimeStats(src(1)).writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(outDir)
        }
        .start()

    // uninterrupted reference
    leg.section("uninterrupted") {
      val qFull = startUls(s"$work/uls-full", s"$work/ckpt-uls-full")
      qFull.processAllAvailable(); qFull.stop()
    }

    // segment A: kill after `killAfter` committed batches. The wait exits
    // on ANY of: target batch committed, query no longer active (a tiny
    // fixture can drain in fewer than `killAfter` batches, or the query
    // can die with an error — polling a dead query would spin forever), or
    // a hard deadline as the last-resort hang guard.
    val killAfter = 1L
    val (qA, segASec) = leg.section("segment_a") {
      val deadlineA = System.nanoTime() + 300L * 1000L * 1000L * 1000L // 300 s
      val qA = startUls(s"$work/uls-rec", s"$work/ckpt-uls-rec")
      while (qA.isActive
          && Option(qA.lastProgress).forall(_.batchId < killAfter - 1)
          && System.nanoTime() < deadlineA) Thread.sleep(50)
      qA.stop() // mid-replay kill: most of the fixture is still unprocessed
      qA
    }
    val batchesA = Option(qA.lastProgress).map(_.batchId + 1).getOrElse(0L)

    // segment B: restart from the changelog checkpoint, drain to the end
    val (qB, recoverySec) = leg.section("segment_b") {
      val qB = startUls(s"$work/uls-rec", s"$work/ckpt-uls-rec")
      qB.processAllAvailable()
      qB
    }
    val batchesB = batchesAfterRestart(Option(qB.lastProgress).map(_.batchId), batchesA)
    qB.stop()

    // SYMMETRIC compare: rows in either run but not the other. A
    // union-distinct count against the reference alone would miss rows
    // ABSENT from the recovered run (a lost-replay failure leaves rec a
    // strict subset of full and the superset check still passes) — the
    // exact failure class this measurement exists to catch.
    val full = finalRows(s"$work/uls-full")
    val rec = finalRows(s"$work/uls-rec")
    val nUsers = full.count()
    val mismatch = full.except(rec).unionByName(rec.except(full)).count()
    leg.emit(
      s""""pipeline":"user_lifetime_stats_recovery","rows":$nRows,""" +
        s""""kill_after_batches":$killAfter,"segA_sec":${f"$segASec%.2f"},""" +
        s""""recovery_sec":${f"$recoverySec%.2f"},"batches_before_kill":$batchesA,""" +
        s""""batches_after_restart":$batchesB,"users":$nUsers,""" +
        s""""final_rows_match_uninterrupted":${mismatch == 0L}""")
    // a violated state bound, a recovery mismatch or a restart that had
    // nothing left to recover fails the leg itself — a red exit code, not
    // just a false flag in the JSON
    require(mismatch == 0L, s"RECOVERY MISMATCH: $mismatch rows differ")
    require(batchesB > 0,
      s"RECOVERY NOT EXERCISED: segment A ran all $batchesA batches before the kill")
    require(stateBoundViolations == 0, s"$stateBoundViolations state bound(s) violated")
  }

  /** Batches the restarted query ran: its batch ids continue from the
    * checkpoint, so this is its last batch id + 1 minus the `batchesA`
    * committed before the kill, and 0 when it ran none (segment A drained
    * the whole fixture before the kill landed). */
  private[graft] def batchesAfterRestart(lastBatchIdB: Option[Long], batchesA: Long): Long =
    lastBatchIdB.fold(0L)(_ + 1 - batchesA)
}
