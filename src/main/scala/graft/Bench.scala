package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, struct, sum, xxhash64}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._

/** The bench's one per-query listener. Jobs are attributed through two
  * thread-local properties set around each query: `graft.bench.query`
  * (the query name) and `graft.bench.phase` — `build` while the query's
  * DataFrame is constructed (eager work such as `Reuse.materializeFiles`
  * writes runs here), `exec` for the measured action. Spark captures local
  * properties into every job the thread submits, and through
  * SQLExecution's capture into its broadcast side jobs too. Stages map to
  * the (query, phase) of the job that submits them; stage completions and
  * task-end metrics accumulate under it. Tasks of jobs carrying no
  * property land in `_unattributed`, so totals never silently undercount.
  * Shuffle bytes are deterministic per plan and data where wall time is
  * noisy, so a plan regression that adds an exchange diffs cleanly from
  * run to run; the exception is work a per-directory memo shares between
  * queries (the g1/g2/g4/g7 trade graph, the v2-v5 tokenizer models),
  * charged to whichever query fills the memo first.
  *
  * Per (query, phase) it counts jobs, stages that ran, tasks, shuffle
  * read/write bytes, memory and disk spill bytes, and the peak execution
  * memory of any one task (the number that predicts an executor OOM). */
private[graft] final class QueryTrace extends SparkListener {
  import QueryTrace._
  private val stageKey = new ConcurrentHashMap[Int, Key]()
  private val tallies = new ConcurrentHashMap[Key, Tally]()
  private def tally(k: Key): Tally = tallies.computeIfAbsent(k, _ => new Tally)

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val props = Option(js.properties)
    def prop(name: String) = props.flatMap(p => Option(p.getProperty(name)))
    val k = Key(prop(QueryProp).getOrElse(Unattributed), prop(PhaseProp).getOrElse("none"))
    js.stageIds.foreach(sid => stageKey.put(sid, k))
    tally(k).jobs.increment()
  }
  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
    tally(keyOf(sc.stageInfo.stageId)).stages.increment()
  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val t = tally(keyOf(te.stageId))
    t.tasks.increment()
    val m = te.taskMetrics
    if (m != null) {
      t.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      t.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      t.memorySpill.add(m.memoryBytesSpilled)
      t.diskSpill.add(m.diskBytesSpilled)
      t.peakExecMemory.accumulateAndGet(m.peakExecutionMemory, (a, b) => math.max(a, b))
    }
  }
  private def keyOf(stageId: Int): Key =
    Option(stageKey.get(stageId)).getOrElse(Key(Unattributed, "none"))

  /** Drain the tallies per (query, phase). Call [[drainListenerBus]] first:
    * events arrive on Spark's listener thread, so a snapshot taken right
    * after the last job returns could miss trailing task ends, or count
    * them into the next repeat. `stageKey` is not cleared: stage ids are
    * unique for the SparkContext's lifetime, so a late event still lands
    * on the right query. */
  def snapshotAndReset(): Map[Key, Counts] = {
    val out = tallies.asScala.map { case (k, t) => k -> t.counts }.toMap
    tallies.clear()
    out
  }

  /** Block until every queued listener event has been delivered.
    * `LiveListenerBus.waitUntilEmpty` is `private[spark]`, public at the
    * bytecode level, so plain reflection reaches it (the path Spark's own
    * tests use). If the reflective route breaks on a Spark bump, poll
    * until the task count holds still for 100 ms. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      val m = bus.getClass.getMethods
        .filter(_.getName == "waitUntilEmpty")
        .minBy(_.getParameterCount)
      if (m.getParameterCount == 0) m.invoke(bus)
      else m.invoke(bus, java.lang.Long.valueOf(30000L))
    } catch {
      case _: Throwable =>
        def total: Long = tallies.values.asScala.map(_.tasks.sum).sum
        var prev = -1L
        var cur = total
        var spins = 0
        while (prev != cur && spins < 100) {
          Thread.sleep(100); prev = cur; cur = total; spins += 1
        }
    }
}

private[graft] object QueryTrace {
  val QueryProp = "graft.bench.query"
  val PhaseProp = "graft.bench.phase"
  val Build = "build"
  val Exec = "exec"
  val Unattributed = "_unattributed"

  final case class Key(query: String, phase: String)

  final case class Counts(jobs: Long, stages: Long, tasks: Long,
      shuffleRead: Long, shuffleWrite: Long, memorySpill: Long, diskSpill: Long,
      peakExecMemory: Long) {
    def json: String =
      s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
        s""""shuffle_read_bytes":$shuffleRead,"shuffle_write_bytes":$shuffleWrite,""" +
        s""""memory_spill_bytes":$memorySpill,"disk_spill_bytes":$diskSpill,""" +
        s""""peak_exec_memory_bytes":$peakExecMemory}"""
  }
  val NoCounts: Counts = Counts(0, 0, 0, 0, 0, 0, 0, 0)

  private final class Tally {
    val jobs, stages, tasks = new LongAdder
    val shuffleRead, shuffleWrite, memorySpill, diskSpill = new LongAdder
    val peakExecMemory = new AtomicLong
    def counts: Counts = Counts(jobs.sum, stages.sum, tasks.sum, shuffleRead.sum,
      shuffleWrite.sum, memorySpill.sum, diskSpill.sum, peakExecMemory.get)
  }
}

/** One measured run of one query: total seconds (-1 for a failure), output
  * rows, the build wall, and the planning phases of the measured action's
  * own `QueryExecution` (analysis, optimization, planning). Execution is
  * the rest: `sec` minus build and the phases. */
private[graft] final case class QueryRun(
    sec: Double, rows: Long, buildMs: Long, phasesMs: Map[String, Long]) {
  def execMs: Long = math.max(0L, math.round(sec * 1000) - buildMs - phasesMs.values.sum)
}

/** Benchmark main: one JSON line with per-query seconds at the target SF.
  *
  * Throughput harness, not a latency harness: the suite is ~70 independent
  * queries, most of which leave local[32] mostly idle (a single-row-group
  * fixture scan is ONE task; a 3-group aggregate uses 3 reducers), so
  * running them strictly one-after-another measures mostly Spark's
  * per-query scheduling floor — ~0.2-0.3 s × 70 queries of idle cores. The
  * suite therefore executes on SPARK_GRAFT_BENCH_THREADS (default 8) driver
  * threads submitting concurrent jobs into one SparkSession, the standard
  * multi-tenant shape for a Spark cluster: FAIR scheduling, one pool per
  * worker thread, so no query starves the rest. `value` is the wall-clock
  * of the whole measured batch — work/time, the quantity that actually
  * extrapolates to cluster throughput. Per-query seconds are reported too,
  * but under concurrency they include scheduler wait: they locate hotspots,
  * their SUM (also reported, as `sum_query_sec`) exceeds the wall.
  * SPARK_GRAFT_BENCH_THREADS=1 recovers the old sequential behavior
  * (value ≈ sum of per-query times).
  *
  * Each query is first executed once against the sf0.001 fixture to pay
  * one-time costs that are data-independent — plan analysis, whole-stage
  * code generation, JIT — exactly once, outside the measured run (the
  * codegen cache keys on generated source, which is identical across scale
  * factors). The warmup timings also order the measured run longest-first
  * (LPT scheduling), so the concurrent batch doesn't end on one heavy
  * straggler. Set SPARK_GRAFT_WARMUP=0 to measure cold instead.
  *
  * Materialization: a plain count() would let Catalyst prune every
  * projection expression (map-only queries would time a metadata-ish scan),
  * so the measured action is `collect()` of one hash aggregate over EVERY
  * output column of every row (plus the row count) — all computed work is
  * forced, one row crosses to the driver, and the timed `QueryExecution`
  * is the one whose planning phases are recorded. A failed query reports
  * -1 and logs to stderr rather than recording a fast fake timing.
  *
  * Output contract: the FINAL stdout line is the totals JSON
  * (`{"metric":"total","value":<best wall>,"queries":{...},...}`) — nothing
  * follows it, and build.sbt routes forked stdout through unprefixed so the
  * driver can `json.loads` the last line. Round-16 contract gap, closed
  * round 17: the driver's round-over-round comparator reads the per-query
  * seconds map from this line (`PERF_r16.json` came back with
  * `per_query: {}` / `n_common: 0` because the map lived only in
  * BENCH_LOCAL.json), so the final line now carries `"queries"` (seconds,
  * ms-rounded to keep the line compact; full-precision values still ship in
  * BENCH_LOCAL.json together with the per-query shuffle bytes). The suite
  * runs SPARK_GRAFT_BENCH_REPEATS times (default 3 — the committed records are all best-of-3, and repeat 1 pays the per-dir model training); the headline is the
  * best wall, and every repeat's wall + 1-min load average ships in the
  * record (`walls`, `load_avg_1m`, `core_probe_sec` — a fixed
  * single-thread integer loop timed before each repeat, the host-weather
  * signal load/steal can't see (round-13: same-code walls moved 21→33 s
  * at load < 0.5) — plus an explicit `contended` flag when the quiet-wait
  * budget expired with the box still loud) so box contention is
  * self-diagnosing. Per-query shuffle read/write BYTES ship
  * in the full record (`shuffle_read_bytes`/`shuffle_write_bytes`, max
  * across repeats — see [[QueryTrace]]), and so does `trace`: per query,
  * from its fastest repeat, `rows`, `build_ms`, `analysis_ms`,
  * `optimization_ms`, `planning_ms`, `exec_ms` (these sum to the query's
  * seconds) and the [[QueryTrace]] counts of its `build` and `exec`
  * phases. `peak_heap_mb` holds one value per repeat: the sum of the heap
  * pools' peaks (an upper bound of the heap's peak), reset before each
  * repeat.
  * Before anything starts the run gates on a quiet box (load_avg_1m <
  * SPARK_GRAFT_BENCH_MAX_LOAD, default 5, waiting up to
  * SPARK_GRAFT_BENCH_WAIT_SEC, default 300) — see [[awaitQuietBox]].
  *
  * Recipes (all through the variables above; a filtered run writes its
  * record only to SPARK_GRAFT_BENCH_OUT):
  *  - Phase split of one query: `SPARK_GRAFT_BENCH_ONLY=t16_ccnet_buckets
  *    SPARK_GRAFT_BENCH_THREADS=1 SPARK_GRAFT_BENCH_OUT=/tmp/t16.json` —
  *    `trace.t16_ccnet_buckets` splits build, plan and exec time, and
  *    counts the jobs the build phase ran apart from the measured ones.
  *  - Solo timing: the same with `SPARK_GRAFT_BENCH_REPEATS=N`; `walls`
  *    holds every repeat, `trace.<q>.rows` the row count.
  *  - Memory headroom at a scale above the fixtures (spill, peak execution
  *    memory, peak heap): `SPARK_GRAFT_SF_DIR=<e.g. an sf4 dir>
  *    SPARK_GRAFT_BENCH_THREADS=1 SPARK_GRAFT_BENCH_REPEATS=1`, one query
  *    per run so `peak_heap_mb` is that query's. The heavy tail worth
  *    probing: d14_exact_substring_dedup, d15_semdedup_cells,
  *    d16_semdedup_centroid_keep, g1_pagerank, g2_hits,
  *    g4_label_propagation, g6_triangle_count, x10_cluster_shard,
  *    t16_ccnet_buckets, dq3_column_profile, t10_tfidf_keywords,
  *    b1_bloom_decontamination.
  */
object Bench {

  private def loadAvg1m: Double = {
    val l = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    math.round(l * 100) / 100.0
  }

  /** Host-weather probe (round-13 lesson): a FIXED single-thread integer
    * loop timed before each repeat. Same-code bench walls moved 21 → 33 s
    * within one session while 1-min load stayed < 0.5, steal stayed 0 and
    * the nominal CPU frequency never moved — per-core throughput on a
    * shared host varies invisibly to every signal `contended`/`load_avg_1m`
    * can see. The probe's seconds ship per repeat (`core_probe_sec`), so a
    * reader of the record alone can tell "slow box phase" from "slow code":
    * identical plans with probe 0.2 s vs 0.4 s is weather, not regression.
    * JIT is paid by one unrecorded warmup call before the repeats. */
  private def coreProbeSec(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 150000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= (x >>> 33)
      i += 1
    }
    if (x == 42L) System.err.println("") // keep x live against DCE
    math.round((System.nanoTime() - t0) / 1e9 * 1000) / 1000.0
  }

  /** Round-6 verdict #6: a contended box can inflate the recorded wall
    * ~5-8× (112.9 s vs 21.7 s quiet on identical code), and that noise then
    * lives forever in the driver's BENCH_r{N}.json. Gate the measured run
    * on a quiet 1-minute load average: poll until load < maxLoad or the
    * wait budget runs out (never hang the harness — a permanently busy box
    * still produces a record, marked contended via the shipped load
    * samples). Returns seconds waited. Must run BEFORE the SparkSession
    * spins up: our own executor threads would otherwise feed the average
    * we are gating on. */
  private def awaitQuietBox(maxLoad: Double, budgetSec: Int): Double = {
    val t0 = System.nanoTime()
    var load = loadAvg1m
    while (load >= maxLoad && (System.nanoTime() - t0) / 1e9 < budgetSec) {
      System.err.println(f"[bench] load_avg_1m=$load%.2f >= $maxLoad%.1f — waiting for a quiet box")
      Thread.sleep(15000)
      load = loadAvg1m
    }
    val waited = math.round((System.nanoTime() - t0) / 1e9 * 10) / 10.0
    if (load >= maxLoad) System.err.println(
      f"[bench] proceeding CONTENDED after $waited%.0f s (load_avg_1m=$load%.2f)")
    waited
  }

  /** The measured aggregate over `df`: the sum of a hash of every column
    * (double: an ANSI long sum would overflow) and the row count. */
  private[graft] def measured(df: DataFrame): DataFrame =
    df.select(xxhash64(struct(col("*"))).cast("double").as("_h"))
      .agg(sum(col("_h")), count(col("_h")))

  /** Build and run one query on the calling thread, its jobs attributed to
    * `name` and to the `build` or `exec` phase for [[QueryTrace]]. A
    * failure logs to stderr and reports -1 seconds. */
  private[graft] def runQuery(spark: SparkSession, name: String,
      fn: (SparkSession, String) => DataFrame, dir: String): QueryRun = {
    val sc = spark.sparkContext
    sc.setLocalProperty(QueryTrace.QueryProp, name)
    sc.setLocalProperty(QueryTrace.PhaseProp, QueryTrace.Build)
    val t0 = System.nanoTime()
    try {
      val df = fn(spark, dir)
      val buildMs = (System.nanoTime() - t0) / 1000000
      sc.setLocalProperty(QueryTrace.PhaseProp, QueryTrace.Exec)
      val out = measured(df)
      val rows = out.collect().head.getLong(1)
      val sec = (System.nanoTime() - t0) / 1e9
      val phases = out.queryExecution.tracker.phases.map { case (p, s) =>
        p -> (s.endTimeMs - s.startTimeMs)
      }
      QueryRun(sec, rows, buildMs, phases)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
      QueryRun(-1.0, -1L, 0L, Map.empty)
    } finally {
      sc.setLocalProperty(QueryTrace.QueryProp, null)
      sc.setLocalProperty(QueryTrace.PhaseProp, null)
    }
  }

  private def heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)

  private def peakHeapMb: Long =
    heapPools.map(_.getPeakUsage.getUsed).sum / (1024 * 1024)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_SF_DIR", "/root/testdata/sf0.001")
    val warmup = sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0" &&
      new java.io.File(warmDir).isDirectory
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val threads = sys.env.getOrElse("SPARK_GRAFT_BENCH_THREADS", "8").toInt
    val maxLoad = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_LOAD", "5").toDouble
    val waitBudget = sys.env.getOrElse("SPARK_GRAFT_BENCH_WAIT_SEC", "300").toInt
    val waitedSec = awaitQuietBox(maxLoad, waitBudget)
    // Round-11 verdict #2 / round-10 #5: a capture that proceeded with the
    // box still loud must say so IN the record — a reader of BENCH_r{N}
    // .json alone could not tell a 2x regression from neighbor noise. The
    // snapshot protocol treats contended=true as "re-run before committing".
    // contended is a PRE-SESSION verdict by construction: once our own
    // local[32] executor threads spin up, the 1-min load average measures
    // mostly US (round-12 verdict: repeat loads of 8-19 on an otherwise
    // quiet box are self-load), so per-repeat samples cannot distinguish
    // external contention — they ship in `load_avg_1m` for diagnosis, with
    // `load_note` in the record saying exactly that.
    val contended = loadAvg1m >= maxLoad || waitedSec >= waitBudget
    val spark = GraftSession.local("graft-bench", cpus.toInt)
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val trace = new QueryTrace
    spark.sparkContext.addSparkListener(trace)

    /** Run `ordered` across `threads` worker threads (work-stealing via a
      * shared cursor); returns each query's run. */
    def runAll(ordered: Seq[(String, (SparkSession, String) => DataFrame)],
        dir: String): Map[String, QueryRun] = {
      val cursor = new AtomicInteger(0)
      val out = new ConcurrentHashMap[String, QueryRun]()
      val workers = (0 until math.max(1, threads)).map { w =>
        val t = new Thread(() => {
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"bench$w")
          var i = cursor.getAndIncrement()
          while (i < ordered.size) {
            val (name, fn) = ordered(i)
            out.put(name, runQuery(spark, name, fn, dir))
            i = cursor.getAndIncrement()
          }
        }, s"bench-worker-$w")
        t.start(); t
      }
      workers.foreach(_.join())
      out.asScala.toMap
    }

    // Fixed alphabetical base order: per-query numbers stay comparable
    // across rounds (Map iteration order shifts whenever the catalog
    // changes).
    // SPARK_GRAFT_BENCH_ONLY=name1,name2 — targeted local timing runs
    // (never set by the driver; the contract run covers the full catalog).
    val onlyFilter: String => Boolean =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet) match {
        case Some(names) => names.contains(_)
        case None        => _ => true
      }
    val queries = SparkEntry.queries.toSeq.filter(e => onlyFilter(e._1)).sortBy(_._1)
    val warmTimes: Map[String, Double] =
      if (warmup) runAll(queries, warmDir).map { case (n, r) => n -> r.sec } else Map.empty
    val order = queries.sortBy { case (n, _) => (-warmTimes.getOrElse(n, 0.0), n) }

    // Best-of-N (default 3): on a shared box one contended sample can
    // masquerade as a 5× regression (round-5 lesson: 82.6 s at load ~3.3 vs
    // 14.1 s at load 1.5 on identical code). Each repeat records its wall
    // and the 1-min load average at start; the headline is the BEST wall,
    // per-query seconds are the min across repeats, and all samples ship in
    // the record so a contended round is self-diagnosing.
    val repeats = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "3").toInt)
    // quiesce the async listener bus before EVERY snapshot: trailing
    // TaskEnd events from the batch that just returned would otherwise
    // bleed into the next repeat's tallies
    trace.drainListenerBus(spark.sparkContext)
    trace.snapshotAndReset() // discard warmup tallies
    // TWO unrecorded warmup calls: one invocation of the 150M-iteration
    // loop may not reach the top JIT tier, and a repeat-1 probe reading
    // high for residual compilation would masquerade as a slow-box phase —
    // the probe must measure weather, never JIT.
    coreProbeSec(); coreProbeSec()
    final case class Repeat(wall: Double, load: Double, probe: Double, peakHeapMb: Long,
        queries: Map[String, QueryRun], counts: Map[QueryTrace.Key, QueryTrace.Counts])
    val runs = (1 to repeats).map { _ =>
      val load = loadAvg1m
      val probe = coreProbeSec()
      heapPools.foreach(_.resetPeakUsage())
      val t0 = System.nanoTime()
      val res = runAll(order, sfDir)
      val wall = (System.nanoTime() - t0) / 1e9
      trace.drainListenerBus(spark.sparkContext)
      Repeat(wall, load, probe, peakHeapMb, res, trace.snapshotAndReset())
    }
    // Per-query shuffle bytes (both phases): MAX across repeats.
    // Deterministic plans give identical tallies every repeat (max is
    // exact); memoized-model entries (v2/v3/v4 train once per dir) only
    // shuffle on the repeat that trains, so max reports the cold-run bound
    // instead of a misleading zero.
    val shuffles: Map[String, (Long, Long)] = runs.map { r =>
      r.counts.groupBy(_._1.query).map { case (q, cs) =>
        q -> (cs.values.map(_.shuffleRead).sum, cs.values.map(_.shuffleWrite).sum)
      }
    }.reduce { (a, b) =>
      (a.keySet ++ b.keySet).map { k =>
        val (ar, aw) = a.getOrElse(k, (0L, 0L)); val (br, bw) = b.getOrElse(k, (0L, 0L))
        k -> (math.max(ar, br), math.max(aw, bw))
      }.toMap
    }
    val wall = runs.map(_.wall).min
    // per query, its fastest repeat (-1 marks a failure and never wins)
    val best: Map[String, (QueryRun, Repeat)] = order.map { case (name, _) =>
      val tries = runs.map(r => (r.queries(name), r))
      name -> tries.filter(_._1.sec >= 0).sortBy(_._1.sec).headOption.getOrElse(tries.head)
    }.toMap
    val results: Map[String, Double] = best.map { case (k, (q, _)) => k -> q.sec }
    val traceJson = best.toSeq.sortBy(_._1).map { case (name, (q, r)) =>
      def ms(phase: String) = q.phasesMs.getOrElse(phase, 0L)
      def counts(phase: String) =
        r.counts.getOrElse(QueryTrace.Key(name, phase), QueryTrace.NoCounts).json
      s""""$name":{"rows":${q.rows},"build_ms":${q.buildMs},""" +
        s""""analysis_ms":${ms("analysis")},"optimization_ms":${ms("optimization")},""" +
        s""""planning_ms":${ms("planning")},"exec_ms":${q.execMs},""" +
        s""""build":${counts(QueryTrace.Build)},"exec":${counts(QueryTrace.Exec)}}"""
    }.mkString("{", ",", "}")

    val qs = results.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val sumSec = results.valuesIterator.filter(_ >= 0).sum
    val failures = results.valuesIterator.count(_ < 0)
    val walls = runs.map(_.wall).mkString("[", ",", "]")
    val loads = runs.map(_.load).mkString("[", ",", "]")
    val probes = runs.map(_.probe).mkString("[", ",", "]")
    val peakHeaps = runs.map(_.peakHeapMb).mkString("[", ",", "]")
    // Round-14 verdict #1: `contended` is a PRE-SESSION verdict, and a
    // record whose repeats disagree wildly was shipping "contended: false"
    // next to a 63% wall jump — two contradictory stories in one JSON.
    // The in-run verdict uses the evidence the record already carries:
    // repeats run IDENTICAL plans on identical data, so a wall spread or
    // core-probe spread beyond noise (25%) is host weather by
    // construction — nothing code-side differs between repeats. A single
    // repeat can't self-diagnose this way (spread needs >= 2 samples);
    // it reports false and the per-repeat fields remain the evidence.
    def spread(xs: Seq[Double]): Double = {
      val pos = xs.filter(_ > 0)
      if (pos.size < 2) 1.0 else pos.max / pos.min
    }
    // repeat 1 pays the per-dir model training (v2/v3/v4 memoize per
    // directory) — a structural ~2x every round, not contention — so the
    // wall spread reads repeats 2..N when there are at least three
    val steadyWalls = if (runs.size >= 3) runs.tail.map(_.wall) else runs.map(_.wall)
    val wallSpread = math.round(spread(steadyWalls) * 100) / 100.0
    val probeSpread = math.round(spread(runs.map(_.probe)) * 100) / 100.0
    val contendedDuringRun = wallSpread > 1.25 || probeSpread > 1.25
    val contentionJson =
      s""""contended_pre_session":$contended,"contended_during_run":$contendedDuringRun,""" +
        s""""wall_spread":$wallSpread,"core_probe_spread":$probeSpread,""" +
        s""""contention_note":"contended_pre_session gates on 1-min load before our own executors spin up; contended_during_run flags steady-state (repeat>=2) wall or core-probe spread >1.25x on identical plans - the one-loud-repeat class. UNIFORM host-weather inflation is invisible to every intra-run signal (r14: all repeats +34% with flat probes); compare walls cross-round at matching core_probe_sec, and re-capture on a quiet box before committing when either flag is true.""""
    // A run with ANY failed query has no comparable wall: erroring queries
    // cost ~0 s, so the total reads as a phantom speedup (round-7 lesson —
    // 26 failures made a broken round look 1.8× faster). Emit value:null
    // so a consumer reading only metric/value is FORCED to handle the
    // invalid-run case; the failure count and per-query data still ship.
    val headline = if (failures > 0) "null" else wall.toString
    val shufR = shuffles.toSeq.sortBy(_._1)
      .map { case (k, (r, _)) => s"\"" + k + "\":" + r }.mkString("{", ",", "}")
    val shufW = shuffles.toSeq.sortBy(_._1)
      .map { case (k, (_, w)) => s"\"" + k + "\":" + w }.mkString("{", ",", "}")
    val shufRTotal = shuffles.valuesIterator.map(_._1).sum
    val shufWTotal = shuffles.valuesIterator.map(_._2).sum
    // ms-rounded per-query seconds for the stdout totals line: the driver's
    // per-query comparator needs the map in the FINAL line (round-16
    // PERF came back empty reading only totals), and rounding keeps the
    // line ~6 KB instead of ~9 KB; BENCH_LOCAL.json keeps full precision.
    val qsCompact = results.toSeq.sortBy(_._1)
      .map { case (k, v) =>
        val r = if (v < 0) "-1" else (math.round(v * 1000) / 1000.0).toString
        s"\"" + k + "\":" + r
      }.mkString("{", ",", "}")
    val summary =
      s"""{"metric":"total","value":$headline,"unit":"sec","n":${results.size},"failures":$failures,"queries":$qsCompact,"sf":"$sfDir","threads":$threads,"sum_query_sec":$sumSec,"repeats":$repeats,"walls":$walls,"load_avg_1m":$loads,"core_probe_sec":$probes,"load_note":"per-repeat load_avg_1m samples include this bench's own local[$cpus] load",$contentionJson,"waited_for_quiet_sec":$waitedSec,"contended":$contended,"shuffle_read_bytes_total":$shufRTotal,"shuffle_write_bytes_total":$shufWTotal}"""
    val full =
      s"""{"metric":"total","value":$headline,"unit":"sec","queries":$qs,"sf":"$sfDir","threads":$threads,"sum_query_sec":$sumSec,"repeats":$repeats,"walls":$walls,"load_avg_1m":$loads,"core_probe_sec":$probes,"load_note":"per-repeat load_avg_1m samples include this bench's own local[$cpus] load",$contentionJson,"waited_for_quiet_sec":$waitedSec,"contended":$contended,"shuffle_read_bytes":$shufR,"shuffle_write_bytes":$shufW,"peak_heap_mb":$peakHeaps,"trace":$traceJson}"""
    // A SPARK_GRAFT_BENCH_ONLY-filtered run must not clobber the committed
    // full-suite record with an n=1 artifact (and a typo'd filter would
    // silently persist n=0): targeted runs only write when the caller
    // explicitly names an output file.
    val explicitOut = sys.env.get("SPARK_GRAFT_BENCH_OUT")
    if (sys.env.contains("SPARK_GRAFT_BENCH_ONLY") && explicitOut.isEmpty)
      System.err.println("[bench] filtered run: skipping BENCH_LOCAL.json (set SPARK_GRAFT_BENCH_OUT to persist)")
    else try {
      val out = java.nio.file.Paths.get(explicitOut.getOrElse("BENCH_LOCAL.json"))
      java.nio.file.Files.write(out, (summary + "\n" + full + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"[bench] could not persist BENCH_LOCAL.json: ${e.getMessage}") }
    spark.stop()
    // Self-evidencing headline, LAST (round-5 lesson: the driver parses the
    // final stdout line as JSON; printed earlier it scrolls out of the tail
    // window, printed under sbt's logger it gains an "[info] " prefix —
    // build.sbt sets run/outputStrategy := StdoutOutput so this passes
    // through unprefixed). Since round 17 the line carries the ms-rounded
    // per-query map — the driver's comparator contract — full precision and
    // per-query shuffle bytes stay in BENCH_LOCAL.json.
    println(summary)
  }
}
