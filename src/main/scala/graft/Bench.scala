package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, struct, sum, xxhash64}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._

/** The bench's one listener. Jobs are attributed through two thread-local
  * properties: `graft.bench.query` (a catalog query's name, or a leg's) and
  * `graft.bench.phase` — for a query `build` while its DataFrame is
  * constructed (eager work such as `Reuse.materialize` writes runs
  * here) and `exec` for the measured action, for a leg the running
  * section ([[Bench.Leg]]). Spark captures local
  * properties into every job the thread submits, and through
  * SQLExecution's capture into its broadcast side jobs too. Stages map to
  * the (query, phase) of the job that submits them; stage completions and
  * task-end metrics accumulate under it. Tasks of jobs carrying no
  * property land in `_unattributed`, so totals never silently undercount.
  * Shuffle bytes are deterministic per plan and data where wall time is
  * noisy, so a plan regression that adds an exchange diffs cleanly from
  * run to run; the exception is work a per-directory memo shares between
  * queries (the g1/g2/g4/g7 trade graph, the v2-v5 tokenizer models),
  * built once and charged to the query that asks for it first.
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

  /** Remove and return one (query, phase)'s counts ([[QueryTrace.NoCounts]]
    * if it ran no job). Drain the bus first, as for [[snapshotAndReset]]. */
  def take(k: Key): Counts = Option(tallies.remove(k)).map(_.counts).getOrElse(NoCounts)

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
  * the rest: `sec` minus build and the phases. `codegen` is the JVM's
  * Janino compiles over the run ([[Codegen]]): the query's own only when
  * nothing else ran beside it. */
private[graft] final case class QueryRun(
    sec: Double, rows: Long, buildMs: Long, phasesMs: Map[String, Long],
    codegen: Codegen = Codegen(0, 0)) {
  def execMs: Long = math.max(0L, math.round(sec * 1000) - buildMs - phasesMs.values.sum)
}

/** Janino compiles (misses of Spark's compiled-class cache) and their
  * nanoseconds. Spark counts both JVM-wide (`CodegenMetrics`,
  * `CodeGenerator.compileTime`), so the difference of two [[Codegen.now]]
  * readings holds everything compiled between them, on any thread. */
private[graft] final case class Codegen(compiles: Long, nanos: Long) {
  def -(o: Codegen): Codegen = Codegen(compiles - o.compiles, nanos - o.nanos)
  def json: String = s""""codegen_compiles":$compiles,"codegen_ms":${nanos / 1000000}"""
}

private[graft] object Codegen {
  def now(): Codegen = Codegen(
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
}

/** The benchmark main, one harness with modes:
  *
  *  - `runMain graft.Bench` — the catalog suite: one JSON line with
  *    per-query seconds at the target SF (described below).
  *  - `runMain graft.Bench corpus full|incremental|chain|divergence ...` —
  *    the corpus pipeline legs ([[CorpusLegs]]).
  *  - `runMain graft.Bench stream events|corpus ...` — the streaming legs
  *    ([[StreamLegs]]).
  *
  * Every mode opens its session through [[session]] and measures through
  * [[QueryTrace]]: a leg's timed sections run through [[Leg.section]], and
  * each record it prints carries a `trace` field with the job, stage, task,
  * shuffle, spill and peak-memory counts of its sections. A leg whose gate
  * fails exits 1.
  *
  * The catalog suite is a throughput harness, not a latency harness: most
  * queries leave the cores idle (a single-row-group fixture scan is one
  * task), so run one after another they would measure mostly Spark's
  * per-query scheduling floor. The suite runs on SPARK_GRAFT_BENCH_THREADS
  * (default 8) driver threads submitting concurrent jobs into one session
  * (FAIR scheduling, one pool per worker thread). `value` is the wall of
  * the whole measured batch; per-query seconds include scheduler wait, so
  * they locate hotspots and their sum (`sum_query_sec`) exceeds the wall.
  * SPARK_GRAFT_BENCH_THREADS=1 runs the queries one at a time.
  *
  * Each query first runs once on the sf0.001 fixture
  * (SPARK_GRAFT_WARMUP_SF_DIR) to pay analysis, codegen and JIT outside the
  * measured run; the warmup timings order the measured run longest-first,
  * so the batch does not end on one heavy straggler. SPARK_GRAFT_WARMUP=0
  * measures cold. The compiled classes outlive the warmup because the
  * session contract sizes Spark's codegen cache to the catalog's working
  * set ([[GraftSession]]). At sf0.1 on 4 cores one cold pass compiles
  * about 2,400 classes; after the warmup the first measured repeat
  * compiles 160-172 and later ones 10-34. Before the measured repeats,
  * every table of the measured directory is read once through
  * [[graft.io.SchemaMemo]], unmeasured, so no measured query's build
  * carries a first-read schema-inference job and per-query job counts do
  * not depend on the run order.
  *
  * The measured action is `collect()` of one hash aggregate over every
  * output column of every row plus the row count ([[measured]]): a plain
  * count() would let Catalyst prune the projections, and the timed
  * `QueryExecution` is the one whose planning phases are recorded. A
  * failed query reports -1 seconds, and a run with any failure reports
  * `value: null`.
  *
  * The suite runs SPARK_GRAFT_BENCH_REPEATS times (default 3; repeat 1
  * pays the per-directory model training); the headline is the best wall.
  * The FINAL stdout line is the totals JSON (`{"metric":"total","value":
  * <best wall>,"queries":{...},...}`, per-query seconds ms-rounded);
  * build.sbt passes forked stdout through unprefixed so a reader can parse
  * the last line. Host weather ships with it: per repeat the wall, the
  * 1-min load average and `core_probe_sec` ([[coreProbeSec]]), the
  * pre-session `contended` verdict ([[awaitQuietBox]]: load_avg_1m below
  * 5, waiting up to 300 s) and the in-run spread flags.
  * The full record (`BENCH_LOCAL.json`, or SPARK_GRAFT_BENCH_OUT) adds
  * full-precision seconds, per-query shuffle read/write bytes (max across
  * repeats), per repeat `peak_heap_mb` (the sum of the heap pools' peaks,
  * reset before each repeat), `codegen_compiles` and `codegen_ms` (the
  * repeat's Janino compiles and their time, [[Codegen]]), and `trace`: per
  * query, from its fastest repeat, `rows`, `build_ms`, `analysis_ms`,
  * `optimization_ms`, `planning_ms`, `exec_ms` (summing to its seconds),
  * the [[QueryTrace]] counts of its `build` and `exec` phases and, when
  * SPARK_GRAFT_BENCH_THREADS=1, its own `codegen_compiles` and
  * `codegen_ms`.
  *
  * Recipes (a SPARK_GRAFT_BENCH_ONLY-filtered run writes its record only
  * to SPARK_GRAFT_BENCH_OUT):
  *  - Phase split of one query: `SPARK_GRAFT_BENCH_ONLY=t16_ccnet_buckets
  *    SPARK_GRAFT_BENCH_THREADS=1 SPARK_GRAFT_BENCH_OUT=/tmp/t16.json`.
  *  - Solo timing: the same with `SPARK_GRAFT_BENCH_REPEATS=N`.
  *  - Memory headroom above the fixtures (spill, peak execution memory,
  *    peak heap): `SPARK_GRAFT_SF_DIR=<e.g. an sf4 dir>
  *    SPARK_GRAFT_BENCH_THREADS=1 SPARK_GRAFT_BENCH_REPEATS=1`, one query
  *    per run. The heavy tail worth probing: d14_exact_substring_dedup,
  *    d15_semdedup_cells, d16_semdedup_centroid_keep, g1_pagerank,
  *    g2_hits, g4_label_propagation, g6_triangle_count, x10_cluster_shard,
  *    t16_ccnet_buckets, dq3_column_profile, t10_tfidf_keywords,
  *    b1_bloom_decontamination.
  */
object Bench {

  private def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** The one session setup of every mode: [[GraftSession.local]] on
    * SPARK_GRAFT_CPUS cores plus the mode's own confs. */
  private def session(app: String, confs: Map[String, String]): SparkSession = {
    val spark = confs.foldLeft(GraftSession.local(app, cpus)) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit =
    if (args.isEmpty) suite()
    else {
      val confs =
        if (args.take(2).sameElements(Seq("stream", "events")))
          graft.streaming.EventStreams.rocksDbStateStoreConfigs
        else Map.empty[String, String]
      val spark = session(s"graft-bench-${args.take(2).mkString("-")}", confs)
      val ok = try { leg(spark, args.toList); true } catch { case e: Throwable =>
        System.err.println(s"[bench] ${args.mkString(" ")} FAILED: $e"); false
      } finally spark.stop()
      if (!ok) sys.exit(1)
    }

  /** Run one leg on `spark`; returns the records it printed. A failed gate
    * throws. */
  private[graft] def leg(spark: SparkSession, args: List[String]): Seq[String] = {
    val l = new Leg(spark, args.take(2).mkString("_"))
    try {
      args match {
        case "corpus" :: "full" :: rest => CorpusLegs.full(l, rest)
        case "corpus" :: "incremental" :: rest => CorpusLegs.incremental(l, rest)
        case "corpus" :: "chain" :: rest => CorpusLegs.chain(l, rest)
        case "corpus" :: "divergence" :: rest => CorpusLegs.divergence(l, rest)
        case "stream" :: "events" :: rest => StreamLegs.events(l, rest)
        case "stream" :: "corpus" :: rest => StreamLegs.corpus(l, rest)
        case _ => throw new IllegalArgumentException(
          "usage: graft.Bench [corpus full|incremental|chain|divergence ... | stream events|corpus ...]")
      }
      l.records
    } finally l.close()
  }

  private val OtherPhase = "other"

  /** One leg's measuring. Every job its thread runs — and the threads that
    * thread starts, such as a streaming query's, which inherit Spark's
    * local properties — carries `graft.bench.query` = the leg's name and
    * `graft.bench.phase` = the running [[section]], or `other` between
    * sections. */
  private[graft] final class Leg(val spark: SparkSession, name: String) extends AutoCloseable {
    private val sc = spark.sparkContext
    private val trace = new QueryTrace
    private val pending = scala.collection.mutable.LinkedHashMap.empty[String, QueryTrace.Counts]
    private val printed = Seq.newBuilder[String]
    sc.addSparkListener(trace)
    sc.setLocalProperty(QueryTrace.QueryProp, name)
    sc.setLocalProperty(QueryTrace.PhaseProp, OtherPhase)

    private def take(phase: String): QueryTrace.Counts = {
      trace.drainListenerBus(sc)
      trace.take(QueryTrace.Key(name, phase))
    }

    /** Run `body` as the timed section `phase`; returns its result and
      * seconds. Its counts join the next [[emit]]ted record. */
    def section[T](phase: String)(body: => T): (T, Double) = {
      sc.setLocalProperty(QueryTrace.PhaseProp, phase)
      val t0 = System.nanoTime()
      try (body, (System.nanoTime() - t0) / 1e9)
      finally {
        sc.setLocalProperty(QueryTrace.PhaseProp, OtherPhase)
        pending(phase) = take(phase)
      }
    }

    /** Print one JSON record: `fields` plus `trace`, the counts of every
      * section since the previous record and of the work between them. */
    def emit(fields: String): Unit = {
      pending(OtherPhase) = take(OtherPhase)
      val record = pending.map { case (p, c) => s""""$p":${c.json}""" }
        .mkString(s"""{$fields,"trace":{""", ",", "}}")
      pending.clear()
      printed += record
      println(record)
    }

    def records: Seq[String] = printed.result()

    def close(): Unit = {
      sc.removeSparkListener(trace)
      sc.setLocalProperty(QueryTrace.QueryProp, null)
      sc.setLocalProperty(QueryTrace.PhaseProp, null)
    }
  }

  private def loadAvg1m: Double = {
    val l = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    math.round(l * 100) / 100.0
  }

  /** Host-weather probe: a fixed single-thread integer loop timed before
    * each repeat. Per-core throughput on a shared host varies where the
    * load average cannot see it; identical plans with a probe of 0.2 s vs
    * 0.4 s is weather, not a regression. */
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

  /** The 1-min load average below which the box counts as quiet, and the
    * seconds [[awaitQuietBox]] waits for it. */
  private val MaxLoad = 5.0
  private val WaitBudgetSec = 300

  /** Gate the measured run on a quiet box: poll until the 1-min load
    * average is below [[MaxLoad]] or [[WaitBudgetSec]] runs out (a busy box
    * still produces a record, marked contended). Returns seconds waited.
    * Runs before the session starts, whose executor threads would feed the
    * average it gates on. */
  private def awaitQuietBox(): Double = {
    val t0 = System.nanoTime()
    var load = loadAvg1m
    while (load >= MaxLoad && (System.nanoTime() - t0) / 1e9 < WaitBudgetSec) {
      System.err.println(f"[bench] load_avg_1m=$load%.2f >= $MaxLoad%.1f — waiting for a quiet box")
      Thread.sleep(15000)
      load = loadAvg1m
    }
    val waited = math.round((System.nanoTime() - t0) / 1e9 * 10) / 10.0
    if (load >= MaxLoad) System.err.println(
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
    val cg0 = Codegen.now()
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
      QueryRun(sec, rows, buildMs, phases, Codegen.now() - cg0)
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

  private def suite(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_SF_DIR", "/root/testdata/sf0.001")
    val warmup = sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0" &&
      new java.io.File(warmDir).isDirectory
    val threads = sys.env.getOrElse("SPARK_GRAFT_BENCH_THREADS", "8").toInt
    val waitedSec = awaitQuietBox()
    // `contended` is a pre-session verdict: once the executors run, the
    // load average measures mostly this bench, so the per-repeat samples
    // ship for diagnosis only (`load_note`).
    val contended = loadAvg1m >= MaxLoad || waitedSec >= WaitBudgetSec
    val spark = session("graft-bench", Map("spark.scheduler.mode" -> "FAIR"))
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

    // Alphabetical base order keeps per-query numbers comparable as the
    // catalog changes; SPARK_GRAFT_BENCH_ONLY=name1,name2 filters it.
    val onlyFilter: String => Boolean =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet) match {
        case Some(names) => names.contains(_)
        case None        => _ => true
      }
    val queries = SparkEntry.queries.toSeq.filter(e => onlyFilter(e._1)).sortBy(_._1)
    val warmTimes: Map[String, Double] =
      if (warmup) runAll(queries, warmDir).map { case (n, r) => n -> r.sec } else Map.empty
    val order = queries.sortBy { case (n, _) => (-warmTimes.getOrElse(n, 0.0), n) }
    // infer every measured table's schema now, so the inference job lands
    // on no measured query (class scaladoc)
    graft.io.Tables.names.filter(n => new java.io.File(s"$sfDir/$n.parquet").exists)
      .foreach(n => graft.io.Tables(spark, sfDir, n))

    val repeats = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "3").toInt)
    // drain the listener bus before every snapshot, so trailing task ends
    // never bleed into the next repeat's tallies
    trace.drainListenerBus(spark.sparkContext)
    trace.snapshotAndReset() // discard warmup tallies
    // two unrecorded probe calls, so the first recorded one is past JIT
    coreProbeSec(); coreProbeSec()
    final case class Repeat(wall: Double, load: Double, probe: Double, peakHeapMb: Long,
        codegen: Codegen, queries: Map[String, QueryRun],
        counts: Map[QueryTrace.Key, QueryTrace.Counts])
    val runs = (1 to repeats).map { _ =>
      val load = loadAvg1m
      val probe = coreProbeSec()
      heapPools.foreach(_.resetPeakUsage())
      val cg0 = Codegen.now()
      val t0 = System.nanoTime()
      val res = runAll(order, sfDir)
      val wall = (System.nanoTime() - t0) / 1e9
      val codegen = Codegen.now() - cg0
      trace.drainListenerBus(spark.sparkContext)
      Repeat(wall, load, probe, peakHeapMb, codegen, res, trace.snapshotAndReset())
    }
    // Per-query shuffle bytes (both phases): max across repeats, so a
    // memo-fed query reports the repeat that trained, not a zero.
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
        (if (threads == 1) q.codegen.json + "," else "") +
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
    val compiles = runs.map(_.codegen.compiles).mkString("[", ",", "]")
    val compileMs = runs.map(_.codegen.nanos / 1000000).mkString("[", ",", "]")
    // The in-run verdict: repeats run identical plans on identical data, so
    // a wall or core-probe spread beyond 25% is host weather. One repeat
    // has no spread and reports false.
    def spread(xs: Seq[Double]): Double = {
      val pos = xs.filter(_ > 0)
      if (pos.size < 2) 1.0 else pos.max / pos.min
    }
    // repeat 1 pays the per-directory model training, so the wall spread
    // reads repeats 2..N when there are at least three
    val steadyWalls = if (runs.size >= 3) runs.tail.map(_.wall) else runs.map(_.wall)
    val wallSpread = math.round(spread(steadyWalls) * 100) / 100.0
    val probeSpread = math.round(spread(runs.map(_.probe)) * 100) / 100.0
    val contendedDuringRun = wallSpread > 1.25 || probeSpread > 1.25
    val contentionJson =
      s""""contended_pre_session":$contended,"contended_during_run":$contendedDuringRun,""" +
        s""""wall_spread":$wallSpread,"core_probe_spread":$probeSpread,""" +
        s""""contention_note":"contended_pre_session gates on 1-min load before our own executors spin up; contended_during_run flags steady-state (repeat>=2) wall or core-probe spread >1.25x on identical plans - the one-loud-repeat class. UNIFORM host-weather inflation is invisible to every intra-run signal (r14: all repeats +34% with flat probes); compare walls cross-round at matching core_probe_sec, and re-capture on a quiet box before committing when either flag is true.""""
    // a failed query costs ~0 s, so a run with one has no comparable wall
    val headline = if (failures > 0) "null" else wall.toString
    val shufR = shuffles.toSeq.sortBy(_._1)
      .map { case (k, (r, _)) => s"\"" + k + "\":" + r }.mkString("{", ",", "}")
    val shufW = shuffles.toSeq.sortBy(_._1)
      .map { case (k, (_, w)) => s"\"" + k + "\":" + w }.mkString("{", ",", "}")
    val shufRTotal = shuffles.valuesIterator.map(_._1).sum
    val shufWTotal = shuffles.valuesIterator.map(_._2).sum
    // ms-rounded per-query seconds keep the stdout totals line compact
    val qsCompact = results.toSeq.sortBy(_._1)
      .map { case (k, v) =>
        val r = if (v < 0) "-1" else (math.round(v * 1000) / 1000.0).toString
        s"\"" + k + "\":" + r
      }.mkString("{", ",", "}")
    val summary =
      s"""{"metric":"total","value":$headline,"unit":"sec","n":${results.size},"failures":$failures,"queries":$qsCompact,"sf":"$sfDir","threads":$threads,"sum_query_sec":$sumSec,"repeats":$repeats,"walls":$walls,"load_avg_1m":$loads,"core_probe_sec":$probes,"load_note":"per-repeat load_avg_1m samples include this bench's own local[$cpus] load",$contentionJson,"waited_for_quiet_sec":$waitedSec,"contended":$contended,"shuffle_read_bytes_total":$shufRTotal,"shuffle_write_bytes_total":$shufWTotal}"""
    val full =
      s"""{"metric":"total","value":$headline,"unit":"sec","queries":$qs,"sf":"$sfDir","threads":$threads,"sum_query_sec":$sumSec,"repeats":$repeats,"walls":$walls,"load_avg_1m":$loads,"core_probe_sec":$probes,"load_note":"per-repeat load_avg_1m samples include this bench's own local[$cpus] load",$contentionJson,"waited_for_quiet_sec":$waitedSec,"contended":$contended,"shuffle_read_bytes":$shufR,"shuffle_write_bytes":$shufW,"peak_heap_mb":$peakHeaps,"codegen_compiles":$compiles,"codegen_ms":$compileMs,"trace":$traceJson}"""
    // a filtered run writes only to a file the caller names, never over
    // the full-suite record
    val explicitOut = sys.env.get("SPARK_GRAFT_BENCH_OUT")
    if (sys.env.contains("SPARK_GRAFT_BENCH_ONLY") && explicitOut.isEmpty)
      System.err.println("[bench] filtered run: skipping BENCH_LOCAL.json (set SPARK_GRAFT_BENCH_OUT to persist)")
    else try {
      val out = java.nio.file.Paths.get(explicitOut.getOrElse("BENCH_LOCAL.json"))
      java.nio.file.Files.write(out, (summary + "\n" + full + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"[bench] could not persist BENCH_LOCAL.json: ${e.getMessage}") }
    spark.stop()
    // the totals line is the LAST stdout line
    println(summary)
  }
}
