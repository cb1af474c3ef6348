package perfbench

import org.json4s._

/** Per-layer metrics of one traced run, from the listener's records and the
  * harness spans. Counts and times are per op of the measured phase (a
  * cycle on `finance_jobs`, a request on `api_mix`) so runs of different
  * lengths compare. `jobs.*`, `ml.predict_ms` and `ingest.*` are per cycle
  * and read 0 on `api_mix`; `ml.train_ms` is set-up's one training;
  * `api.*` are per request and read 0 on `finance_jobs`. */
object Layers {

  /** Converts `System.nanoTime` readings to the epoch milliseconds Spark
    * stamps its events with. */
  final case class Clock(baseMs: Long, baseNs: Long) {
    def ms(ns: Long): Long = baseMs + (ns - baseNs) / 1000000L
  }

  def apply(l: LayerListener, clock: Clock, spans: Seq[Span], apiOps: Seq[Op], cycles: Int,
      measuredNs: (Long, Long)): JObject = {
    val jobs = l.jobsSeen
    val execs = l.execsSeen
    def inWindow(t: Long, w: (Long, Long)) = t >= clock.ms(w._1) && t <= clock.ms(w._2)
    def sum(js: Seq[l.Job], k: String) = js.map(_.sums(k)).sum
    def per(x: Double, n: Int) = if (n > 0) x / n else 0.0
    def coveredMs(ivs: Seq[(Long, Long)]) = LayerListener.covered(ivs).toDouble

    // the measured days only: the unmeasured first day is in the spans too
    val cycleSpans = spans.filter(s => s.name.startsWith("jobs.") && s.startNs >= measuredNs._1)
    val cycleJobs = jobs.filter(j => j.span.startsWith("jobs.") && inWindow(j.startMs, measuredNs))
    val cycleWindows = cycleSpans.map(s => (clock.ms(s.startNs), clock.ms(s.endNs)))
    def inCycles(t: Long) = cycleWindows.exists { case (a, b) => t >= a && t <= b }
    // on api_mix the measured window holds nothing but request handling
    val apiJobs = if (apiOps.isEmpty) Nil else jobs.filter(j => inWindow(j.startMs, measuredNs))
    val apiExecs = if (apiOps.isEmpty) Nil else execs.filter(e => inWindow(e.startMs, measuredNs))
    val requests = apiOps.size
    val edits = apiOps.count(_.kind == "write")

    // the checks between days run inside the measured window; leave them out
    def measured(t: Long) = if (cycles > 0) inCycles(t) else inWindow(t, measuredNs)
    val (primaryJobs, primaryOps) =
      if (cycles > 0) (cycleJobs, cycles) else (apiJobs, requests)
    val primaryActions = l.actionsSeen.filter(a => measured(a.atMs))
    def planMean(phase: String) =
      per(primaryActions.map(_.phasesMs.getOrElse(phase, 0L).toDouble).sum, primaryActions.size)

    def spanMs(name: String) = cycleSpans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6).sum
    def moduleMs(module: String, in: Long => Boolean) = coveredMs(
      jobs.filter(j => j.module == module && j.endMs >= 0 && in(j.startMs)).map(j => (j.startMs, j.endMs)) ++
        execs.filter(e => e.module == module && in(e.startMs)).map(e => (e.startMs, e.endMs)))
    // training runs once, in set-up's 1_dagster_init
    val initWindows = spans.filter(_.name == "setup.init").map(s => (clock.ms(s.startNs), clock.ms(s.endNs)))
    def inInit(t: Long) = initWindows.exists { case (a, b) => t >= a && t <= b }
    // time inside the job runs that no Spark action or job covers
    val jobRunSpans = cycleSpans.filter(_.name == "jobs.ingest_and_predict")
    val driverGapMs = jobRunSpans.map { s =>
      val (a, b) = (clock.ms(s.startNs), clock.ms(s.endNs))
      val inside = (jobs.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)) ++ execs.map(e => (e.startMs, e.endMs)))
        .filter { case (x, y) => y > a && x < b }.map { case (x, y) => (math.max(x, a), math.min(y, b)) }
      (b - a) - coveredMs(inside)
    }.sum
    val apiSparkMs = coveredMs(apiJobs.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)) ++
      apiExecs.map(e => (e.startMs, e.endMs)))
    val meanLatencyMs = per(apiOps.map(o => (o.endNs - o.startNs) / 1e6).sum, requests)

    def d(v: Double): JValue = JDouble(v)
    JObject(
      "exec.jobs" -> d(per(primaryJobs.size, primaryOps)),
      "exec.stages" -> d(per(sum(primaryJobs, "stages"), primaryOps)),
      "exec.tasks" -> d(per(sum(primaryJobs, "tasks"), primaryOps)),
      "exec.task_run_ms" -> d(per(sum(primaryJobs, "task_run_ms"), primaryOps)),
      "exec.task_cpu_ms" -> d(per(sum(primaryJobs, "task_cpu_ms"), primaryOps)),
      "exec.task_wait_ms" -> d(per(sum(primaryJobs, "task_wait_ms"), primaryOps)),
      "exec.gc_ms" -> d(per(sum(primaryJobs, "gc_ms"), primaryOps)),
      "exec.aqe_replans" -> d(per(l.aqeUpdatesSeen.count(measured), primaryOps)),
      "exec.shuffle_read_bytes" -> d(per(sum(primaryJobs, "shuffle_read_bytes"), primaryOps)),
      "exec.shuffle_write_bytes" -> d(per(sum(primaryJobs, "shuffle_write_bytes"), primaryOps)),
      "exec.spill_bytes" -> d(per(sum(primaryJobs, "spill_bytes"), primaryOps)),
      "exec.peak_exec_memory_mb" -> d(l.peakTaskMemoryBytes / 1048576.0),
      "io.input_bytes" -> d(per(sum(primaryJobs, "input_bytes"), primaryOps)),
      "io.input_records" -> d(per(sum(primaryJobs, "input_records"), primaryOps)),
      "io.input_bytes_per_request" -> d(per(sum(apiJobs, "input_bytes"), requests)),
      "plan.analysis_ms" -> d(planMean("analysis")),
      "plan.optimization_ms" -> d(planMean("optimization")),
      "plan.planning_ms" -> d(planMean("planning")),
      "ingest.ms" -> d(per(spanMs("jobs.ingest"), cycles)),
      "ingest.tasks" -> d(per(sum(cycleJobs.filter(_.span == "jobs.ingest"), "tasks"), cycles)),
      "jobs.write_actions_ms" -> d(per(moduleMs("store", inCycles), cycles)),
      "jobs.spark_jobs_per_cycle" -> d(per(cycleJobs.size, cycles)),
      "jobs.bytes_written_per_cycle" -> d(per(sum(cycleJobs, "output_bytes"), cycles)),
      "jobs.files_written_per_cycle" -> d(per(l.actionsSeen.filter(a => inCycles(a.atMs)).map(_.files).sum, cycles)),
      "jobs.driver_gap_ms" -> d(per(driverGapMs, cycles)),
      "ml.train_ms" -> d(moduleMs("ml.train", inInit)),
      "ml.predict_ms" -> d(per(moduleMs("ml.predict", inCycles), cycles)),
      "api.actions_per_request" -> d(per(apiExecs.size, requests)),
      "api.jobs_per_request" -> d(per(apiJobs.size, requests)),
      "api.spark_ms_per_request" -> d(per(apiSparkMs, requests)),
      "api.outside_spark_ms_per_request" -> d(meanLatencyMs - per(apiSparkMs, requests)),
      // reads write nothing, so every byte written while serving is an edit's
      "api.write_bytes_per_edit" -> d(per(sum(apiJobs, "output_bytes"), edits)))
  }
}
