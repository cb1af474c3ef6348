package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The bench's records — a catalog query's through [[Bench.runQuery]]
  * under a [[QueryTrace]], and a leg's through [[Bench.leg]] — checked
  * against an independent job counter and a plain `count()`. */
class BenchSpec extends SparkSpec {
  import BenchSpec.Traced

  private val sfDir = "/root/testdata/sf0.001"

  /** Run one catalog query as the bench does, with a control listener
    * counting every job started meanwhile (the suite runs one query at a
    * time, so every such job is the query's). The query is built once
    * beforehand, as in the bench's repeats after its first: the fixture
    * schemas are then memoized, and a build-phase job is the query's own
    * eager work, not a first read's schema inference. */
  private def traced(name: String): Traced = {
    val sc = spark.sparkContext
    SparkEntry.queries(name)(spark, sfDir)
    val trace = new QueryTrace
    val controlJobs = new AtomicInteger
    val control = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { controlJobs.incrementAndGet(); () }
    }
    trace.drainListenerBus(sc)
    sc.addSparkListener(trace)
    sc.addSparkListener(control)
    try {
      val run = Bench.runQuery(spark, name, SparkEntry.queries(name), sfDir)
      trace.drainListenerBus(sc)
      val counts = trace.snapshotAndReset()
      def of(phase: String) = counts.getOrElse(QueryTrace.Key(name, phase), QueryTrace.NoCounts)
      assert(counts.keySet.forall(_.query == name), s"jobs outside the query: ${counts.keySet}")
      Traced(run, of(QueryTrace.Build), of(QueryTrace.Exec), controlJobs.get)
    } finally {
      sc.removeSparkListener(trace)
      sc.removeSparkListener(control)
    }
  }

  private def checkRecord(name: String, t: Traced): Unit = {
    assert(t.run.sec > 0, s"$name failed")
    assert(t.exec.jobs >= 1, s"$name ran no measured job")
    assert(t.exec.tasks >= 1 && t.exec.stages >= 1)
    assert(t.build.jobs + t.exec.jobs == t.controlJobs,
      s"$name: traced ${t.build.jobs}+${t.exec.jobs} jobs, control saw ${t.controlJobs}")
    assert(t.run.rows == SparkEntry.queries(name)(spark, sfDir).count())
    assert(Set("analysis", "optimization", "planning").subsetOf(t.run.phasesMs.keySet),
      s"$name phases: ${t.run.phasesMs}")
  }

  test("q1_pricing_summary: every job is a measured one") {
    val t = traced("q1_pricing_summary")
    checkRecord("q1_pricing_summary", t)
    assert(t.build.jobs == 0, s"q1 build ran ${t.build.jobs} jobs")
  }

  test("t16_ccnet_buckets: eager build-time writes are counted apart from the measured jobs") {
    val t = traced("t16_ccnet_buckets")
    checkRecord("t16_ccnet_buckets", t)
    assert(t.build.jobs > 0, "t16's materializeFiles writes run while the frame is built")
  }

  test("corpus chain, 1 slice: the record's trace counts every job the leg ran") {
    import org.json4s._
    val sc = spark.sparkContext
    val controlJobs = new AtomicInteger
    val control = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { controlJobs.incrementAndGet(); () }
    }
    val bus = new QueryTrace
    bus.drainListenerBus(sc)
    sc.addSparkListener(control)
    val records =
      try Bench.leg(spark, List("corpus", "chain", sfDir, sfDir, "1"))
      finally {
        bus.drainListenerBus(sc)
        sc.removeSparkListener(control)
      }
    assert(records.size == 1)
    val record = org.json4s.jackson.JsonMethods.parse(records.head)
    assert(record \ "final_equals_rebuild" == JBool(true))
    val phases = (record \ "trace").asInstanceOf[JObject].obj.map { case (phase, counts) =>
      phase -> (counts \ "jobs").asInstanceOf[JInt].num.toLong
    }.toMap
    assert(Set("base", "slice_1", "rebuild", "other").subsetOf(phases.keySet), s"phases: $phases")
    assert(phases("base") > 0 && phases("slice_1") > 0 && phases("rebuild") > 0, s"phases: $phases")
    assert(phases.values.sum == controlJobs.get,
      s"trace counted ${phases.values.sum} jobs ($phases), control saw ${controlJobs.get}")
    assert(sc.getLocalProperty(QueryTrace.QueryProp) == null)
  }

  test("a failing query reports -1 seconds and no rows") {
    val run = Bench.runQuery(spark, "broken",
      (s, _) => s.read.parquet("/nonexistent/graft-bench-spec"), sfDir)
    assert(run.sec == -1.0 && run.rows == -1L)
    assert(spark.sparkContext.getLocalProperty(QueryTrace.QueryProp) == null)
  }
}

object BenchSpec {
  private final case class Traced(
      run: QueryRun, build: QueryTrace.Counts, exec: QueryTrace.Counts, controlJobs: Int)
}
