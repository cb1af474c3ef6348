package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.GraftSession
import graft.finance.{Jobs, JobsMain, Schemas, Serving, TableStore, UserCategoryService}
import graft.finance.serving.ApiMain

/** Drives one workload against the program's public entry points and writes
  * what it saw to `<runDir>/result.json`; `run.py` turns that into metrics
  * and checks it against the generator's bookkeeping.
  *
  * Both workloads set up the same way (on the warehouse `gen.py` seeded:
  * first SimpleFIN pull, `1_dagster_init`, whose wall is reported as the
  * retrain time) and
  * then measure one of the two ways the system is used:
  *  - `finance_jobs`: the orchestrator's days, whole days until the run's
  *    seconds are used (at least one), after one unmeasured day;
  *  - `api_mix`: closed-loop API clients for the run's seconds, in whole
  *    blocks of the request mix, after one unmeasured block.
  *
  * Usage: Main <workload> <runDir> <seconds> <trace 0|1> <nproc> <seed>
  */
object Main {
  private implicit val formats: Formats = DefaultFormats

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val Array(workload, runDirS, secondsS, traceS, nprocS, seedS) = args
    val runDir = Paths.get(runDirS)
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val nproc = nprocS.toInt
    val seed = seedS.toLong
    val plan = JsonMethods.parse(new String(Files.readAllBytes(runDir.resolve("input/plan.json")), "UTF-8"))

    val spark = GraftSession.builder("perfbench", nproc)
      .master(s"local[$nproc]")
      // concurrent submitters share the cores fairly: one pool per thread
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val out = new Run(spark, workload, runDir, plan, seconds, trace, nproc, seed, t0).execute()
      Files.write(runDir.resolve("result.json"), JsonMethods.compact(JsonMethods.render(out)).getBytes("UTF-8"))
    } finally spark.stop()
  }
}

final class Run(spark: SparkSession, workload: String, runDir: Path, plan: JValue,
    seconds: Double, trace: Boolean, nproc: Int, seed: Long, startNs: Long) {
  private implicit val formats: Formats = DefaultFormats
  private val sc = spark.sparkContext
  private val wh = runDir.resolve("warehouse").toString
  private val store = new TableStore(spark, wh)
  private val jobs = new Jobs(spark, store)
  private val spans = new Spans
  private val listener = if (trace) Some(LayerListener.install(spark)) else None
  private val transport = new FakeSimplefin(
    new String(Files.readAllBytes(runDir.resolve("input/pages.json")), "UTF-8"))
  private val transportKey = s"perfbench-$seed"
  graft.sources.SimplefinTransports.register(transportKey, transport)

  private def strings(v: JValue): IndexedSeq[String] = v.extract[List[String]].toIndexedSeq
  private val pulls = (plan \ "pulls").children
  private val validateIds = (plan \ "validate_ids").children.map(strings)
  private val pool = strings(plan \ "api_pool")

  private def secs(a: Long, b: Long) = (b - a) / 1e9

  private def ingest(p: Int): Long = {
    val pull = pulls(p)
    transport.pull = p
    jobs.ingestFleet(transport.accessUrls, (pull \ "epoch").extract[Long],
      lookbackDays = (pull \ "lookback_days").extract[Int],
      maxDaysPerRequest = (pull \ "max_days").extract[Int],
      transportKey = transportKey)
  }

  private def userCategories() =
    if (store.exists("user_categories")) store.read("user_categories")
    else spark.createDataFrame(sc.emptyRDD[Row], Schemas.userCategories)
  // the serving view the API's write half resolves ids against, wired as
  // ApiMain.build wires it
  private val service = new UserCategoryService(spark, store, () =>
    Serving.servingJoin(store.read("fct_trxns_with_predictions"), userCategories()))

  /** On the seeded warehouse: the first pull, then `1_dagster_init`, the
    * same composition as `4_refresh_validated_retrain_repredict` (models,
    * train, predict, models), so its wall is the retrain time. */
  private def setup(): Double = {
    spans(sc, "setup.ingest")(ingest(0))
    val t = System.nanoTime()
    spans(sc, "setup.init")(JobsMain.run(spark, wh, "1_dagster_init"))
    secs(t, System.nanoTime())
  }

  /** One day of the orchestrator for pull `p`: the user's validations since
    * the last run, then the daily ingest-and-predict job; then the checks. */
  private def cycle(p: Int, warm: Boolean = false): JObject = {
    val calls0 = transport.calls.get()
    val cpu0 = cpuSeconds()
    val a = System.nanoTime()
    val validated = spans(sc, "jobs.validate")(service.bulkValidate(validateIds(p)))
    val b = System.nanoTime()
    val rows = spans(sc, "jobs.ingest")(ingest(p))
    spans(sc, "jobs.ingest_and_predict")(JobsMain.run(spark, wh, "2_ingest_and_predict"))
    val c = System.nanoTime()
    val cpu = cpuSeconds() - cpu0
    val state = spans(sc, "check")(warehouseState())
    JObject("pull" -> JInt(p), "warm" -> JBool(warm), "ingest_rows" -> JLong(rows), "validated" -> JLong(validated),
      "transport_calls" -> JLong(transport.calls.get() - calls0),
      "validate_s" -> JDouble(secs(a, b)), "ingest_predict_s" -> JDouble(secs(b, c)), "cpu_s" -> JDouble(cpu),
      "state" -> state)
  }

  /** Row counts and registry flags, read straight from the parquet files. */
  private def warehouseState(): JObject = {
    def read(t: String) = spark.read.parquet(s"$wh/$t")
    val counts = Seq("int_trxns_features", "fct_trxns_categorized", "fct_trxns_uncategorized",
      "fct_validated_trxns", "fct_trxns_with_predictions").map(t => t -> JLong(read(t).count()))
    val preds = read("fct_trxns_with_predictions")
    val reg = read("model_registry")
    val latest = reg.filter(col("is_latest")).select("f1_macro", "n_train").collect()
    JObject(counts.toList ++ List(
      "unpredicted" -> JLong(preds.filter(col("predicted_master_category").isNull).count()),
      "registry_active" -> JLong(reg.filter(col("is_active")).count()),
      "registry_latest" -> JLong(latest.length),
      "f1_macro" -> JDouble(latest.headOption.flatMap(r => Option(r.get(0))).map(_.asInstanceOf[Double]).getOrElse(-1.0)),
      "train_rows" -> JLong(latest.headOption.map(_.getLong(1)).getOrElse(-1L))))
  }

  private def startServer() = {
    // the server's dispatcher thread inherits the local properties open now
    sc.setLocalProperty(spans.Prop, null)
    ApiMain.build(spark, wh).start()
  }

  /** Single-thread integer loop: the same work every run, so its time shows
    * how fast a core was while this run was measured. */
  private def coreProbe(): Double = {
    val t = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 50000000) { x = x * 6364136223846793005L + 1442695040888963407L; x ^= (x >>> 33); i += 1 }
    if (x == 42L) System.err.println("")
    secs(t, System.nanoTime())
  }

  def execute(): JObject = {
    val clock = Layers.Clock(System.currentTimeMillis(), System.nanoTime())
    val retrainS = setup()
    // api_mix: every pool id has its user_categories row before the clock
    // starts, so the table's size is level while edits are measured
    val server = if (workload == "api_mix") {
      spans(sc, "setup.api")(service.bulkValidate(pool))
      Some(startServer())
    } else None
    val setupS = secs(startNs, System.nanoTime())
    val initState = spans(sc, "check")(warehouseState())
    // one unmeasured round of the workload's own ops first, so the measured
    // ones run on compiled code and filled caches, as in a long-lived process
    var cycles = List.empty[JObject]
    val clients = server.map { s =>
      val c = new ApiClients(s.boundPort, seed, pool, strings(plan \ "categories"), strings(plan \ "search_terms"))
      spans(sc, "warm_up")(c.warmUp(nproc))
      c
    }
    if (clients.isEmpty) spans(sc, "warm_up")(cycles :+= cycle(1, warm = true))
    coreProbe()
    val probe = coreProbe()
    val loadAvg = java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val cpu0 = cpuSeconds()
    val m0 = System.nanoTime()
    val deadline = m0 + (seconds * 1e9).toLong
    clients match {
      case Some(c) =>
        try c.run(nproc, deadline) finally server.foreach(_.stop())
      case None =>
        // whole days until the run's seconds are used, at least one
        var p = 2
        while (p < pulls.size && (p == 2 || System.nanoTime() < deadline)) { cycles :+= cycle(p); p += 1 }
    }
    val m1 = System.nanoTime()
    val cpu1 = cpuSeconds()
    val allOps = clients.map(_.allOps).getOrElse(Nil)
    val ops = allOps.filterNot(_.warm)
    val whBytes = Files.walk(Paths.get(wh)).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
    val layers = listener.map { l =>
      LayerListener.drain(sc)
      Layers(l, clock, spans.all, ops, cycles.count(c => !(c \ "warm").extract[Boolean]), (m0, m1))
    }
    JObject(
      "setup_s" -> JDouble(setupS),
      "retrain_s" -> JDouble(retrainS),
      "init_state" -> initState,
      "cycles" -> JArray(cycles),
      "measured_s" -> JDouble(secs(m0, m1)),
      "measured_cpu_s" -> JDouble(cpu1 - cpu0),
      "api_ops" -> JArray(allOps.toList.map(o => JObject(
        "kind" -> JString(o.kind), "route" -> JString(o.route), "warm" -> JBool(o.warm),
        "ms" -> JDouble((o.endNs - o.startNs) / 1e6), "ok" -> JBool(o.ok),
        "err" -> (if (o.err == null) JNull else JString(o.err))))),
      "acks" -> JArray(clients.map(_.allAcks).getOrElse(Nil).sortBy(_.atNs).toList.map(k =>
        JArray(List(JString(k.id), JString(k.field), JString(k.value))))),
      "warehouse_bytes" -> JLong(whBytes),
      "served_bytes" -> JLong(transport.servedBytes.get()),
      "env" -> JObject("nproc" -> JInt(nproc), "jdk" -> JString(System.getProperty("java.version")),
        "load_avg_1m" -> JDouble(loadAvg), "core_probe_s" -> JDouble(probe),
        "jvm_cpu_s" -> JDouble(cpuSeconds()), "peak_rss_mb" -> JDouble(peakRssMb())),
      "layers" -> layers.getOrElse(JNothing),
      "spans" -> JArray(spans.all.toList.map(s => JObject(
        "id" -> JLong(s.id), "parent" -> JLong(s.parent), "name" -> JString(s.name),
        "start_ms" -> JDouble((s.startNs - startNs) / 1e6), "end_ms" -> JDouble((s.endNs - startNs) / 1e6)))))
  }

  private def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
}
