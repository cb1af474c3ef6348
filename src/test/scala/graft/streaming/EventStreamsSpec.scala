package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class EventStreamsSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("tumbling window aggregates per hour and event_type") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val events = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = EventStreams.tumblingCounts(events)
      .writeStream.format("memory").queryName("tumbling")
      .outputMode("update").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 10:05:00"), 1L, "click", 1.0),
        (2L, ts("2024-01-01 10:55:00"), 1L, "click", 2.0),
        (3L, ts("2024-01-01 11:05:00"), 2L, "view", 5.0))
      q.processAllAvailable()
      val got = spark.table("tumbling")
        .select("window_start", "event_type", "n_events", "total_value")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2),
          r.getDecimal(3).toPlainString)).toSet
      assert(got == Set(
        ("2024-01-01 10:00:00.0", "click", 2L, "3.00"),
        ("2024-01-01 11:00:00.0", "view", 1L, "5.00")))
    } finally q.stop()
  }

  test("sessionize assigns 30-min-gap sessions per user incrementally") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[EventStreams.Event]
    val q = EventStreams.sessionize(input.toDS())
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      input.addData(
        EventStreams.Event(1, ts("2024-01-01 10:00:00"), 1, "click", 0),
        EventStreams.Event(2, ts("2024-01-01 10:10:00"), 1, "click", 0), // same session
        EventStreams.Event(3, ts("2024-01-01 11:30:00"), 1, "click", 0), // gap > 30min → new
        EventStreams.Event(4, ts("2024-01-01 10:00:00"), 2, "view", 0))  // other user
      q.processAllAvailable()
      val got = spark.table("sessions")
        .select("event_id", "session_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got(1L) == 1 && got(2L) == 1)
      assert(got(3L) == 2)
      assert(got(4L) == 1)
    } finally q.stop()
  }

  test("appendOnlyByKey drops duplicate event_ids across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp, String)]
    val events = input.toDF().toDF("event_id", "ts", "payload")
    val q = EventStreams.appendOnlyByKey(events)
      .writeStream.format("memory").queryName("appendonly")
      .outputMode("append").start()
    try {
      input.addData((1L, ts("2024-01-01 10:00:00"), "a"))
      q.processAllAvailable()
      input.addData((1L, ts("2024-01-01 10:00:00"), "a"), (2L, ts("2024-01-01 10:01:00"), "b"))
      q.processAllAvailable()
      assert(spark.table("appendonly").count() == 2)
    } finally q.stop()
  }

  test("stream-stream interval join matches clicks to in-window purchases only") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val events = input.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = EventStreams.clickPurchaseJoin(events, maxLagSeconds = 3600)
      .writeStream.format("memory").queryName("ssjoin")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 09:30:00"), 1L, "purchase", 10.0), // 30 min before -> match
        (2L, ts("2024-01-01 08:30:00"), 1L, "purchase", 20.0), // 90 min before -> out of window
        (3L, ts("2024-01-01 10:30:00"), 1L, "purchase", 30.0), // after click   -> no match
        (4L, ts("2024-01-01 09:45:00"), 2L, "purchase", 40.0), // other user    -> no match
        (5L, ts("2024-01-01 10:00:00"), 1L, "click", 0.0))
      q.processAllAvailable()
      val got = spark.table("ssjoin")
        .select("event_id", "user_id", "purchase_value")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == Set((5L, 1L, 10.0)))
    } finally q.stop()
  }

  test("interval join results are invariant to micro-batch granularity") {
    // The `graft.Bench stream events` leg's default trigger for the join
    // moved 4 → 16 files; this pins the claim that made the move safe —
    // trigger size is an EXECUTION knob, not semantics. The same
    // event-time-ordered event set, delivered as one batch vs five
    // single-row batches, must emit the identical joined rows (state
    // contents evolve differently per batch; results must not).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val all = Seq(
      (1L, ts("2024-01-01 09:30:00"), 1L, "purchase", 10.0),
      (2L, ts("2024-01-01 09:40:00"), 2L, "purchase", 20.0),
      (3L, ts("2024-01-01 10:00:00"), 1L, "click", 0.0),   // matches 1
      (4L, ts("2024-01-01 10:10:00"), 2L, "click", 0.0),   // matches 2
      (5L, ts("2024-01-01 12:00:00"), 3L, "click", 0.0))   // nothing in window
    def run(batches: Seq[Seq[(Long, Timestamp, Long, String, Double)]],
        name: String): Set[(Long, Long, Double)] = {
      val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
      val events = input.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
      val q = EventStreams.clickPurchaseJoin(events, maxLagSeconds = 3600)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      } finally q.stop()
      spark.table(name).select("event_id", "user_id", "purchase_value")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    val oneBatch = run(Seq(all), "jgran_one")
    val fiveBatches = run(all.map(Seq(_)), "jgran_five")
    assert(oneBatch == fiveBatches,
      s"join results changed with trigger granularity: $oneBatch vs $fiveBatches")
    assert(oneBatch == Set((3L, 1L, 10.0), (4L, 2L, 20.0)))
  }

  test("left-outer interval join emits the null row only after the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val events = input.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = EventStreams.clickPurchaseLeftOuter(events, maxLagSeconds = 3600)
      .writeStream.format("memory").queryName("ssleftjoin")
      .outputMode("append").start()
    def emitted() = spark.table("ssleftjoin")
      .select("event_id", "user_id", "purchase_value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    try {
      input.addData(
        (1L, ts("2024-01-01 09:30:00"), 1L, "purchase", 10.0),
        (5L, ts("2024-01-01 10:00:00"), 1L, "click", 0.0),    // converted
        (6L, ts("2024-01-01 10:00:00"), 3L, "click", 0.0))    // never converts
      q.processAllAvailable()
      // the matched row streams out immediately; the unmatched click CANNOT
      // — "no purchase arrived" is not final until the watermark says so
      assert(emitted() == Set((5L, 1L, Some(10.0))))
      // advance BOTH sides' event time to 14:00 → watermark 12:00 > click
      // time, so click 6's no-match verdict becomes final
      input.addData(
        (7L, ts("2024-01-01 14:00:00"), 9L, "purchase", 99.0),
        (8L, ts("2024-01-01 14:00:00"), 8L, "click", 0.0))
      q.processAllAvailable()
      // null emission happens in a batch AFTER the watermark advance commits
      input.addData((9L, ts("2024-01-01 14:05:00"), 8L, "click", 0.0))
      q.processAllAvailable()
      // clicks 8/9 sit above the watermark and stay buffered in state —
      // completeness is only ever claimed BEHIND the watermark
      assert(emitted() == Set((5L, 1L, Some(10.0)), (6L, 3L, None)))
    } finally q.stop()
  }

  test("slidingCounts places each event in its 4 overlapping hour windows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val events = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = EventStreams.slidingCounts(events)
      .writeStream.format("memory").queryName("sliding")
      .outputMode("update").start()
    try {
      input.addData((1L, ts("2024-01-01 10:31:00"), 1L, "click", 0.0))
      q.processAllAvailable()
      val starts = spark.table("sliding")
        .collect().map(r => (r.getTimestamp(0).toString, r.getLong(2))).toSet
      assert(starts == Set( // 10:31 falls in windows starting 09:45..10:30
        ("2024-01-01 09:45:00.0", 1L), ("2024-01-01 10:00:00.0", 1L),
        ("2024-01-01 10:15:00.0", 1L), ("2024-01-01 10:30:00.0", 1L)))
    } finally q.stop()
  }

  test("tumbling aggregation state survives a checkpointed restart") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    def events = input.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    // foreachBatch, not the memory sink — the memory sink refuses
    // checkpoint recovery; this is also the shape a real upsert sink takes
    val latest = new java.util.concurrent.ConcurrentHashMap[(String, String), Long]()
    def start() = EventStreams.tumblingCounts(events)
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select("window_start", "event_type", "n_events").collect().foreach { r =>
          latest.put((r.getTimestamp(0).toString, r.getString(1)), r.getLong(2))
        }
      }
      .start()

    val q1 = start()
    try {
      input.addData((1L, ts("2024-01-01 10:05:00"), 1L, "click", 1.0))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(latest.get(("2024-01-01 10:00:00.0", "click")) == 1L)

    // restart against the SAME checkpoint: the open window's state must be
    // recovered, so the next event lands in the same (window, type) group
    val q2 = start()
    try {
      input.addData((2L, ts("2024-01-01 10:40:00"), 1L, "click", 2.0))
      q2.processAllAvailable()
      // count 2 proves the pre-restart event was recovered from the
      // checkpointed state store, not lost with the first query
      assert(latest.get(("2024-01-01 10:00:00.0", "click")) == 2L,
        s"state not recovered: $latest")
    } finally {
      q2.stop()
      graft.finance.ops.FileTrees.delete(java.nio.file.Paths.get(ckpt))
    }
  }

  test("transformWithState state survives a checkpointed restart") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val previous = EventStreams.rocksDbStateStoreConfigs.keys
      .map(k => k -> spark.conf.getOption(k)).toMap
    EventStreams.rocksDbStateStoreConfigs.foreach { case (k, v) => spark.conf.set(k, v) }
    val ckpt = java.nio.file.Files.createTempDirectory("graft-tws-ckpt").toString
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    def events = input.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val latest = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Double)]()
    def start() = EventStreams.userLifetimeStats(events)
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select("user_id", "n_events", "total_value").collect().foreach { r =>
          latest.put(r.getLong(0), (r.getLong(1), r.getDouble(2)))
        }
      }
      .start()
    try {
      val q1 = start()
      try {
        input.addData((1L, ts("2024-01-01 10:00:00"), 1L, "click", 2.0))
        q1.processAllAvailable()
      } finally q1.stop()
      assert(latest.get(1L) == ((1L, 2.0)))

      // restart on the SAME checkpoint: the ValueState row must be
      // recovered from RocksDB, so the accumulator continues at n=2
      val q2 = start()
      try {
        input.addData((2L, ts("2024-01-01 11:00:00"), 1L, "click", 3.0))
        q2.processAllAvailable()
        assert(latest.get(1L) == ((2L, 5.0)), s"state not recovered: $latest")
      } finally q2.stop()
    } finally {
      graft.finance.ops.FileTrees.delete(java.nio.file.Paths.get(ckpt))
      previous.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("enrichWithCustomers broadcasts the static dim into each micro-batch, left-outer") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val customers = Seq((1L, "BUILDING"), (2L, "MACHINERY"))
      .toDF("c_custkey", "c_mktsegment")
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val events = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = EventStreams.enrichWithCustomers(events, customers)
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), 1L, "click", 0.0),
        (2L, ts("2024-01-01 10:01:00"), 9L, "view", 0.0)) // no dim row → null
      q.processAllAvailable()
      input.addData( // second micro-batch re-joins the static side
        (3L, ts("2024-01-01 10:02:00"), 2L, "click", 0.0))
      q.processAllAvailable()
      val got = spark.table("enriched")
        .collect().map(r => r.getLong(0) -> Option(r.getString(3))).toMap
      assert(got == Map(1L -> Some("BUILDING"), 2L -> None, 3L -> Some("MACHINERY")))
    } finally q.stop()
  }

  test("stateful aggregation runs under the RocksDB state store posture") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // apply the documented 100 TB posture for this query's lifetime
    val previous = EventStreams.rocksDbStateStoreConfigs.keys
      .map(k => k -> spark.conf.getOption(k)).toMap
    EventStreams.rocksDbStateStoreConfigs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
      val events = input.toDF()
        .toDF("event_id", "ts", "user_id", "event_type", "value")
      val q = EventStreams.tumblingCounts(events)
        .writeStream.format("memory").queryName("rocksdb_tumbling")
        .outputMode("update").start()
      try {
        input.addData(
          (1L, ts("2024-01-01 10:05:00"), 1L, "click", 1.0),
          (2L, ts("2024-01-01 10:35:00"), 1L, "click", 2.0))
        q.processAllAvailable()
        // results identical to the default provider...
        val got = spark.table("rocksdb_tumbling")
          .select("event_type", "n_events").collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(got == Map("click" -> 2L))
        // ...and the state operator really is RocksDB-backed: its progress
        // carries rocksdb custom metrics the HDFS provider never emits
        val metrics = q.lastProgress.stateOperators(0).customMetrics
        import scala.jdk.CollectionConverters._
        assert(metrics.keySet().asScala.exists(_.startsWith("rocksdb")),
          s"expected rocksdb state metrics, got: ${metrics.keySet()}")
      } finally q.stop()
    } finally previous.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("transformWithState accumulates per-user lifetime stats across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // transformWithState REQUIRES the RocksDB provider — same posture swap
    val previous = EventStreams.rocksDbStateStoreConfigs.keys
      .map(k => k -> spark.conf.getOption(k)).toMap
    EventStreams.rocksDbStateStoreConfigs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
      val events = input.toDF()
        .toDF("event_id", "ts", "user_id", "event_type", "value")
      val q = EventStreams.userLifetimeStats(events)
        .writeStream.format("memory").queryName("tws_stats")
        .outputMode("update").start()
      def latest() = spark.table("tws_stats")
        .collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getLong(3))))
        .groupBy(_._1).view
        .mapValues(_.map(_._2).maxBy(_._1)).toMap // latest batch = max n
      try {
        input.addData(
          (1L, ts("2024-01-01 10:00:00"), 1L, "click", 2.0),
          (2L, ts("2024-01-01 11:00:00"), 1L, "purchase", 3.0),
          (3L, ts("2024-01-01 10:30:00"), 2L, "click", 5.0))
        q.processAllAvailable()
        assert(latest()(1L) == ((2L, 5.0, ts("2024-01-01 11:00:00").getTime / 1000)))
        // second micro-batch: state carries over, count/total accumulate,
        // last-seen is the max even when the new event is older
        input.addData((4L, ts("2024-01-01 10:45:00"), 1L, "click", 10.0))
        q.processAllAvailable()
        assert(latest()(1L) == ((3L, 15.0, ts("2024-01-01 11:00:00").getTime / 1000)))
        assert(latest()(2L) == ((1L, 5.0, ts("2024-01-01 10:30:00").getTime / 1000)))
      } finally q.stop()
    } finally previous.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("lifetime totals are micro-batch-boundary independent (bit-exact)") {
    // the property the recovery harness made load-bearing (round 13): a
    // kill landing before the offset WAL write makes the restart RE-PLAN
    // the in-flight batch, so the same event multiset arrives under
    // different batch boundaries. total_value must come out bit-identical
    // — the reason UserStats accumulates integer micro-units instead of
    // folding doubles. 0.1 is NOT exactly representable: a double fold of
    // these values in different orders genuinely diverges in the low bits,
    // so this test fails against the old accumulator under splits.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val previous = EventStreams.rocksDbStateStoreConfigs.keys
      .map(k => k -> spark.conf.getOption(k)).toMap
    EventStreams.rocksDbStateStoreConfigs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val evs = (1 to 97).map(i =>
        (i.toLong, ts(f"2024-01-01 10:${i % 60}%02d:00"), 1L, "click", 0.1 * i))
      def runSplit(name: String, chunks: Seq[Seq[(Long, Timestamp, Long, String, Double)]]): Double = {
        val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
        val q = EventStreams.userLifetimeStats(
            input.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"))
          .writeStream.format("memory").queryName(name)
          .outputMode("update").start()
        try {
          chunks.foreach { c => input.addData(c: _*); q.processAllAvailable() }
          spark.table(name).collect().maxBy(_.getLong(1)).getDouble(2)
        } finally q.stop()
      }
      val oneBatch = runSplit("uls_one", Seq(evs))
      val many = runSplit("uls_many", evs.grouped(13).toSeq)
      val reversedChunks = runSplit("uls_rev", evs.reverse.grouped(29).toSeq)
      assert(oneBatch == many, s"1-batch $oneBatch != 8-batch $many")
      assert(oneBatch == reversedChunks, s"1-batch $oneBatch != reversed $reversedChunks")
    } finally previous.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("dropProbablySeen filters a stream against a static corpus bloom, stateless") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // corpus of seen doc keys -> one fixed-size filter, built in batch
    val corpus = (0L until 500L).map(i => s"doc-$i").toDF("doc_key")
    val bloom = corpus
      .agg(graft.functions.BloomBits.bloomBuild(xxhash64(col("doc_key")), 1 << 16, 7))
      .head.getAs[Array[Byte]](0)
    val input = MemoryStream[(Long, Timestamp, String)]
    val stream = input.toDF().toDF("event_id", "ts", "doc_key")
    val q = EventStreams.dropProbablySeen(stream, bloom, "doc_key")
      .writeStream.format("memory").queryName("bloomdedup")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), "doc-3"),     // seen -> dropped
        (2L, ts("2024-01-01 10:01:00"), "doc-499"),   // seen -> dropped
        (3L, ts("2024-01-01 10:02:00"), "fresh-a"),   // new  -> kept
        (4L, ts("2024-01-01 10:03:00"), "fresh-b"))   // new  -> kept
      q.processAllAvailable()
      val kept = spark.table("bloomdedup").select("doc_key")
        .collect().map(_.getString(0)).toSet
      // no false negatives: every corpus key is gone, with certainty
      assert(!kept.contains("doc-3") && !kept.contains("doc-499"))
      // kept rows are guaranteed new (these two could only vanish via a
      // false positive; at 2^16 bits / 500 keys the fpp is ~1e-12)
      assert(kept == Set("fresh-a", "fresh-b"))
      // stateless: no state store operator at all in the streaming plan
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("funnelDepth stays correct under out-of-order arrival (late view unlocks earlier clicks)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[EventStreams.Event]
    val q = EventStreams.funnelDepth(input.toDS(), watermark = "10 minutes")
      .writeStream.format("memory").queryName("funnel")
      .outputMode("update").start()
    def ev(id: Long, t: String, user: Long, typ: String) =
      EventStreams.Event(id, ts(t), user, typ, 0.0)
    try {
      // batch 1: click and purchase arrive FIRST — without a view nothing
      // may resolve, and a naive advance-on-match stream would drop them
      input.addData(
        ev(1, "2024-01-01 10:05:00", 1, "click"),
        ev(2, "2024-01-01 10:10:00", 1, "purchase"))
      q.processAllAvailable()
      assert(spark.table("funnel").isEmpty)
      // batch 2: the LATE view, timestamped before both — but INSIDE the
      // allowed lateness (watermark is 10:00 after batch 1; anything at or
      // below it would be dropped upstream by the engine, the standard
      // event-time admission contract)
      input.addData(ev(3, "2024-01-01 10:01:00", 1, "view"))
      q.processAllAvailable()
      // batch 3: watermark pusher far in the future finalizes user 1
      input.addData(ev(99, "2024-01-01 13:00:00", 2, "view"))
      q.processAllAvailable()
      input.addData(ev(100, "2024-01-01 16:00:00", 2, "click"))
      q.processAllAvailable()
      val depths = spark.table("funnel")
        .groupBy("user_id").agg(max("depth").as("d"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      // the late view unlocked the full chain: view@10:01 < click@10:05 <
      // purchase@10:10 — depth 3, exactly what the batch e7 funnel computes
      assert(depths.get(1L).contains(3), s"user 1: $depths")
    } finally q.stop()
  }

  test("funnelDepth enforces strictly-increasing stage times (same-ts click does not ride its view)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[EventStreams.Event]
    val q = EventStreams.funnelDepth(input.toDS(), watermark = "1 minutes")
      .writeStream.format("memory").queryName("funnel_ties")
      .outputMode("update").start()
    def ev(id: Long, t: String, user: Long, typ: String) =
      EventStreams.Event(id, ts(t), user, typ, 0.0)
    try {
      input.addData(
        ev(1, "2024-01-01 10:00:00", 1, "view"),
        ev(2, "2024-01-01 10:00:00", 1, "click"), // same instant: no advance
        ev(3, "2024-01-01 10:30:00", 1, "click"))
      q.processAllAvailable()
      input.addData(ev(9, "2024-01-01 12:00:00", 2, "view")) // watermark pusher
      q.processAllAvailable()
      val d = spark.table("funnel_ties").filter(col("user_id") === 1)
        .agg(max("depth")).head.getInt(0)
      assert(d == 2, s"expected view + the LATER click only, got depth $d")
      val frontier = spark.table("funnel_ties").filter(col("user_id") === 1)
        .agg(max("frontier_ms")).head.getLong(0)
      assert(frontier == ts("2024-01-01 10:30:00").getTime)
    } finally q.stop()
  }

  test("streaming twin replays the driver events fixture and matches the batch e1 result") {
    // Round-7 chaos case: the driver regenerated /root/testdata with a new
    // parquet encoding for events.ts (timestamp[us], previously
    // TIMESTAMP(NANOS)) and every events query broke. This test replays the
    // CURRENT fixture file through the real streaming file source — schema
    // taken from the batch reader, no synthetic rows — and asserts the
    // streaming twin still agrees with the batch aggregation. If the driver
    // ships a third encoding, this fails alongside FixtureSchemaSpec instead
    // of silently drifting.
    val sfDir = "/root/testdata/sf0.001"
    val batchEvents = graft.io.Tables.events(spark, sfDir)
    val expected = batchEvents
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("total_value"))
      .select(col("window_start").cast("string"), col("event_type"),
        col("n_events"), col("total_value").cast("string"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3)))
      .toSet
    assert(expected.nonEmpty)

    // The file stream source takes a directory, so stage the fixture file —
    // byte-verbatim — into a temp dir. Watermarks require TIMESTAMP, not
    // TIMESTAMP_NTZ ([EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE]) — so the
    // streaming ingest of an NTZ fixture casts ts at the source,
    // value-preserving under the engine's pinned UTC session. This cast IS
    // the production pattern for these fixtures.
    val streamDir = java.nio.file.Files.createTempDirectory("graft-replay")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val stream = spark.readStream
      .schema(batchEvents.schema)
      .parquet(streamDir.toString)
      .withColumn("ts", col("ts").cast("timestamp"))
    val q = EventStreams.tumblingCounts(stream)
      .writeStream.format("memory").queryName("fixture_replay")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      val got = spark.table("fixture_replay")
        .select(col("window_start").cast("string"), col("event_type"),
          col("n_events"), col("total_value").cast("string"))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3)))
        .toSet
      assert(got == expected,
        s"stream/batch drift: onlyStream=${got -- expected} onlyBatch=${expected -- got}")
    } finally {
      q.stop()
      graft.finance.ops.FileTrees.delete(streamDir)
    }
  }

  test("funnelDepth overflow degrades the hot key instead of killing the query") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[EventStreams.Event]
    // maxBuffer 3: a bot key with more in-flight events must not crash
    val q = EventStreams.funnelDepth(input.toDS(),
        watermark = "1 minutes", maxBuffer = 3)
      .writeStream.format("memory").queryName("funnel_hot")
      .outputMode("update").start()
    def ev(id: Long, t: String, user: Long, typ: String) =
      EventStreams.Event(id, ts(t), user, typ, 0.0)
    try {
      // view first, then 6 clicks: 7 in-flight > maxBuffer; the EARLIEST
      // survive the cut, so the chain still resolves correctly
      input.addData(
        (Seq(ev(1, "2024-01-01 10:00:00", 1, "view")) ++
          (0 until 6).map(i => ev(10 + i, f"2024-01-01 10:0${i + 1}%d:00", 1, "click"))): _*)
      q.processAllAvailable()
      input.addData(ev(99, "2024-01-01 12:00:00", 2, "view")) // watermark pusher
      q.processAllAvailable()
      val d = spark.table("funnel_hot").filter(col("user_id") === 1)
        .agg(max("depth")).head.getInt(0)
      assert(d == 2, s"expected view + earliest click despite the cut, got $d")
    } finally q.stop()
  }
}
