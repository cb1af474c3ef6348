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
}
