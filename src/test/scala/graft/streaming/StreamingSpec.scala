package graft.streaming

import java.sql.Timestamp

import graft.Runeset.withConf
import graft.operators.StreamReplay.RocksDbStateStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Streaming behavior specs (SURVEY.md §5 item 4): MemoryStream +
  * processAllAvailable drive each StreamOps transform synchronously.
  */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def ev(id: Long, t: String, user: Long = 1L,
      typ: String = "click", v: Double = 1.0): EventRow =
    EventRow(id, ts(t), user, typ, v)

  test("tumbling window agg finalizes windows and drops late data") {
    import spark.implicits._
    val in = MemoryStream[EventRow](spark)
    val q = StreamOps.tumblingAgg(in.toDF(), "10 minutes", "5 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("tumbling_out").start()
    try {
      in.addData(
        ev(1, "2024-01-01 00:01:00"), ev(2, "2024-01-01 00:02:00"),
        ev(3, "2024-01-01 00:06:00"))
      q.processAllAvailable()
      // advance watermark far past the first windows
      in.addData(ev(4, "2024-01-01 01:00:00"))
      q.processAllAvailable()
      // a late event behind the watermark must be dropped
      in.addData(ev(99, "2024-01-01 00:01:30"))
      q.processAllAvailable()
      val rows = spark.table("tumbling_out")
        .selectExpr("cast(window_start as string)", "n").as[(String, Long)].collect().toMap
      assert(rows("2024-01-01 00:00:00") == 2) // late event did NOT bump this
      assert(rows("2024-01-01 00:05:00") == 1)
    } finally q.stop()
  }

  test("session windows gap-merge per user") {
    import spark.implicits._
    val in = MemoryStream[EventRow](spark)
    val q = StreamOps.sessionAgg(in.toDF(), "10 minutes", "5 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("session_out").start()
    try {
      in.addData(
        ev(1, "2024-01-01 00:00:00"), ev(2, "2024-01-01 00:03:00"), // one session
        ev(3, "2024-01-01 00:20:00"))                               // separate session
      q.processAllAvailable()
      in.addData(ev(4, "2024-01-01 02:00:00")) // advance watermark to close sessions
      q.processAllAvailable()
      val rows = spark.table("session_out")
        .selectExpr("cast(session_start as string)", "cast(session_end as string)", "n")
        .as[(String, String, Long)].collect().toSet
      assert(rows.contains(("2024-01-01 00:00:00", "2024-01-01 00:08:00", 2L)))
      assert(rows.contains(("2024-01-01 00:20:00", "2024-01-01 00:25:00", 1L)))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark removes replays") {
    import spark.implicits._
    val in = MemoryStream[EventRow](spark)
    val q = StreamOps.dedupWithinWatermark(in.toDF(), "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      in.addData(ev(1, "2024-01-01 00:00:00"), ev(2, "2024-01-01 00:01:00"))
      q.processAllAvailable()
      in.addData(ev(1, "2024-01-01 00:00:00"), ev(3, "2024-01-01 00:02:00")) // replay of 1
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("event_id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("stateful spell pipeline keeps per-user running state across batches") {
    import spark.implicits._
    val in = MemoryStream[EventRow](spark)
    val q = StreamOps.statefulRunningTotals(in.toDS())
      .writeStream.outputMode("update")
      .format("memory").queryName("stateful_out").start()
    try {
      in.addData(ev(1, "2024-01-01 00:00:00", user = 7, v = 2.0),
        ev(2, "2024-01-01 00:01:00", user = 7, v = 3.0))
      q.processAllAvailable()
      in.addData(ev(3, "2024-01-01 00:02:00", user = 7, v = 5.0),
        ev(4, "2024-01-01 00:02:30", user = 8, v = 1.0))
      q.processAllAvailable()
      val latest = spark.table("stateful_out")
        .groupBy("user_id").agg(org.apache.spark.sql.functions.max("n_events").as("n"),
          org.apache.spark.sql.functions.max("total_value").as("total"))
        .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(latest(7L) == ((3L, 10.0)))  // state carried across batches
      assert(latest(8L) == ((1L, 1.0)))
    } finally q.stop()
  }

  test("transformWithState variant keeps identical per-user state semantics") {
    import spark.implicits._
    // transformWithState needs column families => RocksDB provider
    withConf(spark, RocksDbStateStore) {
      val in = MemoryStream[EventRow](spark)
      val q = StreamOps.statefulRunningTotalsTws(in.toDS())
        .writeStream.outputMode("update")
        .format("memory").queryName("tws_out").start()
      try {
        in.addData(ev(1, "2024-01-01 00:00:00", user = 7, v = 2.0),
          ev(2, "2024-01-01 00:01:00", user = 7, v = 3.0))
        q.processAllAvailable()
        in.addData(ev(3, "2024-01-01 00:02:00", user = 7, v = 5.0))
        q.processAllAvailable()
        val latest = spark.table("tws_out")
          .groupBy("user_id").agg(org.apache.spark.sql.functions.max("n_events").as("n"))
          .as[(Long, Long)].collect().toMap
        assert(latest(7L) == 3L)
      } finally q.stop()
    }
  }

  test("ingest gate: corpus membership in keyed state survives stop + resume") {
    import spark.implicits._
    // q78's stateful gate under the durability contract: the corpus
    // hash set loads through the initial-state channel on the FIRST
    // run, and a restarted query must recover it from the RocksDB
    // checkpoint — the resumed query gets an EMPTY initial state, so
    // a rejected_exact verdict after restart can only come from state
    withConf(spark, RocksDbStateStore) {
      val ckpt = java.nio.file.Files.createTempDirectory("graft_gate_ckpt").toString
      val in = MemoryStream[IngestDoc](spark)
      val verdicts = scala.collection.concurrent.TrieMap.empty[Long, String]
      def start(corpus: Seq[CorpusHash]) =
        IngestGate.gate(in.toDS(), corpus.toDS())
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[IngestVerdict], _: Long) =>
            batch.collect().foreach(v => verdicts.put(v.doc_id, v.verdict))
          }
          .start()
      val q1 = start(Seq(CorpusHash("h_corpus")))
      try {
        in.addData(
          IngestDoc(1L, "src0", 0.9, "h_corpus", nd_hit = false), // exact member
          IngestDoc(2L, "src0", 0.9, "h_new", nd_hit = false),    // fresh
          IngestDoc(3L, "src0", 0.2, "h_corpus", nd_hit = false), // quality floor wins
          IngestDoc(4L, "src0", 0.9, "h_nd", nd_hit = true))      // near-dup flag
        q1.processAllAvailable()
        assert(q1.lastProgress.json.contains("rocksdb"),
          s"expected RocksDB state metrics in: ${q1.lastProgress.json}")
        assert(verdicts(1L) == "rejected_exact")
        assert(verdicts(2L) == "accepted")
        assert(verdicts(3L) == "rejected_quality")
        assert(verdicts(4L) == "rejected_neardup")
      } finally q1.stop()
      verdicts.clear()
      // restart over the same checkpoint with NO initial corpus
      val q2 = start(Seq.empty)
      try {
        in.addData(
          IngestDoc(5L, "src1", 0.9, "h_corpus", nd_hit = false),
          IngestDoc(6L, "src1", 0.9, "h_other", nd_hit = false))
        q2.processAllAvailable()
        assert(verdicts(5L) == "rejected_exact",
          s"corpus membership lost across restart: ${verdicts.toMap}")
        assert(verdicts(6L) == "accepted")
      } finally q2.stop()
    }
  }

  test("q92 timers: inline gap-close vs watermark-driven timer-close") {
    import spark.implicits._
    withConf(spark, RocksDbStateStore) {
      val in = MemoryStream[TimerEvent](spark)
      val q = SessionTimerGate.sessions(
        in.toDF().withWatermark("ts", "0 seconds").as[TimerEvent])
        .writeStream.outputMode("append")
        .format("memory").queryName("timer_out").start()
      def emitted(): Set[(Long, String, String, Long, Double, String)] =
        spark.table("timer_out")
          .selectExpr("user_id", "cast(session_start as string)",
            "cast(last_seen as string)", "n_events", "sum_value", "closed_by")
          .as[(Long, String, String, Long, Double, String)].collect().toSet
      try {
        in.addData(
          TimerEvent(1L, ts("2024-01-01 00:00:00"), 1.0),
          TimerEvent(1L, ts("2024-01-01 00:05:00"), 2.0),
          TimerEvent(2L, ts("2024-01-01 00:01:00"), 5.0))
        q.processAllAvailable()
        // watermark after batch 1 = 00:05; no boundary (8 h later) passed
        assert(emitted().isEmpty, s"premature emission: ${emitted()}")
        // user 1 re-appears ≥ 8 h later: the OLD session closes INLINE
        // (gap rule) — and the same drain advances the watermark to
        // 09:00, past user 2's boundary (00:01 + 8 h), so user 2's
        // session closes by TIMER in the trailing no-data batch
        in.addData(TimerEvent(1L, ts("2024-01-01 09:00:00"), 4.0))
        q.processAllAvailable()
        assert(emitted() === Set(
          (1L, "2024-01-01 00:00:00", "2024-01-01 00:05:00", 2L, 3.0, "gap"),
          (2L, "2024-01-01 00:01:00", "2024-01-01 00:01:00", 1L, 5.0, "timer")))
        // an unrelated user advances the watermark to 18:10 — past
        // user 1's second session's boundary (09:00 + 8 h): TIMER
        in.addData(TimerEvent(3L, ts("2024-01-01 18:10:00"), 7.0))
        q.processAllAvailable()
        assert(emitted() === Set(
          (1L, "2024-01-01 00:00:00", "2024-01-01 00:05:00", 2L, 3.0, "gap"),
          (1L, "2024-01-01 09:00:00", "2024-01-01 09:00:00", 1L, 4.0, "timer"),
          (2L, "2024-01-01 00:01:00", "2024-01-01 00:01:00", 1L, 5.0, "timer")))
        // user 3's own session stays open (18:10 + 8 h > watermark)
      } finally q.stop()
    }
  }

  test("q92 timers survive stop + resume from the RocksDB checkpoint") {
    import spark.implicits._
    withConf(spark, RocksDbStateStore) {
      val ckpt = java.nio.file.Files.createTempDirectory("graft_timer_ckpt").toString
      val in = MemoryStream[TimerEvent](spark)
      val out = scala.collection.concurrent.TrieMap.empty[(Long, String), (Long, String)]
      def start() = SessionTimerGate.sessions(
        in.toDF().withWatermark("ts", "0 seconds").as[TimerEvent])
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[TimerSession], _: Long) =>
          batch.collect().foreach(s =>
            out.put((s.user_id, s.session_start.toString), (s.n_events, s.closed_by)))
        }
        .start()
      val q1 = start()
      try {
        // open session with an ARMED timer, then stop before it fires
        in.addData(
          TimerEvent(7L, ts("2024-01-01 00:00:00"), 1.0),
          TimerEvent(7L, ts("2024-01-01 00:10:00"), 2.0))
        q1.processAllAvailable()
        assert(out.isEmpty, s"emitted before any boundary: ${out.toMap}")
      } finally q1.stop()
      // resume: a fresh query over the same checkpoint; the armed
      // timer and the open-session state must both come back. A new
      // user's event advances the watermark past 00:10 + 8 h.
      val q2 = start()
      try {
        in.addData(TimerEvent(8L, ts("2024-01-01 20:00:00"), 9.0))
        q2.processAllAvailable()
        assert(out.toMap === Map(
          (7L, "2024-01-01 00:00:00.0") -> ((2L, "timer"))),
          s"timer did not survive the restart: ${out.toMap}")
      } finally q2.stop()
    }
  }

  test("stream-stream join matches purchases to preceding clicks within the bound") {
    import spark.implicits._
    val clicks = MemoryStream[EventRow](spark)
    val purchases = MemoryStream[EventRow](spark)
    val q = StreamOps.clickToPurchaseJoin(clicks.toDF(), purchases.toDF(), "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("ssjoin_out").start()
    try {
      clicks.addData(ev(10, "2024-01-01 00:00:00", user = 1, typ = "click"))
      purchases.addData(
        ev(20, "2024-01-01 00:10:00", user = 1, typ = "purchase", v = 9.0), // within 30min
        ev(21, "2024-01-01 01:10:00", user = 1, typ = "purchase", v = 1.0), // outside
        ev(22, "2024-01-01 00:10:00", user = 2, typ = "purchase", v = 2.0)) // other user
      q.processAllAvailable()
      val rows = spark.table("ssjoin_out")
        .select("click_id", "purchase_id").as[(Long, Long)].collect().toSet
      assert(rows == Set((10L, 20L)))
    } finally q.stop()
  }

  test("streaming feedback loop: foreachBatch re-enqueues until termination (T2 analog)") {
    import spark.implicits._
    // Spark DAGs are acyclic; the reference's feedback loop becomes a
    // re-enqueue into the input stream with the counter as the guard
    // (SURVEY.md §7 hard parts). value plays `counter`.
    val in = MemoryStream[EventRow](spark)
    val terminal = scala.collection.concurrent.TrieMap.empty[Long, Long] // id -> hops seen
    val q = in.toDS().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[EventRow], _: Long) =>
        val rows = batch.collect()
        val (alive, done) = rows.partition(_.value > 0)
        done.foreach(r => terminal.updateWith(r.event_id)(c => Some(c.getOrElse(0L) + 1)))
        if (alive.nonEmpty) {
          val _ = in.addData(alive.map(r => r.copy(value = r.value - 1)).toIndexedSeq)
        }
      }
      .start()
    try {
      in.addData(ev(1, "2024-01-01 00:00:00", v = 3.0), ev(2, "2024-01-01 00:00:01", v = 1.0))
      q.processAllAvailable()
      // each seed loops down to 0 exactly once
      assert(terminal.toMap == Map(1L -> 1L, 2L -> 1L))
    } finally q.stop()
  }

  test("spell castAll runs on a streaming Dataset (engine ⋈ streaming glue)") {
    implicit val enc: org.apache.spark.sql.Encoder[graft.engine.DynEvent] =
      org.apache.spark.sql.Encoders.kryo[graft.engine.DynEvent]
    import graft.engine.{DynEvent, SpellEngine}
    import spark.implicits._
    val in = MemoryStream[DynEvent](spark)
    val out = SpellEngine.castAll(in.toDS(), graft.engine.SpellEngineSpec.DecrementCounter)
      .map(e => e.get("counter").map(_.toString).getOrElse("?"))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("spell_stream_out").start()
    try {
      in.addData(DynEvent.of("counter" -> 3))
      q.processAllAvailable()
      val vals = spark.table("spell_stream_out").as[String].collect().sorted
      assert(vals.toSeq == Seq("EInt(0)", "EInt(1)", "EInt(2)"))
    } finally q.stop()
  }

  test("range queries over live state: the statestore reader (roadmap README.md:110)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the reference's own bridge from streaming to queries:
    // "SELECT * FROM state WHERE v > 10 AND v < 20"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val in = MemoryStream[EventRow](spark)
    val q = StreamOps.statefulRunningTotals(in.toDS())
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("state_range_out").start()
    try {
      in.addData(
        ev(1, "2024-01-01 00:00:00", user = 1, v = 5.0),
        ev(2, "2024-01-01 00:00:10", user = 2, v = 15.0),
        ev(3, "2024-01-01 00:00:20", user = 3, v = 25.0))
      q.processAllAvailable()
    } finally q.stop()
    val state = spark.read.format("statestore").load(ckpt)
    // state rows expose key/value structs; range-filter over the value
    val mid = state
      .select(col("key.value").as("user_id"),
        col("value.groupState.total_value").as("total"))
      .filter(col("total") > 10 && col("total") < 20)
      .as[(Long, Double)].collect()
    assert(mid.toSeq == Seq((2L, 15.0)))
  }

  test("q87 state-format pin: the agg buffer still exposes key(user_id,event_type)/value.count") {
    // q87 reads `value.count` from the statestore reader — the field
    // name of an INTERNAL aggregation buffer, not a public contract
    // (round-11 verdict #4). Build the exact q86/q87-shaped checkpoint
    // (streaming groupBy(user_id, event_type) + count in update mode)
    // and pin the reader's key/value schema AND the buffer contents,
    // so a Spark upgrade that renames or retypes the buffer fails
    // here, in CI, instead of in the driver's correctness gate.
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit}
    import org.apache.spark.sql.types.{LongType, StringType, StructType}
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_q87pin").toString
    val in = MemoryStream[EventRow](spark)
    val agg = in.toDF()
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val q = agg.writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      // q87's commit discipline: drain every partition through noop
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.format("noop").mode("overwrite").save()
      }
      .start()
    try {
      in.addData(
        ev(1, "2024-01-01 00:00:00", user = 1, typ = "click"),
        ev(2, "2024-01-01 00:01:00", user = 1, typ = "click"),
        ev(3, "2024-01-01 00:02:00", user = 2, typ = "view"))
      q.processAllAvailable()
    } finally q.stop()
    val state = spark.read.format("statestore").load(ckpt)
    val key = state.schema("key").dataType.asInstanceOf[StructType]
    val value = state.schema("value").dataType.asInstanceOf[StructType]
    assert(key.fieldNames.toSeq == Seq("user_id", "event_type"),
      s"statestore key layout drifted: ${key.fieldNames.toSeq} — update q87StatestoreRange")
    assert(key("user_id").dataType == LongType)
    assert(key("event_type").dataType == StringType)
    assert(value.fieldNames.contains("count"),
      s"agg buffer no longer exposes `count` (got ${value.fieldNames.toSeq}) — " +
        "q87StatestoreRange reads value.count and must be updated with this Spark version")
    assert(value("count").dataType == LongType,
      s"agg buffer count retyped to ${value("count").dataType} — q87's BIGINT oracle cast breaks")
    // and the buffer VALUES are the aggregates, not an internal encoding
    val got = state.select(col("key.user_id"), col("key.event_type"), col("value.count"))
      .as[(Long, String, Long)].collect().toSet
    assert(got == Set((1L, "click", 2L), (2L, "view", 1L)),
      s"state buffer contents drifted: $got")
  }

  test("file source end-to-end: AvailableNow over the real events parquet") {
    import org.apache.spark.sql.functions.col
    // schema from the batch footer + the same typed ts normalization
    // as Tables.events — fixture layouts drift (nanos-as-long vs
    // native micros), so never hand-write this schema
    val dir = "/root/testdata/sf0.001"
    val stream = graft.Tables.normalizeTs(
      spark.readStream.schema(graft.Tables.eventsRawFrame(spark, dir).schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
    val agg = StreamOps.tumblingAgg(stream, "10 minutes", "1 hour")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("file_stream_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination(120000)
      val n = spark.table("file_stream_out").count()
      // append mode emits only watermark-closed windows; all but the
      // final open hour of the fixture should be present
      assert(n > 0, "no closed windows emitted from the file stream")
      val total = spark.table("file_stream_out")
        .agg(org.apache.spark.sql.functions.sum(col("n"))).head().getLong(0)
      assert(total > 500, s"expected most of the ~1k fixture events, got $total")
    } finally q.stop()
  }

  test("RocksDB provider: stop, then resume from checkpoint with state intact") {
    import spark.implicits._
    // the production durable-keyed-state configuration (roadmap
    // README.md:107-109): RocksDB state store + a restart that must
    // recover per-key state from the checkpoint, not recompute it
    withConf(spark, RocksDbStateStore) {
      val ckpt = java.nio.file.Files.createTempDirectory("graft_rocks_ckpt").toString
      val in = MemoryStream[EventRow](spark)
      // foreachBatch sink: the memory sink refuses checkpoint recovery
      val latest = scala.collection.concurrent.TrieMap.empty[Long, (Long, Double)]
      def start() = StreamOps.statefulRunningTotals(in.toDS())
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[UserRunning], _: Long) =>
          batch.collect().foreach { r =>
            latest.put(r.user_id, (r.n_events, r.total_value))
          }
        }
        .start()
      val q1 = start()
      try {
        in.addData(ev(1, "2024-01-01 00:00:00", user = 7, v = 2.0),
          ev(2, "2024-01-01 00:01:00", user = 7, v = 3.0))
        q1.processAllAvailable()
        // the provider is really RocksDB (its metrics surface in progress)
        assert(q1.lastProgress.json.contains("rocksdb"),
          s"expected RocksDB state metrics in: ${q1.lastProgress.json}")
        assert(latest(7L) == ((2L, 5.0)))
      } finally q1.stop()
      // restart: a NEW query over the same checkpoint must RECOVER the
      // (2 events, 5.0 total) state rather than recompute from scratch
      latest.clear()
      val q2 = start()
      try {
        in.addData(ev(3, "2024-01-01 00:02:00", user = 7, v = 5.0))
        q2.processAllAvailable()
        // 3 events / 10.0 total proves the pre-restart state was
        // restored from the RocksDB checkpoint (the map was cleared)
        assert(latest(7L) == ((3L, 10.0)),
          s"state not recovered across restart: ${latest.toMap}")
      } finally q2.stop()
    }
  }

  test("rate source end-to-end: windowed agg over the built-in rate stream") {
    import org.apache.spark.sql.functions.{col, count, sum, window}
    val rate = spark.readStream.format("rate")
      .option("rowsPerSecond", "200").load() // columns: timestamp, value
    val agg = rate.groupBy(window(col("timestamp"), "1 second"))
      .agg(count(org.apache.spark.sql.functions.lit(1)).as("n"), sum(col("value")).as("sum_v"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("rate_out").start()
    try {
      val deadline = System.currentTimeMillis() + 60000
      var total = 0L
      while (total == 0 && System.currentTimeMillis() < deadline) {
        Thread.sleep(250)
        q.processAllAvailable()
        val agged = spark.table("rate_out")
          .agg(sum(col("n"))).head()
        total = if (agged.isNullAt(0)) 0L else agged.getLong(0)
      }
      assert(total > 0, "rate source produced no rows within the timeout")
    } finally q.stop()
  }

  test("foreachBatch topic dispatch fans one stream out to per-topic sinks (2B)") {
    import spark.implicits._
    val in = MemoryStream[EventRow](spark)
    val sink = scala.collection.concurrent.TrieMap.empty[String, Long]
    val q = in.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // dispatch table: one filtered branch per subscribed topic
        Seq("click", "purchase").foreach { topic =>
          val n = batch.filter(org.apache.spark.sql.functions.col("event_type") === topic).count()
          if (n > 0) sink.updateWith(topic) { c => Some(c.getOrElse(0L) + n) }
        }
      }
      .start()
    try {
      in.addData(ev(1, "2024-01-01 00:00:00", typ = "click"),
        ev(2, "2024-01-01 00:00:10", typ = "purchase"),
        ev(3, "2024-01-01 00:00:20", typ = "click"),
        ev(4, "2024-01-01 00:00:30", typ = "error"))
      q.processAllAvailable()
      assert(sink.toMap == Map("click" -> 2L, "purchase" -> 1L))
    } finally q.stop()
  }

  test("q79's LM scorer reproduces t15's integer-bit algebra on the edge cases") {
    import graft.operators.StreamReplay.scoreLm
    // model: cb("a b") = 3, so cu("a") = 3; vocab 4
    val cb = Map("a b" -> 3L)
    val cu = Map("a" -> 3L)
    // seen bigram: bits = flog2(3+4) − flog2(3+1) = 2 − 2 = 0
    assert(scoreLm(cb, cu, 4L, 1L, "a b") == ((1L, 1L, 0L, 0.0, 1)))
    // unseen bigram under a seen context: flog2(7) − flog2(1) = 2
    assert(scoreLm(cb, cu, 4L, 2L, "a z") == ((2L, 1L, 2L, 2.0, 1)))
    // unseen context: flog2(0+4) − flog2(0+1) = 2
    assert(scoreLm(cb, cu, 4L, 3L, "q z") == ((3L, 1L, 2L, 2.0, 1)))
    // above the 4.5 bits/token threshold: vocab big enough to cost 6 bits
    val (_, n, tot, bpt, keep) = scoreLm(Map.empty, Map.empty, 64L, 4L, "q z")
    assert(n == 1 && tot == 6 && bpt == 6.0 && keep == 0)
    // no bigrams (single/empty/null text): zero row, keep 0
    assert(scoreLm(cb, cu, 4L, 5L, "solo") == ((5L, 0L, 0L, 0.0, 0)))
    assert(scoreLm(cb, cu, 4L, 6L, null) == ((6L, 0L, 0L, 0.0, 0)))
    // trailing space ⇒ trailing empty token participates, as in both
    // engines' split: "a " has bigram ("a", "")
    assert(scoreLm(cb, cu, 4L, 7L, "a ")._2 == 1L)
  }

  test("streaming cast pipeline is batch-boundary independent (q75's engine path)") {
    import spark.implicits._
    import graft.engine.{DynEvent, EValue, SpellEngine}
    import EValue._
    def toEvent(r: (Long, Double)): DynEvent =
      DynEvent(Map[EValue, EValue](
        EStr("event_id") -> EInt(r._1), EStr("value") -> EFloat(r._2),
        EStr("hop") -> EInt(0)))
    def fromHop(e: DynEvent): (Long, Long, Double) =
      (e.get("event_id") match { case Some(EInt(i)) => i; case _ => -1L },
        e.get("hop") match { case Some(EInt(h)) => h; case _ => -1L },
        e.get("value") match { case Some(EFloat(v)) => v; case _ => Double.NaN })
    val seeds = Seq((1L, 9.0), (2L, 100.0), (3L, 0.5), (4L, 33.0))
    // batch reference: all seeds in one go
    val expected = SpellEngine.castAllColumnar(
        spark.createDataset(seeds), graft.operators.SpellQueries.HalvingSpell,
        toEvent, fromHop _)
      .collect().toSet
    // streaming: same seeds split across three micro-batches
    val in = MemoryStream[(Long, Double)](spark)
    val hops = SpellEngine.castAllColumnar(
      in.toDS(), graft.operators.SpellQueries.HalvingSpell, toEvent, fromHop _)
    val q = hops.writeStream.outputMode("append").format("memory")
      .queryName("graft_cast_mb").start()
    try {
      in.addData(seeds(0))
      q.processAllAvailable()
      in.addData(seeds(1), seeds(2))
      q.processAllAvailable()
      in.addData(seeds(3))
      q.processAllAvailable()
      val got = spark.table("graft_cast_mb")
        .as[(Long, Long, Double)].collect().toSet
      assert(got == expected,
        "hop set must not depend on how seeds split into micro-batches")
    } finally q.stop()
  }
}
