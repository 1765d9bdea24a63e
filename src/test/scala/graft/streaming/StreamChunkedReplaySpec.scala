package graft.streaming

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The production-geometry (time-ordered, multi-batch) replay of
  * q82's watermarked outer join must produce EXACTLY the single-batch
  * oracle replay's output: chunk boundaries are ts-range-disjoint, so
  * no row is ever late to the watermark, matches spanning chunks are
  * emitted before eviction can touch their view row, and the final
  * AvailableNow watermark closes the same trailing windows. This is
  * the equality that lets the sf100 scale record run in the bounded-
  * state geometry while the correctness gate keeps the deterministic
  * single-batch one.
  */
class StreamChunkedReplaySpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("chunked multi-batch q82 output equals the single-batch replay") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/root/testdata/sf0.001"
    val single = rows(SparkEntry.queries("q82_stream_outer_join_replay")(spark, dir))
    val chunked = rows(graft.operators.StreamReplay
      .outerJoinReplayChunked(spark, dir, nChunks = 6))
    assert(chunked == single,
      s"chunked replay diverged: only-single=${(single -- chunked).take(3)} " +
        s"only-chunked=${(chunked -- single).take(3)} " +
        s"(sizes ${single.size} vs ${chunked.size})")
    assert(single.nonEmpty, "fixture produced no joined rows")
  }

  test("chunked multi-batch q84 full-outer output equals the single-batch replay") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/root/testdata/sf0.001"
    val single = rows(SparkEntry.queries("q84_stream_full_outer_join_replay")(spark, dir))
    val chunked = rows(graft.operators.StreamReplay
      .fullOuterJoinReplayChunked(spark, dir, nChunks = 6))
    assert(chunked == single,
      s"chunked full-outer replay diverged: only-single=${(single -- chunked).take(3)} " +
        s"only-chunked=${(chunked -- single).take(3)} " +
        s"(sizes ${single.size} vs ${chunked.size})")
    // both null-extension branches must actually occur in the fixture
    assert(single.exists(_.contains("|null|")), "no null-extended row in fixture")
  }

  test("chunked q85 TTL-dedup equals the single-batch replay and evicts state") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/root/testdata/sf0.001"
    val single = rows(SparkEntry.queries("q85_stream_dedup_ttl_replay")(spark, dir))
    val chunked = rows(graft.operators.StreamReplay
      .dedupTtlReplayChunked(spark, dir, nChunks = 6))
    assert(chunked == single,
      s"chunked TTL-dedup diverged: only-single=${(single -- chunked).take(3)} " +
        s"only-chunked=${(chunked -- single).take(3)} " +
        s"(sizes ${single.size} vs ${chunked.size})")
    assert(single.nonEmpty, "fixture produced no deduped keys")

    // the bounded-state claim as a measured fact: replay the chunked
    // geometry with a visible query handle and read the state-store
    // metrics — eviction must actually happen mid-run, and live state
    // must stay strictly below the total key count
    val src = graft.operators.StreamReplay.orderedEventsChunkStream(spark, dir, nChunks = 10)
    val deduped = graft.operators.StreamReplay.watermarkedDayDedup(src)
    val base = java.nio.file.Files.createTempDirectory("graft_q85_state_")
    val q = deduped.writeStream.format("parquet")
      .option("path", base.resolve("out").toString)
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val states = q.recentProgress.toSeq.flatMap(p => Option(p.stateOperators).toSeq.flatten)
    assert(states.nonEmpty, "no state-operator progress reported")
    val maxLive = states.map(_.numRowsTotal).max
    val removed = states.map(_.numRowsRemoved).sum
    assert(removed > 0, "no state row was ever evicted — the TTL never fired")
    assert(maxLive < single.size,
      s"state held all ${single.size} keys at once (max live $maxLive) — not bounded")
  }

  test("chunked q86 update-mode agg equals single-batch; compaction is exercised") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/root/testdata/sf0.001"
    val single = rows(SparkEntry.queries("q86_stream_update_agg_replay")(spark, dir))
    val chunked = rows(graft.operators.StreamReplay
      .updateAggReplayChunked(spark, dir, nChunks = 6))
    assert(chunked == single,
      s"chunked update-agg diverged: only-single=${(single -- chunked).take(3)} " +
        s"only-chunked=${(chunked -- single).take(3)} " +
        s"(sizes ${single.size} vs ${chunked.size})")
    assert(single.nonEmpty, "fixture produced no aggregated keys")

    // the last-write-wins compaction must actually be exercised: in
    // the chunked geometry some key must emit updates from more than
    // one trigger (a user active in several ts-range chunks)
    val src = graft.operators.StreamReplay.orderedEventsChunkStream(spark, dir, nChunks = 6)
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft_q86_log_")
    val out = base.resolve("out").toString
    val agg = src.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val q = agg.writeStream.outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.withColumn("batch_id", lit(id)).write.mode("append").parquet(out)
      }
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val multi = spark.read.parquet(out)
      .groupBy(col("user_id"), col("event_type"))
      .agg(countDistinct(col("batch_id")).as("nb"))
      .filter(col("nb") > 1)
      .count()
    assert(multi > 0,
      "no key was updated across several triggers — the compaction path is vacuous")
  }

  test("chunked q71 update-mode day agg equals single-batch (memory sink retired)") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/root/testdata/sf0.001"
    val single = rows(SparkEntry.queries("q71_stream_replay")(spark, dir))
    val chunked = rows(graft.operators.StreamReplay
      .dayAggReplayChunked(spark, dir, nChunks = 6))
    assert(chunked == single,
      s"chunked day-agg diverged: only-single=${(single -- chunked).take(3)} " +
        s"only-chunked=${(chunked -- single).take(3)} " +
        s"(sizes ${single.size} vs ${chunked.size})")
    assert(single.nonEmpty, "fixture produced no day-window aggregates")
  }

  test("chunked q88 session-window output equals the single-batch replay") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/root/testdata/sf0.001"
    val single = rows(SparkEntry.queries("q88_stream_session_replay")(spark, dir))
    val chunked = rows(graft.operators.StreamReplay
      .sessionReplayChunked(spark, dir, nChunks = 6))
    assert(chunked == single,
      s"chunked session replay diverged: only-single=${(single -- chunked).take(3)} " +
        s"only-chunked=${(chunked -- single).take(3)} " +
        s"(sizes ${single.size} vs ${chunked.size})")
    assert(single.nonEmpty, "fixture produced no finalized sessions")
  }

  test("chunked q90 join→agg multi-stateful pipeline equals the single-batch replay") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/root/testdata/sf0.001"
    val single = rows(SparkEntry.queries("q90_stream_join_agg_replay")(spark, dir))
    val chunked = rows(graft.operators.StreamReplay
      .joinAggReplayChunked(spark, dir, nChunks = 6))
    assert(chunked == single,
      s"chunked join→agg diverged: only-single=${(single -- chunked).take(3)} " +
        s"only-chunked=${(chunked -- single).take(3)} " +
        s"(sizes ${single.size} vs ${chunked.size})")
    assert(single.nonEmpty, "fixture produced no finalized day windows")
  }

  test("chunked q92 timer-session rows equal the single-batch replay (modulo closed_by)") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/root/testdata/sf0.001"
    // closed_by is an emission-PATH observable: in the chunked
    // geometry a mid-stream watermark can fire a key's timer before
    // that user's next (≥ 8 h later) event arrives, labeling 'timer'
    // a session the single batch closes inline as 'gap'. The SESSION
    // ROWS themselves (who, when, how many, how much) must be
    // identical — that is the chunked==single pin; the label is
    // pinned only where it is well-defined (the registered
    // single-batch replay, hash-gated against the oracle).
    val singleDf = SparkEntry.queries("q92_timer_session_replay")(spark, dir)
    val single = rows(singleDf.drop("closed_by"))
    val chunkedDf = graft.operators.StreamReplay
      .timerSessionReplayChunked(spark, dir, nChunks = 6)
    val chunked = rows(chunkedDf.drop("closed_by"))
    assert(chunked == single,
      s"chunked timer-session replay diverged: only-single=${(single -- chunked).take(3)} " +
        s"only-chunked=${(chunked -- single).take(3)} " +
        s"(sizes ${single.size} vs ${chunked.size})")
    assert(single.nonEmpty, "fixture produced no closed sessions")
    // the capability under test must actually fire in both geometries
    assert(singleDf.filter(org.apache.spark.sql.functions.col("closed_by") === "timer")
      .limit(1).count() == 1, "no timer-closed session in the single-batch replay")
    assert(chunkedDf.filter(org.apache.spark.sql.functions.col("closed_by") === "timer")
      .limit(1).count() == 1, "no timer-closed session in the chunked replay")
  }

  test("q93 near-dup gate output is chunk-count invariant (1 vs 5 triggers)") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/root/testdata/sf0.001"
    // the registered query replays 4 chunks; pin the two extremes:
    // everything in ONE trigger (all within-stream pairs form inside
    // a single batch's group iterator) vs 5 triggers (pairs form
    // across state written by earlier triggers)
    val single = rows(graft.operators.StreamReplay.nearDupGateReplay(spark, dir, nChunks = 1))
    val chunked = rows(graft.operators.StreamReplay.nearDupGateReplay(spark, dir, nChunks = 5))
    assert(chunked == single,
      s"chunked near-dup gate diverged: only-single=${(single -- chunked).take(3)} " +
        s"only-chunked=${(chunked -- single).take(3)} " +
        s"(sizes ${single.size} vs ${chunked.size})")
    // both halves of the gate must actually fire in the fixture
    assert(single.exists(_.contains("|corpus|")), "no cross-corpus pair in fixture")
    assert(single.exists(_.contains("|stream|")), "no within-stream pair in fixture")
  }

  test("q94 txlog append is chunk-count invariant and the retry rule is idempotent") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/root/testdata/sf0.001"
    val single = rows(graft.operators.StreamReplay.streamIngestTxlogAppend(spark, dir, nChunks = 1))
    val chunked = rows(graft.operators.StreamReplay.streamIngestTxlogAppend(spark, dir, nChunks = 5))
    assert(chunked == single,
      s"chunked txlog append diverged: only-single=${(single -- chunked).take(3)} " +
        s"only-chunked=${(chunked -- single).take(3)} " +
        s"(sizes ${single.size} vs ${chunked.size})")
    assert(single.nonEmpty, "fixture produced no accepted docs")

    // the exactly-once rule as a measured fact: re-invoking the sink
    // body with an ALREADY-COMMITTED batch id (the crash-redelivery
    // case) must change neither the log nor the table
    val base = java.nio.file.Files.createTempDirectory("graft_q94_retry_")
    val files = base.resolve("files").toString
    val logDir = base.resolve("_log")
    java.nio.file.Files.createDirectories(logDir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(files))
    import spark.implicits._
    val b0 = Seq((1L, "src0", 0.9), (2L, "src1", 0.8))
      .toDF("doc_id", "source", "quality")
    graft.operators.StreamReplay.txAppendBatch(files, logDir)(b0, 0L)
    val after1 = rows(graft.operators.StreamReplay.readTxAppendTable(spark, files, logDir))
    // redelivery: same id, DIFFERENT frame — must be a no-op
    val b0retry = Seq((99L, "src0", 0.1)).toDF("doc_id", "source", "quality")
    graft.operators.StreamReplay.txAppendBatch(files, logDir)(b0retry, 0L)
    val after2 = rows(graft.operators.StreamReplay.readTxAppendTable(spark, files, logDir))
    assert(after2 == after1, "redelivered batch changed the table")
    // a genuinely new batch id still appends
    graft.operators.StreamReplay.txAppendBatch(files, logDir)(b0retry, 1L)
    val after3 = rows(graft.operators.StreamReplay.readTxAppendTable(spark, files, logDir))
    assert(after3.size == after1.size + 1, "new commit did not append")
  }

  test("chunked multi-batch q83 semi output equals the single-batch replay") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/root/testdata/sf0.001"
    val single = rows(SparkEntry.queries("q83_stream_semi_join_replay")(spark, dir))
    val chunked = rows(graft.operators.StreamReplay
      .semiJoinReplayChunked(spark, dir, nChunks = 6))
    assert(chunked == single,
      s"chunked semi replay diverged (sizes ${single.size} vs ${chunked.size})")
    assert(single.nonEmpty, "fixture produced no semi-joined rows")
  }
}
