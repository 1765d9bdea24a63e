package graft.operators

import graft.Q
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Streaming under the DuckDB oracle (round-1 verdict item 10): each
  * replay runs as an ACTUAL Structured Streaming job — file source
  * over the fixture parquet, AvailableNow trigger — and its result is
  * hash-compared to the independent batch SQL the oracle evaluates.
  * Streaming == batch replay is the strongest driver-visible
  * statement available for the streaming path (in-repo StreamingSpec
  * covers watermarks/late data, which no batch oracle can express).
  *
  * Sink discipline (round-10): every append-mode replay writes
  * PER-MICROBATCH TO A PARQUET FILE SINK and reads the committed
  * result back as a distributed frame ([[fileSinkReplay]]) — the
  * production deployment shape. The previous `format("memory")`
  * harness funneled the complete result through driver memory and was
  * the repo's only super-linear scale term on record (q77 15.3× at
  * sf10→sf100; q75's sf10 run needed a driver.maxResultSize bump) —
  * the operators were scale-safe, the verification plan was not.
  * Aggregates that previously needed complete mode (q71) now run in
  * UPDATE mode through the idempotent foreachBatch merge sink
  * ([[updateLogCompactReplay]]) — zero memory sinks remain: every
  * replay's output lands on a real distributed sink.
  *
  * The presentation `orderBy` the oracle contract needs runs on the
  * read-back DISTRIBUTED frame (a range-partitioned sort, the same
  * shape every batch query ends with), never on driver-collected
  * rows. Decimal sums / set-valued outputs keep every replay
  * microbatch-order-independent, so the nondeterministic
  * microbatch/partition order cannot change a bit.
  */
object StreamReplay {

  /** Per-run replay temp directory under java.io.tmpdir (or
    * SPARK_GRAFT_REPLAY_DIR), removed on JVM exit — the ONE place
    * that owns root resolution + the cleanup hook (review r11: three
    * inline copies had accumulated).
    */
  private[graft] def tempReplayDir(name: String): java.nio.file.Path = {
    val root = sys.env.get("SPARK_GRAFT_REPLAY_DIR")
      .map(java.nio.file.Paths.get(_))
      .getOrElse(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
    java.nio.file.Files.createDirectories(root)
    val base = java.nio.file.Files.createTempDirectory(root, s"graft_${name}_")
    cleanupOnExit(base)
    base
  }

  /** Runs an append-mode streaming frame to completion against a
    * PARQUET file sink and returns the committed result as a
    * distributed read-back frame.
    *
    * Shape notes for 100 TB: the sink appends one set of part files
    * per microbatch under an exactly-once commit log
    * (`_spark_metadata` — the batch reader consults it and ignores
    * uncommitted files, so a crashed trigger can't leak partial
    * output into the comparison); nothing ever moves through the
    * driver. The read-back uses the streaming frame's own schema —
    * inference over an output directory would re-derive nullability
    * from whichever part file is listed first.
    *
    * The sink+checkpoint directories live under java.io.tmpdir (or
    * SPARK_GRAFT_REPLAY_DIR) and are removed on JVM exit — per-run
    * temp space, like any CI artifact dir. Production would point
    * this at a durable store path and keep the checkpoint for
    * restart; the plan is identical. `settings` are confs this replay
    * alone needs (the RocksDB provider), scoped to the run.
    */
  private[graft] def fileSinkReplay(s: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame, name: String,
      settings: (String, String)*): org.apache.spark.sql.DataFrame = {
    val base = tempReplayDir(name)
    val out = base.resolve("out").toString
    withStatePartitions(s, settings: _*) {
      val query = df.writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      query.awaitTermination()
    }
    s.read.schema(df.schema).parquet(out)
  }

  /** Recursive-delete shutdown hook for replay temp dirs (File
    * .deleteOnExit can't remove non-empty directories). Registered
    * per directory; deletion failures are ignored — tmpdir hygiene,
    * not correctness.
    */
  private def cleanupOnExit(dir: java.nio.file.Path): Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(p: java.io.File): Unit = {
        if (p.isDirectory) Option(p.listFiles()).getOrElse(Array.empty).foreach(rm)
        p.delete(): Unit
      }
      rm(dir.toFile)
    }))

  /** Streaming parquet source over `$dir/<table>.parquet`, robust to
    * BOTH physical layouts the table ships in: the driver fixture
    * writes a single FILE (which the file-stream source rejects as a
    * direct path — "basePath must be a directory" — so that layout
    * needs dir + name glob), while ScaleGen and any production writer
    * emit a DIRECTORY of part files (which the name glob silently
    * excluded, yielding an EMPTY stream with zero errors — caught by
    * the round-8 streaming scale probe). Branch on what is actually
    * on disk; a missing table fails loudly instead of streaming
    * nothing.
    */
  private[graft] def tableStream(s: org.apache.spark.sql.SparkSession, d: String,
      table: String, schema: StructType): org.apache.spark.sql.DataFrame = {
    val path = new java.io.File(d, s"$table.parquet")
    require(path.exists(), s"streaming source: $path does not exist")
    recordSourceBytes(s, path)
    if (path.isDirectory) s.readStream.schema(schema).parquet(path.toString)
    else s.readStream.schema(schema)
      .option("pathGlobFilter", s"$table.parquet").parquet(d)
  }

  /** Source-size handoff from the stream constructors to the replay
    * starters (below): queries build their source then start through
    * [[fileSinkReplay]]/[[drainCount]] in the same sequential call
    * chain, so a session conf carries the byte size across.
    */
  private val SourceBytesKey = "graft.replay.source_bytes"

  private[graft] def recordSourceBytes(s: org.apache.spark.sql.SparkSession,
      f: java.io.File): Unit = {
    val bytes =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).map(_.length()).sum
      else f.length()
    // ACCUMULATE rather than overwrite: a stream-stream join replay
    // constructs two sources before starting, and last-writer-wins
    // would size its state partitions from only one input's bytes.
    // The accumulator is cleared when the replay that consumes it
    // finishes (withStatePartitions' finally). One window remains: a
    // query that throws AFTER building a source but BEFORE entering
    // withStatePartitions leaves its bytes behind, mildly inflating
    // the NEXT replay's derived partition count — perf-only, and only
    // on an already-failing path, so we accept it rather than thread
    // a per-query token through every source constructor.
    val prev = s.conf.getOption(SourceBytesKey).map(_.toLong).getOrElse(0L)
    s.conf.set(SourceBytesKey, (prev + bytes).toString)
  }

  /** STATE-PARTITION RIGHT-SIZING for the replay harness (round-13):
    * a stateful micro-batch pays a fixed per-state-store term on
    * every batch — and Spark SERIALIZES state-store provider loading
    * on a per-executor lock, so the cost scales with partitions, not
    * cores (measured on q83's two-store-pair join at local[32], sf0.1:
    * 16.5 s at 32 shuffle partitions vs 5.0 s at 8 with cores FIXED;
    * the stateless q77 is flat). AQE right-sizes batch shuffles at
    * runtime but cannot touch streaming state partitioning (it is
    * PINNED into the checkpoint at the first batch) — so the replay
    * starters derive it from the SOURCE size instead: one state
    * partition per 8 MB of source, saturating at the session's
    * parallelism. At fixture scale this stops 100 k events from
    * paying 32 serialized provider loads per operator per batch; at
    * the decade probes and beyond it saturates to the old value, and
    * a real deployment sizes state partitions to state, exactly this
    * curve. Fresh checkpoints per replay make the derivation safe
    * (nothing resumes across corpus sizes).
    */
  private[graft] def stateShufflePartitions(s: org.apache.spark.sql.SparkSession): Int = {
    val bytes = s.conf.getOption(SourceBytesKey).map(_.toLong)
      .getOrElse(Long.MaxValue)
    val cap = s.sparkContext.defaultParallelism
    math.max(1, math.min(cap, math.ceil(bytes / (8 << 20).toDouble).toInt))
  }

  /** Runs `body` (a streaming query start + awaitTermination) under
    * the derived state-partition count, the fixed-cost confs and any
    * replay-specific `settings`, restoring the session's conf
    * afterwards so batch queries and the NEXT replay see their own.
    */
  private def withStatePartitions[T](s: org.apache.spark.sql.SparkSession,
      settings: (String, String)*)(body: => T): T = {
    val scoped = ("spark.sql.shuffle.partitions" -> stateShufflePartitions(s).toString) +:
      (replayFixedCostConfs ++ settings)
    // consume-and-clear the source-bytes accumulator: the NEXT
    // replay's sources start from zero (see recordSourceBytes).
    try graft.Runeset.withConf(s, scoped: _*)(body)
    finally s.conf.unset(SourceBytesKey)
  }

  /** MICRO-BATCH FIXED-COST confs scoped to each replay (r16, r15
    * verdict item 4 — attack per-trigger constant factors without
    * touching trigger counts or semantics):
    *
    *  - `checkpoint.fileChecksum.enabled=false`: Spark 4.1 writes AND
    *    verifies a sibling `.checksum` file for every checkpoint file
    *    (offset log, commit log, state deltas/snapshots, sink
    *    metadata) — corruption detection for long-lived production
    *    checkpoints. The replays run against per-process THROWAWAY
    *    checkpoints (fresh temp dir per run, deleted on exit), where
    *    the checksum is pure per-trigger metadata I/O: ~2× the
    *    checkpoint file count, several files per trigger per store.
    *    Results are byte-identical (it is an integrity check, not a
    *    semantic setting); a production deployment with durable
    *    checkpoints keeps it on.
    *  - `stateStore.maintenanceInterval=600s`: the 60 s default wakes
    *    the maintenance pool mid-sweep to snapshot/clean state stores
    *    belonging to ALREADY-FINISHED replays (every query uses a
    *    fresh checkpoint, so a process accumulates dead providers);
    *    the work races the measured queries for cores. 600 s pushes it
    *    past any single replay's lifetime without disabling the
    *    mechanism.
    */
  private val replayFixedCostConfs = Seq(
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
    "spark.sql.streaming.stateStore.maintenanceInterval" -> "600s")

  /** transformWithState requires the RocksDB provider (column
    * families); the replays that use it pass this to [[fileSinkReplay]].
    */
  private[graft] val RocksDbStateStore = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Streaming file source over the events table. The streaming
    * reader needs an explicit schema — and round 6 proved a
    * hand-written one is a silent-wrong-answer machine: forcing
    * `ts: LongType` against a TIMESTAMP(MICROS) fixture handed back
    * raw µs integers that the ns→µs truncation then compressed
    * 1000×, folding 30 days of events into ~43 minutes with no
    * error anywhere. So the schema comes from the batch footer (the
    * same pattern q76/q77 use for documents) and `ts` goes through
    * the exact typed branch `Tables.events` uses ([[graft.Tables.normalizeTs]]).
    * [[assertEventsEra]] pins the decoded range so a future unit
    * mix-up fails loudly instead of plausibly.
    */
  private def eventsStream(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    assertEventsEra(s, d)
    val rawSchema = graft.Tables.eventsRawFrame(s, d).schema
    graft.Tables.normalizeTs(tableStream(s, d, "events", rawSchema))
  }

  /** Fixture-era guard: require the decoded ts range to land in a
    * plausible era. A ns↔µs mix-up shifts every timestamp 1000× (to
    * 1970, or to year ~56000) — this turns that whole bug class from
    * plausible-wrong-rows into a loud failure.
    *
    * The range comes from the parquet FOOTER column statistics (each
    * row group's int64 min/max for `ts`), so the guard costs a
    * metadata read, not a table scan — the previous full min/max
    * aggregate silently taxed whichever streaming query ran first in
    * a JVM and made per-query bench numbers order-dependent (round-7
    * verdict). The raw stat is interpreted through the SAME branch as
    * [[graft.Tables.normalizeTs]]: a LongType decode means the column
    * is TIMESTAMP(NANOS) read raw (stat unit ns); a timestamp decode
    * means MICROS (stat unit µs). Stats-free files (legal parquet)
    * fall back to the aggregate.
    *
    * A passed check is an [[graft.Artifact]]: every replay of the
    * same fixture generation would repeat it, and the memo records
    * only a pass, so a failing fixture fails on every call.
    */
  private val eventsEra = graft.Artifact[Unit]("events_era")
  private[graft] def assertEventsEra(s: org.apache.spark.sql.SparkSession, d: String): Unit =
    eventsEra.memo(d, "events") {
      val src = new java.io.File(s"$d/events.parquet")
      val rawIsNanos = graft.Tables.eventsRawFrame(s, d).schema("ts").dataType ==
        org.apache.spark.sql.types.LongType
      val (lo, hi) = footerTsRange(s, src, rawIsNanos).getOrElse {
        val r = graft.Tables.events(s, d).agg(
          year(min(col("ts"))).as("lo"), year(max(col("ts"))).as("hi")).head()
        (r.getInt(0), r.getInt(1))
      }
      require(lo >= 2000 && hi <= 2100,
        s"events.ts decoded to years $lo..$hi — timestamp unit mix-up in the reader?")
    }

  /** Min/max year of the raw int64 `ts` column across every row group
    * of every part file, from footer statistics only. None if any
    * file/row group lacks usable stats (caller falls back to a scan).
    */
  private def footerTsRange(s: org.apache.spark.sql.SparkSession,
      src: java.io.File, rawIsNanos: Boolean): Option[(Int, Int)] = {
    import scala.jdk.CollectionConverters._
    val parts =
      if (src.isFile) Seq(src)
      else Option(src.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq
        .filter(f => f.isFile && f.getName.endsWith(".parquet") &&
          !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    if (parts.isEmpty) return None
    val conf = s.sessionState.newHadoopConf()
    var lo = Long.MaxValue
    var hi = Long.MinValue
    val ok = parts.forall { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try reader.getFooter.getBlocks.asScala.forall { block =>
        block.getColumns.asScala.find(_.getPath.toDotString == "ts") match {
          case Some(cc) =>
            val st = cc.getStatistics
            if (st == null || st.isEmpty || !st.hasNonNullValue) false
            else (st.genericGetMin, st.genericGetMax) match {
              case (mn: java.lang.Long, mx: java.lang.Long) =>
                lo = math.min(lo, mn); hi = math.max(hi, mx); true
              case _ => false
            }
          case None => false
        }
      } finally reader.close()
    }
    if (!ok || lo > hi) None
    else {
      // to seconds first (year granularity): a garbage µs value ×1000
      // would overflow a ns Long before the guard could flag it
      val perSec = if (rawIsNanos) 1000000000L else 1000000L
      def yearOf(raw: Long): Int = java.time.Instant
        .ofEpochSecond(Math.floorDiv(raw, perSec))
        .atOffset(java.time.ZoneOffset.UTC).getYear
      Some((yearOf(lo), yearOf(hi)))
    }
  }

  /** The q71 kernel both geometries share: the windowed (day ×
    * event_type) count/decimal-sum, run in UPDATE mode through the
    * idempotent foreachBatch merge sink. q71 originally used
    * complete mode + the memory sink — the repo's LAST memory sink,
    * defensible only because the result is key-space-bounded; q86's
    * update-mode log-compact pattern expresses the same bounded
    * aggregate against a real distributed sink (each trigger emits
    * only the changed windows; the final emission per key IS its
    * total because no later event touched it), so the memory sink is
    * now retired repo-wide.
    */
  private[graft] def dayAggReplay(s: org.apache.spark.sql.SparkSession,
      src: org.apache.spark.sql.DataFrame, name: String): org.apache.spark.sql.DataFrame = {
    val agg = src
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(Exact.d2(col("value"))).cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
    updateLogCompactReplay(s, agg, Seq("window_start", "event_type"), name)
      .orderBy(col("window_start"), col("event_type"))
  }

  val q71StreamReplay = Q(
    "q71_stream_replay",
    """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
      |       event_type,
      |       count(*) AS n,
      |       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY window_start, event_type""".stripMargin
  ) { (s, d) =>
    dayAggReplay(s, eventsStream(s, d), "q71")
  }

  /** [[orderedEventsChunkStream]]'s geometry for q71 — windows
    * straddling chunk boundaries re-emit across triggers, so the
    * batch_id compaction is exercised on the decimal-sum aggregate
    * too (StreamChunkedReplaySpec pins chunked == single-batch).
    */
  private[graft] def dayAggReplayChunked(s: org.apache.spark.sql.SparkSession,
      d: String, nChunks: Int): org.apache.spark.sql.DataFrame =
    dayAggReplay(s, orderedEventsChunkStream(s, d, nChunks), "chunked_dayagg")

  /** Sessionization: per-user session windows with an 8-hour
    * inactivity gap, via Spark's native `session_window` (the same
    * Catalyst operator the streaming path uses — StreamingSpec drives
    * it under a watermark; here batch mode makes it oracle-checkable).
    * The DuckDB spelling is the classic gaps-and-islands rewrite:
    * sessions break where `ts - lag(ts) >= gap`, which is exactly
    * Spark's merge rule (events merge while next.start < last.end =
    * last.ts + gap; µs timestamps compare exactly in both engines).
    * session_end is last event + gap, matching session_window.end.
    *
    * Scale notes: state is keyed by user_id — the shuffle partitions
    * by user, sessions never cross keys, and the window sort is
    * per-user local. The 8 h gap sits between the corpus's p50 and
    * p90 inter-event gaps, so both merges and breaks are exercised.
    */
  val q72Sessionize = Q(
    "q72_sessionize",
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
      |), marked AS (
      |  SELECT user_id, ts, value,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |                OR ts - lag(ts) OVER w >= INTERVAL 8 HOUR THEN 1 ELSE 0 END AS is_new
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      |), numbered AS (
      |  SELECT user_id, ts, value,
      |         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
      |                           ROWS UNBOUNDED PRECEDING) AS sess
      |  FROM marked
      |)
      |SELECT user_id,
      |       min(ts) AS session_start,
      |       max(ts) + INTERVAL 8 HOUR AS session_end,
      |       count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM numbered
      |GROUP BY user_id, sess
      |ORDER BY user_id, session_start""".stripMargin
  ) { (s, d) =>
    graft.Tables.events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "8 hours").as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(Exact.d2(col("value"))).cast("double").as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Stream-stream join under the oracle: view→purchase attribution
    * (purchases within 12 h of a view by the same user) runs as an
    * ACTUAL two-stream inner join — two file sources over the same
    * events table, append-mode memory sink, AvailableNow — and is
    * hash-compared to the independent batch join the oracle runs.
    * Inner stream-stream joins buffer both sides' state and emit on
    * match, so the complete replay equals the batch join exactly; no
    * watermark is declared on purpose (state cleanup would be the
    * production knob — StreamingSpec covers the watermarked variant;
    * here unbounded retention makes replay == batch provable).
    *
    * Scale notes: the join state is keyed by user_id — Spark
    * partitions both sides by the equi-key, so state and matching
    * stay node-local; the time-interval condition bounds each probe.
    */
  val q73StreamJoinReplay = Q(
    "q73_stream_join_replay",
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
      |)
      |SELECT a.user_id,
      |       a.event_id AS view_id, b.event_id AS purchase_id,
      |       a.ts AS view_ts, b.ts AS purchase_ts
      |FROM e a JOIN e b
      |  ON a.user_id = b.user_id
      | AND a.event_type = 'view' AND b.event_type = 'purchase'
      | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 12 HOUR
      |ORDER BY a.user_id, view_id, purchase_id""".stripMargin
  ) { (s, d) => {
    def side(eventType: String, prefix: String) =
      eventsStream(s, d)
        .filter(col("event_type") === eventType)
        .select(col("user_id").as(s"${prefix}_user"),
          col("event_id").as(s"${prefix}_id"), col("ts").as(s"${prefix}_ts"))
    val joined = side("view", "view").join(side("purchase", "purchase"),
      col("view_user") === col("purchase_user")
        && col("purchase_ts") >= col("view_ts")
        && col("purchase_ts") <= col("view_ts") + expr("INTERVAL 12 HOURS"))
      .select(col("view_user").as("user_id"), col("view_id"), col("purchase_id"),
        col("view_ts"), col("purchase_ts"))
    fileSinkReplay(s, joined, "q73")
      .orderBy(col("user_id"), col("view_id"), col("purchase_id"))
  } }

  /** Streaming dedup under the oracle: `dropDuplicates` over a
    * key-only projection (user_id, event_type) — the state is the
    * seen-key set, and because the row IS the key, whichever arrival
    * wins the race produces the same output row, so the append-mode
    * replay equals batch DISTINCT deterministically. (Keeping
    * non-key columns would make "first seen" arrival-order-dependent.)
    * State here is UNBOUNDED — the production TTL variant
    * (`dropDuplicatesWithinWatermark`) is q85, whose day-bucketed key
    * construction makes even the bounded-state operator batch-
    * expressible.
    */
  val q74StreamDedupReplay = Q(
    "q74_stream_dedup_replay",
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin
  ) { (s, d) => {
    val deduped = eventsStream(s, d)
      .select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type")
    fileSinkReplay(s, deduped, "q74")
      .orderBy(col("user_id"), col("event_type"))
  } }

  /** The reference's ACTUAL deployment shape — events stream through
    * a spell continuously (§2A T1/T2 in the streaming dimension, not
    * just q04's batch replay): `SpellEngine.castAllColumnar`, the
    * very same engine function q04 runs in batch, executes INSIDE a
    * Structured Streaming job (cast loops are per-seed independent,
    * so the narrow mapPartitions is a legal stateless streaming
    * transform), append-mode memory sink, AvailableNow trigger. The
    * oracle replays the loop with q04's recursive CTE — so streaming
    * execution, batch execution, and an independent relational
    * evaluation all hash-agree on every hop of every feedback loop.
    *
    * Scale notes: stateless 1→N map per micro-batch — no streaming
    * state at all, arbitrarily parallel; the memory sink is the test
    * harness (production = per-microbatch real sink), result size
    * oracle-bounded. StreamingSpec drives the same pipeline through
    * a multi-batch MemoryStream to pin batch-boundary independence.
    */
  val q75StreamCastReplay = Q(
    "q75_stream_cast_replay",
    """WITH RECURSIVE hops AS (
      |  SELECT event_id, 0 AS hop, value FROM events
      |  UNION ALL
      |  SELECT event_id, hop + 1, value / 2 FROM hops
      |  WHERE value > 1 AND NOT isnan(value) AND hop < 1000
      |)
      |SELECT event_id, hop, value FROM hops
      |WHERE hop >= 1
      |ORDER BY event_id, hop""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val seeds = eventsStream(s, d).select(col("event_id"), col("value"))
      .as[(java.lang.Long, java.lang.Double)]
    val hops = SpellQueries.castEvents(seeds).toDF("event_id", "hop", "value")
    fileSinkReplay(s, hops, "q75").orderBy(col("event_id"), col("hop"))
  }

  /** STREAM-STATIC join under the oracle — the one join shape q73's
    * stream-stream replay doesn't cover, and the shape a streaming
    * decontamination guard actually uses: documents arrive as a
    * stream, each explodes its winnowing fingerprints map-side
    * (d09's WinnowMins kernel — a stateless per-row projection, fine
    * in append mode), and the stream inner-joins the STATIC
    * benchmark-fingerprint table built in batch from the p01-style
    * 5% sample. Emitted rows are (doc_id, fp) contamination hits for
    * non-benchmark docs — what a live ingest pipeline would route to
    * quarantine. Stream-static inner joins need no watermark and no
    * state (the static side is just re-read per microbatch — Spark
    * broadcasts it when small, exactly like the batch plan), so the
    * append-mode replay equals the batch join row-for-row
    * deterministically.
    *
    * Scale shape: the stream side never shuffles — fingerprints are
    * a per-row kernel projection and the join side is a broadcast;
    * state is ZERO (contrast q73's per-user join state). The static
    * side is benchmark-sized by definition.
    */
  val q76StreamStaticJoin = Q(
    "q76_stream_static_join",
    { val gs = graft.functions.TextVec.sqlGramHashes16("string_split(text, ' ')")
      val isBench = "substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '0ccd'"
      s"""WITH g AS (
         |  SELECT doc_id, $gs AS gs FROM documents
         |), f AS (
         |  SELECT doc_id, ${graft.functions.TextVec.sqlWinnowOfGs("gs")} AS fps FROM g
         |), x AS (
         |  SELECT doc_id, unnest(fps) AS fp FROM f
         |), bench AS (
         |  SELECT DISTINCT fp AS bfp FROM x WHERE $isBench
         |)
         |SELECT x.doc_id, x.fp
         |FROM x JOIN bench b ON x.fp = b.bfp
         |WHERE NOT ($isBench)
         |ORDER BY doc_id, fp""".stripMargin }
  ) { (s, d) =>
    import graft.functions.TextVec.{tokens, winnow16}
    val isBench = substring(md5(col("doc_id").cast("string")), 1, 4) < "0ccd"
    // static side: the benchmark sample's fingerprint set, batch-built
    val benchFps = graft.Tables.documents(s, d)
      .filter(isBench)
      .select(explode(winnow16(tokens(col("text")))).as("fp"))
      .distinct()
    // reuse the batch reader's schema — an inline copy would silently
    // read nulls if the fixture ever gained or retyped a column
    // (exactly how the hand-written events schema broke in round 6)
    val docsSchema = graft.Tables.documents(s, d).schema
    val hits = tableStream(s, d, "documents", docsSchema)
      .filter(!isBench)
      .select(col("doc_id"), explode(winnow16(tokens(col("text")))).as("fp"))
      .join(broadcast(benchFps), "fp")
      .select(col("doc_id"), col("fp"))
    fileSinkReplay(s, hits, "q76").orderBy(col("doc_id"), col("fp"))
  }

  /** STREAMING chunking — c08's RAG-ingestion chunker run as an
    * actual Structured Streaming job (file source → the SAME
    * `Curation.chunkFrame` 1→N explode → append sink), hash-matched
    * to c08's batch oracle. This is the shape a live ingestion
    * pipeline runs: documents arrive, chunks + content hashes leave,
    * no state, no watermark — the stateless-transform streaming tier
    * below q71/q72's stateful aggregations. Identical results under
    * micro-batching prove the chunk projection is truly per-row.
    */
  val q77StreamChunkReplay = Q(
    "q77_stream_chunk_replay",
    graft.operators.Curation.c08ChunkOverlap.sql.get
  ) { (s, d) =>
    val docsSchema = graft.Tables.documents(s, d).schema
    val chunks = graft.operators.Curation.chunkFrame(
      tableStream(s, d, "documents", docsSchema))
    fileSinkReplay(s, chunks, "q77").orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** STREAMING-STATEFUL ingest gate — c09's incremental-ingest
    * verdict as an actual stateful streaming job: the standing
    * corpus's content hashes load into DURABLE KEYED STATE
    * (transformWithState + RocksDB — see IngestGateProcessor's
    * Scaladoc for why keyed state, not a broadcast, is the 100 TB
    * shape), the incoming shard (src0/src1) arrives as a file-source
    * stream keyed by content hash, and every doc gets its verdict
    * from a local state probe. Hash-matched to c09's batch oracle
    * verbatim; StreamingSpec additionally pins stop → resume-from-
    * checkpoint on the gate (state recovered from RocksDB, initial
    * state NOT reapplied).
    *
    * The near-dup fingerprint side stays a batch-precomputed
    * broadcast (the streaming fingerprint join is q76's replay; the
    * capability under test HERE is the keyed exact-membership state).
    */
  val q78StreamIngestGate = Q(
    "q78_stream_ingest_gate",
    Curation.c09IncrementalIngest.sql.get
  ) { (s, d) =>
    import s.implicits._
    import graft.streaming.{CorpusHash, IngestDoc, IngestGate}
    val shard = Seq("src0", "src1")
    val docs = graft.Tables.documents(s, d)
    // batch-precomputed corpus sides (content-hash set for the keyed
    // state, winnow-thinned near-dup doc ids for the broadcast), read
    // from the shared materialized artifact (see gateBatchSides)
    val (corpHash, ndIds) = gateBatchSides(s, d)
    val corpusHashes = corpHash.as[CorpusHash]
    val ndDocIds = ndIds.withColumn("nd_hit_raw", lit(true))
    val incoming = tableStream(s, d, "documents", docs.schema)
      .filter(col("source").isin(shard: _*))
      .select(col("doc_id"), col("source"),
        Curation.sparkQuality.as("quality"), md5(col("text")).as("h"))
      .join(broadcast(ndDocIds), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("quality"), col("h"),
        coalesce(col("nd_hit_raw"), lit(false)).as("nd_hit"))
      .as[IngestDoc]
    val verdicts = IngestGate.gate(incoming, corpusHashes)
    fileSinkReplay(s, verdicts.toDF(), "q78", RocksDbStateStore)
      .select(col("doc_id"), col("source"), col("quality"), col("verdict"))
      .orderBy(col("doc_id"))
  }

  /** q79's per-doc scorer — t15's integer-bit recurrence in plain
    * Scala: `split(" ", -1)` is both engines' trailing-empty-keeping
    * tokenization, `63 − numberOfLeadingZeros` is
    * `length(bin(n)) − 1`, and the bits/threshold algebra mirrors
    * t15 term for term (StreamingSpec pins the edge cases; the
    * corpus-wide equality is pinned by q79 hash-matching t15's
    * DuckDB oracle).
    */
  private[graft] def scoreLm(
      cb: scala.collection.Map[String, Long],
      cu: scala.collection.Map[String, Long],
      v: Long, id: Long, text: String): (Long, Long, Long, Double, Int) = {
    def flog2(n: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(n)
    val tk = if (text == null) Array.empty[String] else text.split(" ", -1)
    var total = 0L
    var n = 0L
    var i = 0
    while (i < tk.length - 1) {
      val w1 = tk(i)
      val g = w1 + " " + tk(i + 1)
      total += flog2(cu.getOrElse(w1, 0L) + v) - flog2(cb.getOrElse(g, 0L) + 1L)
      n += 1
      i += 1
    }
    val bpt = if (n == 0) 0.0 else total.toDouble / n
    val keep = if (n > 0 && total * 10 <= n * 45) 1 else 0
    (id, n, total, bpt, keep)
  }

  /** STREAMING LM-QUALITY GATE — t15's CCNet-style perplexity filter
    * run the way CCNet actually deploys it: the bigram model is
    * trained OFFLINE in batch from the reference slice, shipped to
    * every executor as a broadcast (the model is reference-corpus-
    * sized — Wikipedia-scale, compact by construction; the
    * model-sized driver collect here is the same category as
    * AnnKmeans' centroid collect), and every ARRIVING document is
    * scored locally in a stateless narrow mapPartitions — zero
    * shuffle, zero streaming state, append mode (q75's legality
    * argument: per-doc scoring is row-independent). The Scala scorer
    * reproduces t15's integer bits EXACTLY (floor-log2 via
    * numberOfLeadingZeros == length(bin(n))−1; split(" ", -1)
    * matches both engines' trailing-empty-keeping split), so the
    * streaming run hash-matches t15's batch DuckDB oracle verbatim —
    * streaming execution, batch execution, and the independent
    * relational spelling all agree on every doc's bit cost.
    */
  val q79StreamLmGate = Q(
    "q79_stream_lm_gate",
    graft.operators.TextAnalysis.t15NgramPerplexity.sql.get
  ) { (s, d) => {
    import s.implicits._
    import graft.functions.TextVec.tokens
    val docs = graft.Tables.documents(s, d)
    val ref = docs.filter(col("doc_id") % 2 === 0)
    val vocabV = ref.select(explode(tokens(col("text"))).as("tok"))
      .agg(count_distinct(col("tok"))).head().getLong(0)
    val cbRows = ref
      .select(explode(graft.functions.WordGramsMulti(tokens(col("text")), 2)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("cb"))
      .collect() // model-sized: bounded by the reference slice's bigram vocab
    val cbM = new scala.collection.mutable.HashMap[String, Long]()
    val cuM = new scala.collection.mutable.HashMap[String, Long]()
    cbRows.foreach { r =>
      val g = r.getString(0); val c = r.getLong(1)
      cbM.update(g, c)
      val w1 = g.substring(0, g.indexOf(' '))
      cuM.update(w1, cuM.getOrElse(w1, 0L) + c)
    }
    val bc = s.sparkContext.broadcast((cbM, cuM, vocabV))
    val docsSchema = docs.schema
    val scored = tableStream(s, d, "documents", docsSchema)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val (cb, cu, v) = bc.value
        it.map { case (id, text) => scoreLm(cb, cu, v, id, text) }
      }.toDF("doc_id", "n_bigrams", "total_bits", "bits_per_token", "keep")
    fileSinkReplay(s, scored, "q79").orderBy(col("doc_id"))
  } }

  /** STREAMING URL-frontier gate — c16's canonicalize-then-dedup as
    * a live crawl frontier: documents arrive as a file-source
    * stream, each derives its (messy) raw URL and canonicalizes
    * per-partition with the REAL RFC 3986 machinery
    * ([[graft.functions.UrlCanon]] — stateless, zero shuffle, the
    * q79 deployment shape), then `dropDuplicates` on the canonical
    * URL holds the SEEN set in keyed state — the frontier's "have I
    * scheduled this URL" table, sharded by URL key across executors
    * exactly like q78's corpus hashes (too big to broadcast at crawl
    * scale). Output is the DISTINCT canonical URL set with its
    * host/domain — a SET, so micro-batch arrival order cannot leak
    * into the result (the q74 discipline: the emitted row is fully
    * determined by its key), and the DuckDB oracle predicts it
    * algebraically from c16's residue classes. No watermark: a
    * frontier's seen-set is permanent state by design (production
    * ages it by checkpoint compaction, not event time).
    */
  val q80StreamUrlGate = Q(
    "q80_stream_url_gate",
    """WITH u AS (
      |  SELECT DISTINCT
      |    'http://www.site' || (doc_id % 10) || '.com' ||
      |    CASE WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END ||
      |    '/a/c/page' || (doc_id % 50) || '.HTML?a=' || (doc_id % 5) || '&z=1'
      |      AS canon_url,
      |    'www.site' || (doc_id % 10) || '.com' AS host,
      |    'site' || (doc_id % 10) || '.com' AS domain
      |  FROM documents
      |)
      |SELECT canon_url, host, domain FROM u
      |ORDER BY canon_url""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    import graft.functions.UrlCanon
    val docsSchema = graft.Tables.documents(s, d).schema
    val frontier = tableStream(s, d, "documents", docsSchema)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val scheme = (id % 3) match {
          case 0 => "HTTP"; case 1 => "http"; case _ => "Http"
        }
        val port = (id % 3) match {
          case 0 => ":80"; case 1 => ":8080"; case _ => ""
        }
        val raw = s"$scheme://WWW.Site${id % 10}.COM$port" +
          s"/a/./b${id % 5}/../c/page${id % 50}.HTML?z=1&a=${id % 5}#sec$id"
        val canon = UrlCanon.canonicalize(raw)
        val host = UrlCanon.hostOf(canon)
        (canon, host, UrlCanon.registeredDomain(host))
      })
      .toDF("canon_url", "host", "domain")
      .dropDuplicates("canon_url")
    fileSinkReplay(s, frontier, "q80").orderBy(col("canon_url"))
  }

  /** WATERMARKED windowed top-k under the oracle — the first query to
    * make WATERMARK semantics itself oracle-checkable (StreamingSpec
    * drives watermarks in-memory; every prior replay avoided them
    * because append-mode aggregation output depends on the watermark,
    * which no plain batch SQL "sees"). The key observation: with a
    * 0-second delay, the windows an AvailableNow replay EMITS are
    * exactly those whose end ≤ max event time — an algebraic
    * predicate the batch oracle can apply (`window_start + 1 day ≤
    * max(ts)`). So the streaming run exercises the real
    * append-mode machinery — watermark tracking, state finalization,
    * the trailing open window staying IN state and out of the output
    * — and the oracle still predicts every row.
    *
    * The top-k rank runs as a BATCH window over the replay's emitted
    * (file-sink, distributed) frame: a live dashboard would do the
    * same — rank per closed window once it finalizes. State is
    * (window × event_type) counts — bounded keys, the q71 shape; the
    * sink is [[fileSinkReplay]], nothing through the driver.
    */
  val q81StreamTopkReplay = Q(
    "q81_stream_topk_replay",
    """WITH mx AS (SELECT max(CAST(ts AS TIMESTAMP)) AS m FROM events),
      |agg AS (
      |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
      |         event_type, count(*) AS n
      |  FROM events GROUP BY 1, 2
      |), closed AS (
      |  SELECT a.* FROM agg a, mx
      |  WHERE a.window_start + INTERVAL 1 DAY <= mx.m
      |), ranked AS (
      |  SELECT window_start, event_type, n,
      |         row_number() OVER (PARTITION BY window_start
      |                            ORDER BY n DESC, event_type) AS rk
      |  FROM closed
      |)
      |SELECT window_start, rk, event_type, n FROM ranked
      |WHERE rk <= 3
      |ORDER BY window_start, rk""".stripMargin
  ) { (s, d) => {
    val agg = eventsStream(s, d)
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))
    val emitted = fileSinkReplay(s, agg, "q81")
    val byWindow = org.apache.spark.sql.expressions.Window
      .partitionBy(col("window_start"))
      .orderBy(col("n").desc, col("event_type"))
    emitted
      .withColumn("rk", row_number().over(byWindow).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("window_start"), col("rk"), col("event_type"), col("n"))
      .orderBy(col("window_start"), col("rk"))
  } }

  /** STREAM-STREAM LEFT OUTER join under the oracle — the emission
    * semantics q73's inner join can't exercise: an unmatched view
    * emits (with null purchase columns) only when the WATERMARK
    * proves no future purchase can match it (view_ts + 12 h behind
    * the watermark → state evicted, null row emitted). q81's
    * observation makes this oracle-checkable, with one two-stream
    * refinement: the query's global watermark is the MIN over both
    * watermark nodes — `least(max view ts, max purchase ts)`, not the
    * overall max (the initial max(ts) spelling missed exactly the
    * unmatched views whose window closed between the two sides'
    * maxima — one row at sf0.01, caught by the hash gate). So the
    * emitted set is matched pairs ∪ unmatched views whose join window
    * closed before that two-sided watermark; trailing unmatched views
    * stay IN state and OUT of the output, exactly what the batch
    * spelling's `v.ts + 12 h < least(...)` predicate encodes.
    *
    * Determinism note (applies to every watermarked replay, q81
    * included): the fixture replays in one batch (file source,
    * AvailableNow, part-file count ≪ maxFilesPerTrigger), so the
    * watermark only advances after ALL data is seen and no genuinely
    * late row is dropped mid-replay; cross-batch late-data behavior
    * is StreamingSpec territory (no batch oracle can express it).
    *
    * Scale shape: user-keyed join state on both sides like q73, but
    * bounded — the watermark EVICTS rows older than the 12 h window,
    * which is the production knob q73 deliberately leaves off.
    */
  val q82StreamOuterJoinReplay = Q(
    "q82_stream_outer_join_replay",
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
      |), v AS (SELECT * FROM e WHERE event_type = 'view'),
      |p AS (SELECT * FROM e WHERE event_type = 'purchase'),
      |mx AS (SELECT least((SELECT max(ts) FROM v), (SELECT max(ts) FROM p)) AS m),
      |matched AS (
      |  SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
      |         v.ts AS view_ts, p.ts AS purchase_ts
      |  FROM v JOIN p ON v.user_id = p.user_id
      |   AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 12 HOUR
      |), unmatched AS (
      |  SELECT v.user_id, v.event_id AS view_id, CAST(NULL AS BIGINT) AS purchase_id,
      |         v.ts AS view_ts, CAST(NULL AS TIMESTAMP) AS purchase_ts
      |  FROM v, mx
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM p WHERE p.user_id = v.user_id
      |      AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 12 HOUR)
      |    AND v.ts + INTERVAL 12 HOUR < mx.m
      |)
      |SELECT user_id, view_id, purchase_id, view_ts, purchase_ts FROM matched
      |UNION ALL
      |SELECT user_id, view_id, purchase_id, view_ts, purchase_ts FROM unmatched
      |ORDER BY user_id, view_id, purchase_id NULLS FIRST""".stripMargin
  ) { (s, d) => {
    fileSinkReplay(s, watermarkedOuterJoinOf(eventsStream(s, d)), "q82")
      .orderBy(col("user_id"), col("view_id"), col("purchase_id"))
  } }

  /** Watermarked stream-stream LEFT SEMI join — the third member of
    * the streaming join family (q73 inner, q82 left outer, THIS
    * semi): "which views CONVERTED within 12 h", emitting each view
    * at most once no matter how many purchases match — the
    * conversion-detection / joined-existence query a funnel pipeline
    * runs live. Same two-sided watermark + event-time bound as q82
    * (semi joins need them for state eviction too); the oracle is
    * the EXISTS spelling, which is exactly semi-join semantics.
    * State story: the view side buffers only open 12 h windows, and
    * a matched view leaves state immediately — strictly smaller
    * state than q82's outer buffers.
    */
  val q83StreamSemiJoinReplay = Q(
    "q83_stream_semi_join_replay",
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
      |), v AS (SELECT * FROM e WHERE event_type = 'view'),
      |p AS (SELECT * FROM e WHERE event_type = 'purchase')
      |SELECT v.user_id, v.event_id AS view_id, v.ts AS view_ts
      |FROM v
      |WHERE EXISTS (
      |  SELECT 1 FROM p WHERE p.user_id = v.user_id
      |    AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 12 HOUR)
      |ORDER BY user_id, view_id""".stripMargin
  ) { (s, d) => {
    def side(eventType: String, prefix: String) =
      eventsStream(s, d)
        .filter(col("event_type") === eventType)
        .select(col("user_id").as(s"${prefix}_user"),
          col("event_id").as(s"${prefix}_id"), col("ts").as(s"${prefix}_ts"))
        .withWatermark(s"${prefix}_ts", "0 seconds")
    val joined = side("view", "view").join(side("purchase", "purchase"),
      col("view_user") === col("purchase_user")
        && col("purchase_ts") >= col("view_ts")
        && col("purchase_ts") <= col("view_ts") + expr("INTERVAL 12 HOURS"),
      "leftSemi")
      .select(col("view_user").as("user_id"), col("view_id"),
        col("view_ts"))
    fileSinkReplay(s, joined, "q83")
      .orderBy(col("user_id"), col("view_id"))
  } }

  /** q82's watermarked outer join over an arbitrary events-shaped
    * source stream — shared between the oracle replay (single-batch,
    * [[eventsStream]]) and the production-geometry probe variant
    * ([[outerJoinReplayChunked]], time-ordered multi-batch).
    */
  private def watermarkedOuterJoinOf(
      src: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    watermarkedJoinOf(src, "leftOuter")

  /** The shared view-purchase watermarked join at any join type the
    * streaming engine supports ("leftOuter" for q82, "leftSemi" for
    * q83); semi output carries only the view columns.
    */
  private def watermarkedJoinOf(src: org.apache.spark.sql.DataFrame,
      joinType: String): org.apache.spark.sql.DataFrame = {
    def side(eventType: String, prefix: String) =
      src.filter(col("event_type") === eventType)
        .select(col("user_id").as(s"${prefix}_user"),
          col("event_id").as(s"${prefix}_id"), col("ts").as(s"${prefix}_ts"))
        .withWatermark(s"${prefix}_ts", "0 seconds")
    val joined = side("view", "view").join(side("purchase", "purchase"),
      col("view_user") === col("purchase_user")
        && col("purchase_ts") >= col("view_ts")
        && col("purchase_ts") <= col("view_ts") + expr("INTERVAL 12 HOURS"),
      joinType)
    if (joinType == "leftSemi")
      joined.select(col("view_user").as("user_id"), col("view_id"), col("view_ts"))
    else if (joinType == "fullOuter")
      // either side may be the null one — the user key survives via
      // coalesce (both sides carry it when matched)
      joined.select(coalesce(col("view_user"), col("purchase_user")).as("user_id"),
        col("view_id"), col("purchase_id"), col("view_ts"), col("purchase_ts"))
    else
      joined.select(col("view_user").as("user_id"), col("view_id"), col("purchase_id"),
        col("view_ts"), col("purchase_ts"))
  }

  /** PRODUCTION-GEOMETRY replay of q82's outer join: the single-batch
    * oracle replay must hold the ENTIRE history in join state (the
    * watermark only advances BETWEEN microbatches), so its state
    * grows with the corpus, not the window — at sf100 (100M events in
    * one batch) that is an OOM by construction, not an operator
    * defect. A live stream never has that geometry: data arrives in
    * event-time order across many triggers and the 12 h watermark
    * EVICTS closed windows as it goes. This variant reproduces that
    * shape faithfully: an INGEST-TIME time-ordered copy of events
    * (range-partitioned + sorted by ts — the order a live stream has
    * by construction; built once per corpus, like the parquet itself,
    * outside the timing the same way q68's shred is), part-file
    * mtimes staggered so the file source's (mtime, path) ordering
    * replays chunks in event-time order, and `maxFilesPerTrigger`
    * bounding each microbatch — so state holds only the open 12 h
    * windows of the current chunk frontier. Output is set-identical
    * to the single-batch replay (chunk boundaries introduce no late
    * data because the chunks are range-disjoint in ts) —
    * StreamChunkedReplaySpec pins that equality at fixture scale.
    */
  private[graft] def outerJoinReplayChunked(s: org.apache.spark.sql.SparkSession,
      d: String, nChunks: Int): org.apache.spark.sql.DataFrame =
    joinReplayChunked(s, d, nChunks, "leftOuter")

  /** [[outerJoinReplayChunked]]'s geometry for q83's semi join —
    * same ingest-time ordered copy, same per-chunk watermark
    * eviction; semi state is strictly smaller (matched views leave
    * state immediately).
    */
  private[graft] def semiJoinReplayChunked(s: org.apache.spark.sql.SparkSession,
      d: String, nChunks: Int): org.apache.spark.sql.DataFrame =
    joinReplayChunked(s, d, nChunks, "leftSemi")

  /** [[outerJoinReplayChunked]]'s geometry for q84's full outer join
    * — both null-extension rules stay chunk-safe: a purchase's
    * candidate views (`view_ts ≤ purchase_ts`) live in chunks at or
    * before its own, so they have always arrived before the
    * watermark can null-extend it, symmetric to the view-side
    * argument.
    */
  private[graft] def fullOuterJoinReplayChunked(s: org.apache.spark.sql.SparkSession,
      d: String, nChunks: Int): org.apache.spark.sql.DataFrame =
    joinReplayChunked(s, d, nChunks, "fullOuter")

  private def joinReplayChunked(s: org.apache.spark.sql.SparkSession,
      d: String, nChunks: Int, joinType: String): org.apache.spark.sql.DataFrame =
    fileSinkReplay(s, watermarkedJoinOf(orderedEventsChunkStream(s, d, nChunks),
      joinType), s"chunked_$joinType")

  /** The production-geometry source the chunked replays share: an
    * ingest-time time-ordered copy of events (range-partitioned +
    * sorted by ts — the order a live stream has by construction),
    * part-file mtimes staggered so the file source's (mtime, path)
    * ordering replays chunks in event-time order, and
    * `maxFilesPerTrigger 1` bounding each microbatch to one
    * ts-range-disjoint chunk — so the watermark advances between
    * triggers and no row is ever late to it.
    *
    * The ordered copy is an [[graft.Artifact]] per nChunks: it is
    * ARRIVAL-ORDER INPUT PREPARATION, not part of the measured
    * streaming computation, yet every chunked replay (×2 under
    * min-of-2) used to re-write its own identical copy (~0.4 s each
    * across the seven q7x-q9x chunked replays). Checkpoints and sinks
    * stay per-run, so the memo amortizes only the fixture write,
    * never the replay under test.
    */
  private val orderedFixture = graft.Artifact[String]("ordered_fixture")
  private[graft] val orderedFixtureBuildSec = orderedFixture.buildNanos
  private[graft] def orderedEventsChunkStream(s: org.apache.spark.sql.SparkSession,
      d: String, nChunks: Int): org.apache.spark.sql.DataFrame = {
    val orderedDir = orderedFixture.memo(d, "events", s"$nChunks") {
      val out = tempReplayDir("q82ord").resolve("events").toString
      graft.Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
          col("value"))
        .repartitionByRange(nChunks, col("ts"))
        .sortWithinPartitions(col("ts"))
        .write.mode("overwrite").parquet(out)
      // stagger mtimes in part-file (= ts-range) order: the file
      // source admits files by (modification time, path), and
      // same-second mtimes would let listing order race range order
      val parts = new java.io.File(out).listFiles()
        .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
      val t0m = parts.map(_.lastModified()).max
      parts.zipWithIndex.foreach { case (f, i) =>
        f.setLastModified(t0m + (i + 1) * 2000L): Unit
      }
      out
    }
    recordSourceBytes(s, new java.io.File(orderedDir))
    val schema = graft.Tables.footerSchema(s, Seq(orderedDir))
    s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(orderedDir)
  }

  /** Watermarked stream-stream FULL OUTER join — completing the
    * streaming join family (q73 inner, q82 left outer, q83 left
    * semi, THIS full outer): "every view AND every purchase, matched
    * where a conversion happened within 12 h, null-extended where
    * not" — the reconciliation shape (ad-spend vs revenue, orders vs
    * shipments) run live. Both null-extension rules are WATERMARK
    * semantics and the oracle spells them explicitly: an unmatched
    * VIEW emits only once its 12 h window closes below the final
    * watermark (`view_ts + 12h < m`, q82's rule), and an unmatched
    * PURCHASE emits once no future view could still match it — a
    * future view has `ts ≥ m` and must satisfy `view_ts ≤
    * purchase_ts`, so the purchase is evictable exactly when
    * `purchase_ts < m` (`m` = min of the two sides' max event time,
    * Spark's global-watermark min policy). State story: both sides
    * buffer only open 12 h windows once the watermark advances — the
    * chunked production geometry applies unchanged via
    * [[joinReplayChunked]].
    */
  val q84StreamFullOuterJoinReplay = Q(
    "q84_stream_full_outer_join_replay",
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
      |), v AS (SELECT * FROM e WHERE event_type = 'view'),
      |p AS (SELECT * FROM e WHERE event_type = 'purchase'),
      |mx AS (SELECT least((SELECT max(ts) FROM v), (SELECT max(ts) FROM p)) AS m),
      |matched AS (
      |  SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
      |         v.ts AS view_ts, p.ts AS purchase_ts
      |  FROM v JOIN p ON v.user_id = p.user_id
      |   AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 12 HOUR
      |), unmatched_v AS (
      |  SELECT v.user_id, v.event_id AS view_id, CAST(NULL AS BIGINT) AS purchase_id,
      |         v.ts AS view_ts, CAST(NULL AS TIMESTAMP) AS purchase_ts
      |  FROM v, mx
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM p WHERE p.user_id = v.user_id
      |      AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 12 HOUR)
      |    AND v.ts + INTERVAL 12 HOUR < mx.m
      |), unmatched_p AS (
      |  SELECT p.user_id, CAST(NULL AS BIGINT) AS view_id, p.event_id AS purchase_id,
      |         CAST(NULL AS TIMESTAMP) AS view_ts, p.ts AS purchase_ts
      |  FROM p, mx
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM v WHERE v.user_id = p.user_id
      |      AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 12 HOUR)
      |    AND p.ts < mx.m
      |)
      |SELECT user_id, view_id, purchase_id, view_ts, purchase_ts FROM matched
      |UNION ALL
      |SELECT user_id, view_id, purchase_id, view_ts, purchase_ts FROM unmatched_v
      |UNION ALL
      |SELECT user_id, view_id, purchase_id, view_ts, purchase_ts FROM unmatched_p
      |ORDER BY user_id, view_id NULLS FIRST, purchase_id NULLS FIRST""".stripMargin
  ) { (s, d) => {
    fileSinkReplay(s, watermarkedJoinOf(eventsStream(s, d), "fullOuter"), "q84")
      .orderBy(col("user_id"), col("view_id"), col("purchase_id"))
  } }

  /** The dedup kernel q85 and its chunked variant share: day-bucketed
    * keys under a 1-day watermark TTL. The key INCLUDES the event-time
    * day (`unix_micros(ts) div 86 400 000 000` — integer µs division,
    * the house calendar-free bucketing), which is what makes the
    * bounded-state operator's output batch-expressible — see q85's
    * doc for the argument. Output is the key-only projection (the q74
    * discipline): the emitted row is fully determined by the key, so
    * whichever arrival wins the in-batch race produces the same row.
    */
  private[graft] def watermarkedDayDedup(src: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    src.select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("day", expr("unix_micros(ts) div 86400000000"))
      .withWatermark("ts", "1 day")
      .dropDuplicatesWithinWatermark("user_id", "event_type", "day")
      .select(col("user_id"), col("event_type"), col("day"))

  /** Streaming dedup with BOUNDED state — `dropDuplicatesWithinWatermark`,
    * the production TTL knob q74's unbounded `dropDuplicates` leaves
    * off (q74's seen-key state grows with the corpus forever; this
    * operator's is evicted at `watermark > first_seen_ts + delay` and
    * holds only the open horizon). The operator's contract is weaker
    * than DISTINCT — only duplicates within the delay of each other
    * are GUARANTEED dropped; a key re-arriving after eviction
    * re-emits — which is why q74's doc long held that no batch oracle
    * can express it. The KEY CONSTRUCTION closes that gap: the dedup
    * key includes the event-time DAY bucket and the delay is 1 day,
    * so any two same-key records are < 24 h ≤ delay apart in event
    * time — re-emission would need a same-key record arriving with
    * event time past the eviction point `first_ts + 1 day`, and a
    * same-day record never is. Late-row discard (the other
    * nondeterminism channel) is structural in both verified
    * geometries: the single-batch AvailableNow replay runs entirely
    * under the initial watermark, and the chunked production geometry
    * replays ts-range-disjoint chunks in event-time order, so no
    * record ever trails the watermark. Therefore emitted ==
    * DISTINCT (user_id, event_type, day) — an exact batch oracle for
    * a bounded-state streaming operator. StreamChunkedReplaySpec pins
    * chunked == single-batch AND that the chunked run's dedup state
    * actually evicts (max live state rows < total distinct keys,
    * removed > 0) — the bounded-state claim as a measured fact, not
    * an API promise.
    *
    * Scale notes: state is hash-partitioned by key across executors
    * (q78's too-big-to-broadcast shape); the watermark bounds live
    * state to the open ~2-day horizon regardless of corpus size —
    * the property that lets a crawl-dedup stream run for months.
    */
  val q85StreamDedupTtlReplay = Q(
    "q85_stream_dedup_ttl_replay",
    """SELECT DISTINCT user_id, event_type,
      |  epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
      |FROM events
      |ORDER BY user_id, event_type, day""".stripMargin
  ) { (s, d) =>
    fileSinkReplay(s, watermarkedDayDedup(eventsStream(s, d)), "q85")
      .orderBy(col("user_id"), col("event_type"), col("day"))
  }

  /** [[orderedEventsChunkStream]]'s geometry for q85 — the watermark
    * advances between chunk triggers, so day-keys behind the horizon
    * EVICT mid-run (the spec reads the state-operator metrics to
    * prove it) while the output stays set-identical to the
    * single-batch replay.
    */
  private[graft] def dedupTtlReplayChunked(s: org.apache.spark.sql.SparkSession,
      d: String, nChunks: Int): org.apache.spark.sql.DataFrame =
    fileSinkReplay(s, watermarkedDayDedup(orderedEventsChunkStream(s, d, nChunks)),
      "chunked_dedupttl")

  /** Runs an UPDATE-mode streaming aggregate through the idempotent
    * foreachBatch merge sink and returns the compacted final state as
    * a distributed frame: per-trigger changed-key emissions land in
    * an append-only parquet log stamped with the batch id, and a
    * last-write-wins window over `keys` ordered by batch_id desc
    * reconstructs the final value per key. The at-least-once
    * foreachBatch contract becomes effectively exactly-once because a
    * retried batch re-appends the same (batch_id, key, value) rows
    * and the row_number cut keeps one — the MERGE INTO pattern
    * production foreachBatch sinks use, spelled on plain parquet.
    * Shared by q86 (user × type counts) and q71 (day-window decimal
    * sums) — the generic half of what was q86-only in round 10.
    */
  private[graft] def updateLogCompactReplay(s: org.apache.spark.sql.SparkSession,
      agg: org.apache.spark.sql.DataFrame, keys: Seq[String],
      name: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val base = tempReplayDir(name)
    val out = base.resolve("out").toString
    val logSchema = StructType(agg.schema.fields :+ StructField("batch_id", LongType))
    withStatePartitions(s) {
      val query = agg.writeStream
        .outputMode("update")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          batch.withColumn("batch_id", lit(id))
            .write.mode("append").parquet(out)
        }
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      query.awaitTermination()
    }
    val log = s.read.schema(logSchema).parquet(out)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("batch_id").desc)
    log.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .drop("rn", "batch_id")
  }

  /** The q86 kernel shared by both geometries: an UPDATE-mode
    * per-(user, type) count whose per-trigger emissions land in an
    * append-only parquet log via foreachBatch, stamped with the
    * batch id, and are compacted last-write-wins afterwards (q39's
    * CDC discipline — batch_id is the changelog order). The
    * compaction is what makes the at-least-once foreachBatch
    * contract effectively exactly-once: a retried batch re-appends
    * the same (batch_id, key, value) rows and the row_number cut
    * keeps one — the idempotent-merge pattern production foreachBatch
    * sinks implement with MERGE INTO, spelled on plain parquet.
    */
  private[graft] def updateAggReplay(s: org.apache.spark.sql.SparkSession,
      src: org.apache.spark.sql.DataFrame, name: String): org.apache.spark.sql.DataFrame = {
    val agg = src.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    updateLogCompactReplay(s, agg, Seq("user_id", "event_type"), name)
      .orderBy(col("user_id"), col("event_type"))
  }

  /** UPDATE-mode streaming aggregate through an idempotent
    * foreachBatch sink (append: q73-q85; update: q71 and THIS — the
    * mode production counters actually run, because complete
    * re-emits the world every trigger and append can't emit an
    * unfinalized aggregate at all). Each trigger emits only the keys
    * whose counts CHANGED; the sink appends them stamped with the
    * batch id; last-write-wins compaction over the log reconstructs
    * final state — and the oracle is the plain batch GROUP BY, so
    * the hash gate proves emitted-updates ∘ compaction ≡ recompute
    * (q56's incremental-maintenance obligation, proven on the LIVE
    * emission path rather than the state-merge algebra). Arrival
    * order cannot leak: whatever partial counts intermediate
    * triggers emit, the LAST update per key equals its total (counts
    * are monotone per key), in both the single-batch and the chunked
    * time-ordered geometry (StreamChunkedReplaySpec pins chunked ==
    * single-batch == oracle AND that some keys really are updated
    * across several triggers, so the compaction is exercised, not
    * vacuous).
    *
    * Scale notes: update-mode agg state is the key space (user ×
    * type), hash-sharded across executors; the per-trigger emission
    * is the CHANGED key set only — the delta a downstream MERGE
    * wants; the compaction is one key-partitioned window over the
    * log, q39's shape.
    */
  val q86StreamUpdateAggReplay = Q(
    "q86_stream_update_agg_replay",
    """SELECT user_id, event_type, count(*) AS n_events
      |FROM events GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin
  ) { (s, d) =>
    updateAggReplay(s, eventsStream(s, d), "q86")
  }

  /** [[orderedEventsChunkStream]]'s geometry for q86 — per-trigger
    * update emissions with real cross-trigger key overlap, so the
    * batch_id compaction genuinely picks the newest value.
    */
  private[graft] def updateAggReplayChunked(s: org.apache.spark.sql.SparkSession,
      d: String, nChunks: Int): org.apache.spark.sql.DataFrame =
    updateAggReplay(s, orderedEventsChunkStream(s, d, nChunks), "chunked_updagg")

  /** RANGE QUERIES OVER LIVE STREAMING STATE — the reference's own
    * roadmap bridge from streaming to queries (README.md:110,
    * "SELECT * FROM state WHERE v > 10 AND v < 20"), promoted from a
    * StreamingSpec test to a REGISTERED oracle-checked query: q86's
    * update-mode (user × type) count runs to completion, and the
    * result is read NOT from the emissions but from the operator's
    * OWN state store (`spark.read.format("statestore")` over the
    * checkpoint — Spark's state reader, the batch view of live
    * state), range-filtered 3 < n < 10. The oracle is exact because
    * an unwatermarked update-mode aggregate's state IS the final
    * aggregate per key once AvailableNow drains the input — so
    * state-read ∘ range-filter ≡ batch GROUP BY ∘ HAVING, and the
    * hash gate proves the state store holds bit-exact aggregates,
    * not an approximation of them.
    *
    * Scale shape: the state store is hash-partitioned by key across
    * executors (one store per shuffle partition); the reader exposes
    * it as a distributed frame partitioned the same way, so the
    * range filter runs store-local with zero extra shuffle before
    * the presentation sort. At 100 TB this is how an ops console
    * queries a live pipeline's counters without touching the stream.
    */
  val q87StatestoreRange = Q(
    "q87_statestore_range",
    """WITH g AS (
      |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n_events
      |  FROM events GROUP BY user_id, event_type
      |)
      |SELECT user_id, event_type, n_events FROM g
      |WHERE n_events > 3 AND n_events < 10
      |ORDER BY user_id, event_type""".stripMargin
  ) { (s, d) =>
    val ckpt = tempReplayDir("q87").resolve("ckpt").toString
    val agg = eventsStream(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    withStatePartitions(s) {
      val query = agg.writeStream
        .outputMode("update")
        // emissions deliberately discarded — the artifact under test is
        // the STATE the run leaves behind, not the update log (q86
        // already gates the emission path). The noop write still runs
        // EVERY partition: a foreachBatch that doesn't process the full
        // frame leaves state stores uncommitted and fails the batch
        // (STATE_STORE_COMMIT_VALIDATION_FAILED)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.write.format("noop").mode("overwrite").save()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      query.awaitTermination()
    }
    // state rows expose key/value structs; the value carries the raw
    // aggregation buffer, whose count field is named `count`
    s.read.format("statestore").load(ckpt)
      .select(col("key.user_id").as("user_id"),
        col("key.event_type").as("event_type"),
        col("value.count").as("n_events"))
      .filter(col("n_events") > 3 && col("n_events") < 10)
      .orderBy(col("user_id"), col("event_type"))
  }

  /** SESSION WINDOWS RUN LIVE — q72's `session_window` aggregate as
    * an actual watermarked append-mode streaming job (q72 proves the
    * operator batch-mode; THIS proves its streaming FINALIZATION
    * semantics: a session is emitted exactly when the watermark
    * passes its end and no future event can extend or merge it).
    * With q81's 0-second-delay observation the emission rule is
    * algebraic — the final watermark of an AvailableNow replay is
    * max event time, so emitted sessions are EXACTLY the
    * gaps-and-islands sessions with `session_end = last_ts + gap ≤
    * max(ts)` — and the oracle spells q72's CTE plus that one
    * predicate. The trailing open session per active user stays in
    * state and OUT of the output, which is the semantic q72 cannot
    * exercise.
    *
    * Scale notes: state is keyed by user — merges are per-key local,
    * eviction at the watermark bounds live state to open sessions
    * (the q85 curve); output goes through the file sink like every
    * append replay.
    */
  val q88StreamSessionReplay = Q(
    "q88_stream_session_replay",
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
      |), marked AS (
      |  SELECT user_id, ts, value,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |                OR ts - lag(ts) OVER w >= INTERVAL 8 HOUR THEN 1 ELSE 0 END AS is_new
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      |), numbered AS (
      |  SELECT user_id, ts, value,
      |         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
      |                           ROWS UNBOUNDED PRECEDING) AS sess
      |  FROM marked
      |), sessions AS (
      |  SELECT user_id,
      |         min(ts) AS session_start,
      |         max(ts) + INTERVAL 8 HOUR AS session_end,
      |         count(*) AS n_events,
      |         CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |  FROM numbered
      |  GROUP BY user_id, sess
      |)
      |SELECT user_id, session_start, session_end, n_events, sum_value
      |FROM sessions
      |WHERE session_end <= (SELECT max(CAST(ts AS TIMESTAMP)) FROM events)
      |ORDER BY user_id, session_start""".stripMargin
  ) { (s, d) =>
    sessionReplay(s, eventsStream(s, d), "q88")
  }

  /** The q88 kernel both geometries share: the watermarked 8 h
    * session-window aggregate through the file sink (the
    * dayAggReplay/joinAggReplay discipline — one spelling, two
    * geometries, so the chunked==single-batch pin can never drift).
    */
  private[graft] def sessionReplay(s: org.apache.spark.sql.SparkSession,
      src: org.apache.spark.sql.DataFrame, name: String): org.apache.spark.sql.DataFrame =
    fileSinkReplay(s, sessionAggOf(src), name)
      .orderBy(col("user_id"), col("session_start"))

  /** q88's watermarked session aggregate, sink-agnostic — shared by
    * the registered file-sink replay and the count-only drain probe.
    */
  private def sessionAggOf(src: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    src
      .withWatermark("ts", "0 seconds")
      .groupBy(col("user_id"), session_window(col("ts"), "8 hours").as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(Exact.d2(col("value"))).cast("double").as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("sum_value"))

  /** COUNT-ONLY terminal for a streaming frame — the write-cost
    * decomposition instrument (round-11 verdict #3): the same
    * stateful pipeline runs to completion, but each micro-batch is
    * drained through a count (which processes EVERY partition, so
    * state commits — the q87 discipline) instead of the parquet file
    * sink. Probing drain vs file-sink at the same scale separates the
    * STATE term (merge/join/agg cost, measured here) from the SINK
    * term (the emitted-row write, the difference). Returns the total
    * emitted rows.
    */
  private[graft] def drainCount(s: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame, name: String): Long = {
    val base = tempReplayDir(name)
    val acc = s.sparkContext.longAccumulator(s"graft_drain_$name")
    withStatePartitions(s) {
      val query = df.writeStream
        .outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          acc.add(batch.count())
        }
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      query.awaitTermination()
    }
    acc.value
  }

  /** q88's kernel through the count-only drain — ScaleProbe pairs its
    * timing with q88_stream_session_replay's at the same scale; the
    * one-row result carries the emitted-session count so the decade
    * table shows the output the sink would have written.
    */
  private[graft] def sessionReplayDrainOnly(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val n = drainCount(s, sessionAggOf(eventsStream(s, d)), "q88drain")
    Seq(n).toDF("n_sessions")
  }

  /** [[orderedEventsChunkStream]]'s geometry for q88 — sessions
    * spanning chunk boundaries are MERGED in state across triggers
    * (the session-window analog of q82's cross-chunk matches) and
    * emitted only when a later chunk's watermark passes their end;
    * chunks are ts-range-disjoint so no row is ever late.
    */
  private[graft] def sessionReplayChunked(s: org.apache.spark.sql.SparkSession,
      d: String, nChunks: Int): org.apache.spark.sql.DataFrame =
    sessionReplay(s, orderedEventsChunkStream(s, d, nChunks), "chunked_session")

  /** MULTI-STATEFUL STREAMING PIPELINE — a watermarked stream-stream
    * INNER join CHAINED INTO a windowed aggregation inside ONE
    * streaming query (Spark's multiple-stateful-operator support,
    * SPARK-40925 — before it, join→agg required two queries and an
    * intermediate sink; q73-q88 each exercise a single stateful
    * operator). The pipeline is the canonical attribution rollup:
    * view→purchase conversions within 12 h (q73's join, watermarked
    * on both sides) aggregated to daily revenue. Emission composes
    * BOTH operators' watermark semantics: the join's output
    * watermark is the MIN of its sides' (q82's two-sided
    * observation), and the downstream day window finalizes when THAT
    * passes its end — so with 0-second delays the emitted windows
    * are exactly those with `window_end ≤ least(max view ts,
    * max purchase ts)`, and the oracle spells the batch join + GROUP
    * BY under that one predicate. The hash gate therefore pins the
    * watermark PROPAGATION rule through the operator chain, which no
    * single-operator replay can see.
    *
    * Scale shape: join state is user-keyed open 12 h windows (q73),
    * agg state the bounded day × 1 key space (q71) — both evict at
    * the watermark; one user shuffle + one window shuffle, the same
    * two a batch plan pays.
    */
  val q90StreamJoinAggReplay = Q(
    "q90_stream_join_agg_replay",
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value
      |  FROM events
      |), v AS (SELECT * FROM e WHERE event_type = 'view'),
      |p AS (SELECT * FROM e WHERE event_type = 'purchase'),
      |mx AS (SELECT least((SELECT max(ts) FROM v), (SELECT max(ts) FROM p)) AS m),
      |j AS (
      |  SELECT p.ts AS pts, v.event_id AS view_id, p.event_id AS purchase_id,
      |         p.value AS pvalue
      |  FROM v JOIN p ON v.user_id = p.user_id
      |    AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 12 HOUR
      |)
      |SELECT CAST(date_trunc('day', pts) AS TIMESTAMP) AS window_start,
      |  CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(min(view_id) AS BIGINT) AS first_view,
      |  CAST(max(purchase_id) AS BIGINT) AS last_purchase,
      |  CAST(sum(CAST(pvalue AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      |FROM j, mx
      |GROUP BY 1, mx.m
      |HAVING window_start + INTERVAL 1 DAY <= mx.m
      |ORDER BY window_start""".stripMargin
  ) { (s, d) =>
    joinAggReplay(s, eventsStream(s, d), "q90")
  }

  /** The q90 kernel both geometries share: watermarked view⋈purchase
    * inner join chained into the daily revenue window, one query.
    */
  private[graft] def joinAggReplay(s: org.apache.spark.sql.SparkSession,
      src: org.apache.spark.sql.DataFrame, name: String): org.apache.spark.sql.DataFrame =
    fileSinkReplay(s, joinAggOf(src), name).orderBy(col("window_start"))

  /** q90's join→agg pipeline, sink-agnostic (same split as
    * [[sessionAggOf]] — the drain probe reuses it).
    */
  private def joinAggOf(src: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    def side(t: String, p: String) =
      src.filter(col("event_type") === t)
        .select(col("user_id").as(s"${p}_user"), col("event_id").as(s"${p}_id"),
          col("ts").as(s"${p}_ts"), col("value").as(s"${p}_value"))
        .withWatermark(s"${p}_ts", "0 seconds")
    val joined = side("view", "view").join(side("purchase", "purchase"),
      col("view_user") === col("purchase_user")
        && col("purchase_ts") >= col("view_ts")
        && col("purchase_ts") <= col("view_ts") + expr("INTERVAL 12 HOURS"))
    val agg = joined
      .groupBy(window(col("purchase_ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col("view_id")).as("first_view"),
        max(col("purchase_id")).as("last_purchase"),
        sum(Exact.d2(col("purchase_value"))).cast("double").as("revenue"))
      .select(col("w.start").as("window_start"), col("n_pairs"),
        col("first_view"), col("last_purchase"), col("revenue"))
    agg
  }

  /** q90's kernel through the count-only drain (see
    * [[sessionReplayDrainOnly]]).
    */
  private[graft] def joinAggReplayDrainOnly(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val n = drainCount(s, joinAggOf(eventsStream(s, d)), "q90drain")
    Seq(n).toDF("n_windows")
  }

  /** EVENT-TIME TIMER EXPIRY — the inactivity-close callback
    * (transformWithState + `registerTimer` + RocksDB,
    * [[graft.streaming.SessionTimerProcessor]]): each user's open
    * session sits in keyed state; a ≥ 8 h-later event closes it
    * inline (`closed_by = 'gap'`), and the TRAILING session closes
    * when the event-time watermark passes `last_seen + 8 h` — the
    * timer callback, which q88's session_window cannot observe (the
    * window operator owns eviction there; here the PROCESSOR owns
    * it). The emission rule is algebraic under AvailableNow with
    * 0-delay watermark: a trailing session emits iff
    * `last_seen + 8 h ≤ max(ts)` at the watermark's ms granularity
    * (Spark truncates event-time µs to ms in the watermark; the
    * oracle spells the same `epoch_us(...) // 1000` truncation). The
    * `closed_by` column makes the timer path itself hash-gated:
    * exactly the per-user LAST emitted session carries 'timer'.
    *
    * Scale notes: state is one accumulator row per OPEN session,
    * user-sharded on RocksDB; timers are per-key engine state,
    * checkpoint-recovered (StreamingSpec pins stop → resume across an
    * armed timer); the per-key sort is bounded by one key's
    * single-batch rows.
    */
  val q92TimerSessionReplay = Q(
    "q92_timer_session_replay",
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
      |), marked AS (
      |  SELECT user_id, ts, value,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |                OR ts - lag(ts) OVER w >= INTERVAL 8 HOUR THEN 1 ELSE 0 END AS is_new
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      |), numbered AS (
      |  SELECT user_id, ts, value,
      |         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
      |                           ROWS UNBOUNDED PRECEDING) AS sess
      |  FROM marked
      |), sessions AS (
      |  SELECT user_id, sess,
      |         min(ts) AS session_start,
      |         max(ts) AS last_seen,
      |         CAST(count(*) AS BIGINT) AS n_events,
      |         CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |  FROM numbered GROUP BY user_id, sess
      |), mx AS (SELECT max(CAST(ts AS TIMESTAMP)) AS m FROM events),
      |labeled AS (
      |  SELECT user_id, session_start, last_seen, n_events, sum_value,
      |         lead(sess) OVER (PARTITION BY user_id ORDER BY session_start) IS NOT NULL AS has_next
      |  FROM sessions
      |)
      |SELECT user_id, session_start, last_seen, n_events, sum_value,
      |       CASE WHEN has_next THEN 'gap' ELSE 'timer' END AS closed_by
      |FROM labeled, mx
      |WHERE has_next
      |   OR epoch_us(last_seen + INTERVAL 8 HOUR) // 1000 <= epoch_us(mx.m) // 1000
      |ORDER BY user_id, session_start""".stripMargin
  ) { (s, d) =>
    timerSessionReplay(s, eventsStream(s, d), "q92")
  }

  /** The q92 kernel both geometries share (single-batch replay and
    * the chunked/stop-resume specs): watermarked events through the
    * timer processor and the file sink.
    */
  private[graft] def timerSessionReplay(s: org.apache.spark.sql.SparkSession,
      src: org.apache.spark.sql.DataFrame, name: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val events = src
      .select(col("user_id"), col("ts"), col("value"))
      .withWatermark("ts", "0 seconds")
      .as[graft.streaming.TimerEvent]
    val sessions = graft.streaming.SessionTimerGate.sessions(events)
    fileSinkReplay(s, sessions.toDF(), name, RocksDbStateStore)
      .orderBy(col("user_id"), col("session_start"))
  }

  /** The doc_id-ordered shard copy the streaming near-dup gate
    * replays: src0/src1 documents sorted by doc_id across nChunks
    * range-partitioned files with staggered mtimes (the
    * [[orderedEventsChunkStream]] discipline), so the file source's
    * (mtime, path) admission order IS doc_id order and
    * `maxFilesPerTrigger 1` replays the shard as nChunks arrival
    * batches.
    */
  private[graft] def orderedShardDocStream(s: org.apache.spark.sql.SparkSession,
      d: String, nChunks: Int,
      deltaMaxDocId: Option[Long] = None,
      cols: Seq[String] = Seq("doc_id", "text"),
      sources: Seq[String] = Seq("src0", "src1")): org.apache.spark.sql.DataFrame = {
    // memoized per (chunking, projection, shard set, delta cap) — see
    // orderedEventsChunkStream's Scaladoc; the arrival-order copy is
    // input preparation, identical across runs
    val variant = s"$nChunks:${cols.mkString(",")}:" +
      s"${sources.mkString(",")}:${deltaMaxDocId.getOrElse(-1L)}"
    val orderedDir = orderedFixture.memo(d, "documents", variant) {
      val out = tempReplayDir("q93ord").resolve("docs").toString
      graft.Tables.documents(s, d)
        .filter(col("source").isin(sources: _*))
        .filter(deltaMaxDocId.map(col("doc_id") <= _).getOrElse(lit(true)))
        .select(cols.map(col): _*)
        .repartitionByRange(nChunks, col("doc_id"))
        .sortWithinPartitions(col("doc_id"))
        .write.mode("overwrite").parquet(out)
      val parts = new java.io.File(out).listFiles()
        .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
      require(parts.nonEmpty,
        s"orderedShardDocStream: ${sources.mkString("/")} shard under $d" +
          deltaMaxDocId.fold("")(m => s" with doc_id <= $m") +
          " produced zero part files — empty shard or over-tight delta " +
          "filter (fail-loud source guard, mirroring tableStream)")
      val t0m = parts.map(_.lastModified()).max
      parts.zipWithIndex.foreach { case (f, i) =>
        f.setLastModified(t0m + (i + 1) * 2000L): Unit
      }
      out
    }
    recordSourceBytes(s, new java.io.File(orderedDir))
    val schema = graft.Tables.footerSchema(s, Seq(orderedDir))
    s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(orderedDir)
  }

  /** STREAMING NEAR-DUP GATE — d16's incremental near-dup ingest run
    * at ARRIVAL time (round-13 verdict item 2): the nightly-batch
    * shape probes a whole shard against the standing band index; a
    * production ingest FRONT-END gates each document as it arrives.
    * Two halves, both fed by the same doc_id-ordered shard stream:
    *
    *  - CROSS-CORPUS: the arriving doc's band emissions stream-static
    *    join d16's standing index (built once per run, the amortized
    *    nightly artifact) on (band, h), with SortedArrayJaccard ≥ 0.9
    *    verification in-stream — candidates are arrival×corpus only.
    *  - WITHIN-STREAM: the same emissions keyed by (band, h) into
    *    durable RocksDB state ([[graft.streaming.NearDupGateProcessor]])
    *    — each doc probes only the stream docs that arrived BEFORE it
    *    in its own buckets, the arrival-time mirror of d03's banded
    *    self-join.
    *
    * The oracle spells both halves declaratively over the same
    * corpus/shard split (per-doc on the shard side — every arrival
    * gets its own verdict; set-grouped min-id reps on the corpus
    * side, d16's index semantics), so the hash gate proves
    * arrival-order gating ≡ the batch pair set. Chunk-count
    * invariance (1 vs 5 triggers) is pinned by
    * StreamChunkedReplaySpec.
    *
    * Scale shape: per-trigger cost is (trigger batch × bucket
    * occupancy) for the state half and (trigger bands ⋈ index) for
    * the static half — the index join is the batch d16 probe run per
    * trigger, so a deployment pins the index's partition grid to keep
    * each probe pruned (d16ProbeFrame's basePath discipline); state
    * never holds the corpus, only the stream's own history (TTL is
    * the production bound).
    */
  val q93StreamNearDupGate = Q(
    "q93_stream_neardup_gate",
    { import graft.functions.TextVec.{sqlMinhash, sqlJaccard}
      val ts = "list_sort(list_distinct(string_split(text, ' ')))"
      val mhs = (0 until 8).map(i => s"${sqlMinhash(i, "ts")} AS mh$i").mkString(",\n    ")
      def bands(sig: String) = (0 until 2).map(i =>
        s"SELECT rep_id, ts, $i AS band, md5(mh${4 * i} || mh${4 * i + 1} || mh${4 * i + 2} || mh${4 * i + 3}) AS h FROM $sig")
        .mkString("\n  UNION ALL ")
      s"""WITH csets AS (
         |  SELECT md5(array_to_string(ts, ' ')) AS set_hash,
         |         min(doc_id) AS rep_id, any_value(ts) AS ts
         |  FROM (SELECT doc_id, $ts AS ts FROM documents
         |        WHERE source NOT IN ('src0', 'src1'))
         |  GROUP BY md5(array_to_string(ts, ' '))
         |), ddocs AS (
         |  SELECT doc_id AS rep_id, $ts AS ts FROM documents
         |  WHERE source IN ('src0', 'src1')
         |), csig AS (SELECT rep_id, ts, $mhs FROM csets),
         |dsig AS (SELECT rep_id, ts, $mhs FROM ddocs),
         |cbands AS (
         |  ${bands("csig")}
         |), dbands AS (
         |  ${bands("dsig")}
         |), cross_pairs AS (
         |  SELECT DISTINCT n.rep_id AS id_new, c.rep_id AS id_match,
         |         'corpus' AS kind, ${sqlJaccard("n.ts", "c.ts")} AS jaccard
         |  FROM dbands n JOIN cbands c ON n.band = c.band AND n.h = c.h
         |  WHERE ${sqlJaccard("n.ts", "c.ts")} >= 0.9
         |), within_pairs AS (
         |  SELECT DISTINCT b.rep_id AS id_new, a.rep_id AS id_match,
         |         'stream' AS kind, ${sqlJaccard("a.ts", "b.ts")} AS jaccard
         |  FROM dbands a JOIN dbands b
         |    ON a.band = b.band AND a.h = b.h AND a.rep_id < b.rep_id
         |  WHERE ${sqlJaccard("a.ts", "b.ts")} >= 0.9
         |)
         |SELECT id_new, id_match, kind, jaccard
         |FROM (SELECT * FROM cross_pairs UNION ALL SELECT * FROM within_pairs)
         |ORDER BY kind, id_new, id_match""".stripMargin }
  ) { (s, d) =>
    nearDupGateReplay(s, d, nChunks = 4)
  }

  /** The q93 kernel (shared with the chunk-invariance spec): standing
    * index build, then the two streaming halves over a doc_id-ordered
    * nChunks-trigger shard replay, then the batch-side presentation
    * (pair-set distinct, declarative jaccard recompute for the state
    * half — see NearDupGateProcessor's Scaladoc — and the stable
    * sort).
    */
  private[graft] def nearDupGateReplay(s: org.apache.spark.sql.SparkSession,
      d: String, nChunks: Int,
      deltaMaxDocId: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    val (idxPath, _, _) = graft.operators.Dedup.d16BuildIndex(s, d)
    nearDupGateReplayOn(s, d, nChunks, idxPath, deltaMaxDocId)
  }

  /** STREAMING INGEST → TRANSACTION-LOG APPEND (q94) — the write side
    * that closes the streaming↔lakehouse loop: q78 gates arrivals
    * against durable state, c25-c29 replay a commit log; THIS is the
    * production seam between them — the gate's ACCEPTED docs APPEND
    * to the log-structured table, one immutable data file + one
    * commit per micro-batch, written EXACTLY-ONCE via the batch-id
    * idempotency rule every Delta/Iceberg streaming sink implements
    * (foreachBatch redelivers a batch after a crash; a commit named
    * by the batch id makes the redelivery a no-op — the
    * "idempotent foreachBatch merge sink" pattern q71/q86 use,
    * upgraded from overwrite-compaction to a REAL append log). The
    * final table state is read back THROUGH LOG REPLAY (the c25
    * fold), and the oracle spells the accepted set declaratively —
    * so the hash gate proves gate ∘ per-trigger append ∘ commit ∘
    * replay ≡ the batch filter, independent of trigger boundaries
    * (StreamChunkedReplaySpec pins 1 vs 5 triggers; the
    * idempotent-retry rule is pinned by re-invoking the sink body
    * with an already-committed batch id).
    *
    * The gate rules are c09's verbatim (quality floor, exact corpus
    * membership, winnow near-dup) with the corpus sides batch-
    * precomputed and broadcast — the keyed-state membership probe is
    * q78's capability; the capability HERE is the exactly-once
    * append. Scale shape: per-trigger work is the arriving batch's
    * gate projection + one data-file write; the commit is metadata;
    * nothing ever rewrites — the table grows by immutable files
    * exactly as a 100 TB ingest table does.
    */
  val q94StreamIngestTxlogAppend = Q(
    "q94_stream_ingest_txlog_append",
    s"""SELECT doc_id, source, quality
       |FROM (${Curation.c09IncrementalIngest.sql.get})
       |WHERE verdict = 'accepted'
       |ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    streamIngestTxlogAppend(s, d, nChunks = 4)
  }

  /** The q94 sink body, exposed so the idempotency spec can re-invoke
    * it with an already-committed batch id: write the batch as the
    * commit's immutable data file, then the one-line commit — both
    * keyed by the batch id, both skipped when the commit already
    * exists (the redelivery case).
    */
  private[graft] def txAppendBatch(files: String, logDir: java.nio.file.Path)(
      batch: org.apache.spark.sql.DataFrame, id: Long): Unit = {
    val commitFile = logDir.resolve(f"$id%08d.json")
    if (!java.nio.file.Files.exists(commitFile)) {
      // overwrite mode: a crash BETWEEN data write and commit write
      // leaves an uncommitted file the replay never reads and the
      // redelivered batch safely overwrites
      batch.write.mode("overwrite").parquet(s"$files/add_$id")
      java.nio.file.Files.write(commitFile,
        s"""{"action":"add","path":"add_$id"}""".getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
    } else {
      // redelivered batch: the commit exists, the append is a no-op —
      // drain the frame (foreachBatch must process every partition)
      batch.write.format("noop").mode("overwrite").save()
    }
  }

  /** Returns (corpus content-hash frame `h STRING`, near-dup-hit doc
    * ids `doc_id BIGINT`): the ingest gate's BATCH-PRECOMPUTED corpus
    * sides — the standing corpus's content-hash set and the shard's
    * near-dup-hit doc ids — read from an [[graft.Artifact]]. Two
    * reasons, both measured:
    * (1) a stream-static join's static subtree RE-EXECUTES on every
    *     micro-batch (MicroBatchExecution re-plans the whole frame
    *     per trigger) — q94's 4 triggers and q95's 2×4 each re-ran
    *     the full corpus winnowing per batch; materializing turns
    *     per-trigger work into one tiny parquet scan + broadcast
    *     build (guide §2.4: remove repeated work feeding an
    *     exchange);
    * (2) q78/q94/q95 all gate against the SAME sides — the
    *     production shape is one nightly membership artifact read by
    *     every gate (the comment below always claimed
    *     "batch-precomputed"; now it physically is).
    */
  private val gateSides = graft.Artifact[(String, String)]("gate_sides")
  private[graft] val gateSidesBuildSec = gateSides.buildNanos
  private[graft] def gateBatchSides(s: org.apache.spark.sql.SparkSession,
      d: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import graft.functions.TextVec.{tokens, winnow16}
    val shard = Seq("src0", "src1")
    val (hashDir, ndDir) = gateSides.memo(d, "documents") {
      val base = tempReplayDir("gatesides")
      val hashOut = base.resolve("corp_hash").toString
      val ndOut = base.resolve("nd_doc_ids").toString
      val docs = graft.Tables.documents(s, d)
      // spread: the md5/winnow projections are per-row CPU off the
      // single-row-group scan (Tables.spread, guide §2.5)
      val corp = graft.Tables.spread(
        docs.filter(!col("source").isin(shard: _*)))
      corp.select(md5(col("text")).as("h")).distinct()
        .write.mode("overwrite").parquet(hashOut)
      val corpFps = corp
        .select(explode(winnow16(tokens(col("text")))).as("fp")).distinct()
      graft.Tables.spread(docs.filter(col("source").isin(shard: _*))
          .filter(Curation.sparkQuality >= 0.5))
        .select(col("doc_id"), explode(winnow16(tokens(col("text")))).as("fp"))
        .join(corpFps, Seq("fp"))
        .select(col("doc_id")).distinct()
        .write.mode("overwrite").parquet(ndOut)
      (hashOut, ndOut)
    }
    (s.read.schema("h STRING").parquet(hashDir),
      s.read.schema("doc_id BIGINT").parquet(ndDir))
  }

  /** q94's ingest gate as a streaming frame, parameterized by which
    * shard source(s) the STREAM carries (q95 runs one writer per
    * source). The gate's batch sides are always computed against the
    * FULL shard set — the standing corpus excludes both arriving
    * shards and the near-dup candidate list covers both, so a doc's
    * verdict is identical whether one stream carries the whole shard
    * (q94) or two writers split it (q95): the per-doc gate never
    * depends on which writer a doc rides with.
    */
  private[graft] def gatedAcceptedStream(s: org.apache.spark.sql.SparkSession,
      d: String, nChunks: Int,
      streamSources: Seq[String]): org.apache.spark.sql.DataFrame = {
    // batch-precomputed corpus sides (metadata of the standing
    // corpus, broadcast onto the stream — q76/q78's split), read
    // from the materialized artifact (see gateBatchSides)
    val (corpHash, ndIds) = gateBatchSides(s, d)
    val ndDocIds = ndIds.withColumn("nd_hit", lit(true))
    orderedShardDocStream(s, d, nChunks,
        cols = Seq("doc_id", "source", "text"), sources = streamSources)
      .select(col("doc_id"), col("source"),
        Curation.sparkQuality.as("quality"), md5(col("text")).as("h_inc"))
      .join(broadcast(corpHash), col("h_inc") === col("h"), "left")
      .join(broadcast(ndDocIds), Seq("doc_id"), "left")
      .filter(col("quality") >= 0.5 && col("h").isNull && col("nd_hit").isNull)
      .select(col("doc_id"), col("source"), col("quality"))
  }

  private[graft] def streamIngestTxlogAppend(s: org.apache.spark.sql.SparkSession,
      d: String, nChunks: Int): org.apache.spark.sql.DataFrame = {
    val accepted = gatedAcceptedStream(s, d, nChunks, Seq("src0", "src1"))
    val base = tempReplayDir("q94tx")
    val files = base.resolve("files").toString
    val logDir = base.resolve("_log")
    java.nio.file.Files.createDirectories(logDir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(files))
    withStatePartitions(s) {
      val query = accepted.writeStream
        .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) =>
          txAppendBatch(files, logDir)(b, id))
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      query.awaitTermination()
    }
    readTxAppendTable(s, files, logDir)
  }

  /** Log replay of the q94 table (the c25 fold): gapless commits
    * `require`d, adds folded, live files read under the pinned
    * schema.
    */
  private[graft] def readTxAppendTable(s: org.apache.spark.sql.SparkSession,
      files: String, logDir: java.nio.file.Path): org.apache.spark.sql.DataFrame = {
    val logPath = new org.apache.hadoop.fs.Path(logDir.toString)
    val fs = logPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val commitNames = fs.listStatus(logPath).map(_.getPath.getName)
      .filter(_.endsWith(".json")).sorted
    commitNames.zipWithIndex.foreach { case (n, i) =>
      require(n == f"$i%08d.json", s"gap in the commit log at $n (expected #$i)")
    }
    val live = s.read.schema("action STRING, path STRING")
      .json(logDir.toString)
      .collect()
      .map { r => require(r.getString(0) == "add", s"unexpected action ${r.getString(0)}")
        r.getString(1) }
      .sorted
    require(live.nonEmpty, "q94: no commits were written")
    s.read.schema("doc_id BIGINT, source STRING, quality DOUBLE")
      .parquet(live.toSeq.map(p => s"$files/$p"): _*)
      .orderBy(col("doc_id"))
  }

  /** CONCURRENT STREAMING WRITERS UNDER OPTIMISTIC CONCURRENCY (q95
    * — the composition proof for the two newest lakehouse pillars:
    * q94 writes a txlog exactly-once from ONE stream; c30 arbitrates
    * racing writers on a static table; production runs BOTH at once
    * — think per-region ingest streams sharing one corpus table, or
    * ingest racing compaction). Two AvailableNow streams — one per
    * shard source, each running q94's full ingest gate — append to
    * ONE transaction log through c30's protocol: every commit races
    * the writer's optimistic next-slot via the atomic-create
    * primitive, and a loser resolves (validates disjointness against
    * every commit it lost to — appends always are) and retries at
    * the next slot. Writer views advance only through their own
    * commits and discovered losses, so whichever writer lands its
    * first commit SECOND must lose slot 0 — at least one lost-slot
    * retry happens in EVERY schedule, and the registered query
    * `require`s it (ConcurrentWritersSpec re-pins it plus
    * concurrent ≡ serial row-for-row).
    *
    * Exactly-once composes with OCC at the APP level (Delta's
    * SetTransaction idempotence): commit slots are global, so a
    * redelivered batch can't key on "my slot exists" — each writer
    * tracks its own committed batch ids and drains redeliveries
    * without re-committing.
    *
    * The oracle is q94's verbatim (the serial union), so the hash
    * gate proves race ∘ resolve ∘ merged replay ≡ one writer doing
    * all the work — serializability of concurrent stream appends at
    * file granularity. Scale shape: per-trigger cost is the batch's
    * gate work + one data file + one metadata commit; contention
    * cost is one re-validate per lost slot (reads only the lost
    * commits' action lists), independent of table size.
    */
  val q95ConcurrentTxlogWriters = Q(
    "q95_concurrent_txlog_writers",
    q94StreamIngestTxlogAppend.sql.get
  ) { (s, d) => concurrentTxlogWriters(s, d, nChunks = 4)._1 }

  /** q95's body, factored so ConcurrentWritersSpec can read the
    * lost-slot count. Returns (the merged-table replay, slots lost
    * across both writers).
    */
  private[graft] def concurrentTxlogWriters(s: org.apache.spark.sql.SparkSession,
      d: String, nChunks: Int): (org.apache.spark.sql.DataFrame, Long) = {
    val base = tempReplayDir("q95tx")
    val files = base.resolve("files").toString
    val logDir = base.resolve("_log")
    java.nio.file.Files.createDirectories(logDir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(files))
    val lost = new java.util.concurrent.atomic.AtomicLong(0)
    // one sink per writer: its own optimistic view, its own app-level
    // batch-id set (exactly-once), the SHARED slot sequence
    def writerSink(w: String): (org.apache.spark.sql.DataFrame, Long) => Unit = {
      val view = new java.util.concurrent.atomic.AtomicInteger(0)
      val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
      (batch, id) =>
        if (!seen.add(id)) {
          // redelivered batch: already committed under (writer, id) —
          // drain (foreachBatch must process every partition)
          batch.write.format("noop").mode("overwrite").save()
        } else {
          val path = s"${w}_add_$id"
          batch.write.mode("overwrite").parquet(s"$files/$path")
          val tx = Curation.TxActions(removes = Nil, adds = Seq(path))
          val attempt = view.get()
          val landed = Curation.resolveAndRetry(
            batch.sparkSession, logDir, attempt, tx)
          lost.addAndGet((landed - attempt).toLong)
          view.set(landed + 1)
        }
    }
    withStatePartitions(s) {
      val queries = Seq("src0", "src1").map { src =>
        gatedAcceptedStream(s, d, nChunks, Seq(src)).writeStream
          .foreachBatch(writerSink(src))
          .option("checkpointLocation", base.resolve(s"ckpt_$src").toString)
          .trigger(Trigger.AvailableNow())
          .start()
      }
      queries.foreach(_.awaitTermination())
    }
    require(lost.get() >= 1,
      "the two writers never contended for a commit slot — the OCC path " +
        "went unexercised (impossible: the second first-commit must lose v0)")
    (readTxAppendTable(s, files, logDir), lost.get())
  }

  /** STREAMING INCREMENTAL VIEW MAINTENANCE off the change feed (q96
    * — the consumer c33 exists for; Delta CDF → MERGE-maintained
    * materialized view, the pattern every warehouse's "streaming
    * table → live dashboard" path runs): a stream TAILS the
    * transaction log (file source over the commit dir, one commit
    * per trigger, mtimes staggered in version order — the
    * [[orderedEventsChunkStream]] discipline), computes each
    * commit's row-level change feed from its TOUCHED FILES ONLY
    * ([[Curation.txlogChangeRows]]), and folds the uniform delta
    * algebra into a per-bucket materialized view:
    * `n += Σ sign`, `sum_doc_id += Σ sign·doc_id`,
    * `content_xor ^= xor(all change-row digests)` — sign is +1 for
    * insert/update_postimage, −1 for delete/update_preimage, and
    * xor needs no sign because it is its own inverse. The query
    * emits the view AFTER EVERY version, and the oracle spells each
    * version's expected view declaratively from the residue algebra
    * — so the hash gate proves six consecutive incremental folds ≡
    * six from-scratch aggregations, including that the v5 pure
    * compaction leaves the view bit-identical.
    *
    * Scale shape: per trigger the work is the commit's touched-file
    * scan + one view-sized merge — cost ∝ churn + view, never table
    * (an MV over a 100 TB table refreshes from a 100 MB commit in
    * commit time; the from-scratch alternative re-scans 100 TB). The
    * per-commit action collect is metadata-sized (the same read
    * every Delta client performs); the view itself never touches the
    * driver.
    */
  val q96StreamCdfViewMaintenance = Q(
    "q96_stream_cdf_view_maintenance",
    """WITH v AS (SELECT CAST(unnest(generate_series(0, 5)) AS BIGINT) AS version),
      |lv AS (
      |  SELECT v.version, d.doc_id,
      |         CASE WHEN v.version >= 4 AND d.doc_id % 16 = 5
      |              THEN 'upd:' || d.text ELSE d.text END AS text
      |  FROM v JOIN documents d ON (
      |    CASE CAST(v.version AS INT)
      |      WHEN 0 THEN d.doc_id % 16 <= 7
      |      WHEN 1 THEN TRUE
      |      WHEN 2 THEN d.doc_id % 16 NOT IN (3, 7)
      |      WHEN 3 THEN d.doc_id % 16 <> 7
      |      ELSE d.doc_id % 16 NOT IN (7, 9) END)
      |  UNION ALL
      |  SELECT v.version, d.doc_id + 16000000, 'ins:' || d.text
      |  FROM v JOIN documents d ON v.version >= 4 AND d.doc_id % 16 = 1
      |)
      |SELECT version, doc_id % 16 AS bucket, CAST(count(*) AS BIGINT) AS n_docs,
      |  bit_xor(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 15) AS BIGINT)) AS content_xor,
      |  CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
      |FROM lv GROUP BY version, doc_id % 16
      |ORDER BY version, bucket""".stripMargin
  ) { (s, d) => cdfViewMaintenance(s, d) }

  private[graft] def cdfViewMaintenance(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    // the fixture is the memoized shared table (commit mtimes already
    // staggered at build); ckpt + view live in a FRESH per-run dir so
    // every invocation replays the full stream — the memo amortizes
    // only the table build, never the measured streaming work
    val (files, _) = Curation.txlogTableWithChanges(s, d)
    val logDir = java.nio.file.Paths.get(files).getParent.resolve("_log")
    val base = tempReplayDir("q96run")
    val viewRoot = base.resolve("view").toString
    val viewSchema = "bucket BIGINT, n_docs BIGINT, content_xor BIGINT, sum_doc_id BIGINT"
    val digestXor = expr("bit_xor(CAST(conv(substr(md5(CAST(doc_id AS STRING) " +
      "|| ':' || text), 1, 15), 16, 10) AS BIGINT))")
    val isPost = col("change_type").isin("insert", "update_postimage")
    val src = s.readStream.schema("action STRING, path STRING")
      .option("maxFilesPerTrigger", 1)
      .json(logDir.toString)
      .select(col("action"), col("path"),
        regexp_extract(input_file_name(), "(\\d+)\\.json", 1)
          .cast("int").as("version"))
    // SHUFFLE RIGHT-SIZING for the per-trigger batch jobs (r15
    // optimization; the stateShufflePartitions curve applied to the
    // foreachBatch body): each trigger runs a touched-files diff join
    // + a 16-bucket groupBy + a view-sized merge, and at the
    // session's 32 partitions each of those tiny stages paid 32 tasks
    // of scheduling ×6 versions. Partitions derive from the DATA
    // FILES' byte size (the churn bound — a 100 TB table's commit
    // touches files, never the table), saturating at the session's
    // parallelism; the delta algebra is partitioning-free.
    recordSourceBytes(s, new java.io.File(files))
    val q96Parts = stateShufflePartitions(s)
    s.conf.unset(SourceBytesKey) // consume-and-clear, as withStatePartitions does
    val query = src.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        // one commit per trigger (maxFilesPerTrigger=1, mtimes
        // staggered), so the BATCH ID is the version — derived
        // independently of the rows because a legitimate commit can
        // be EMPTY (a tiny fixture's remove commit with nothing
        // present) and its view snapshot must still materialize.
        // The actions collect is metadata-sized, the same read every
        // Delta client performs on a discovered commit.
        val v = id.toInt
        val acts = batch.select("version", "action", "path").collect()
        acts.foreach(r => require(r.getInt(0) == v,
          s"q96: batch $v carried commit v${r.getInt(0)} — " +
            "the log tail is out of order"))
        locally {
          val tx = Curation.TxActions(
            acts.filter(_.getString(1) == "remove").map(_.getString(2)).toSeq,
            acts.filter(_.getString(1) == "add").map(_.getString(2)).toSeq)
          val delta = Curation.txlogChangeRows(s, files, tx)
            .groupBy((col("doc_id") % 16).as("bucket"))
            .agg(sum(when(isPost, 1L).otherwise(-1L)).as("dn"),
              digestXor.as("dxor"),
              sum(when(isPost, col("doc_id")).otherwise(-col("doc_id")))
                .as("dsum"))
          val old =
            if (v == 0)
              s.range(0).select(col("id").as("bucket"), col("id").as("n_docs"),
                col("id").as("content_xor"), col("id").as("sum_doc_id"))
            else {
              val prev = java.nio.file.Paths.get(viewRoot, s"v=${v - 1}")
              require(java.nio.file.Files.exists(prev),
                s"q96: commit v$v arrived before v${v - 1}'s view was " +
                  "materialized — the log tail is out of order")
              s.read.schema(viewSchema).parquet(prev.toString)
            }
          old.join(delta, Seq("bucket"), "full_outer")
            .select(col("bucket"),
              (coalesce(col("n_docs"), lit(0L))
                + coalesce(col("dn"), lit(0L))).as("n_docs"),
              // xor with the 0 identity ≡ bit_xor over surviving rows
              coalesce(col("content_xor"), lit(0L))
                .bitwiseXOR(coalesce(col("dxor"), lit(0L))).as("content_xor"),
              (coalesce(col("sum_doc_id"), lit(0L))
                + coalesce(col("dsum"), lit(0L))).as("sum_doc_id"))
            .filter(col("n_docs") > 0) // an emptied bucket leaves the view
            .write.mode("overwrite").parquet(s"$viewRoot/v=$v")
        }
      }
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
    graft.Tables.withShufflePartitions(s, q96Parts) {
      graft.Runeset.withConf(s, replayFixedCostConfs: _*) {
        val running = query.start()
        running.awaitTermination()
      }
    }
    s.read.schema(viewSchema).option("basePath", viewRoot)
      .parquet(s"$viewRoot/v=*")
      .select(col("v").cast("long").as("version"), col("bucket"),
        col("n_docs"), col("content_xor"), col("sum_doc_id"))
      .orderBy(col("version"), col("bucket"))
  }

  /** q93's decade decomposition: index build (the amortized nightly
    * term) timed apart from the STREAMING GATE REPLAY of a FIXED
    * shard (capped at the base fixture's ids — ScaleGen replicas
    * re-key upward) — replay_sec staying ~flat while the corpus and
    * index grow 10× is the per-trigger-cost-∝-trigger-batch claim,
    * measured end to end (both gate halves, all triggers, sink
    * included).
    */
  private[graft] def q93ProbeStats(s: org.apache.spark.sql.SparkSession,
      d: String, nChunks: Int,
      deltaMaxDocId: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val t0 = System.nanoTime()
    val (idxPath, prefixLen, nSets) = graft.operators.Dedup.d16BuildIndex(s, d)
    val buildSec = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val nPairs = nearDupGateReplayOn(s, d, nChunks, idxPath, deltaMaxDocId).count()
    val replaySec = (System.nanoTime() - t1) / 1e9
    Seq((nSets, prefixLen, nChunks, nPairs, buildSec, replaySec))
      .toDF("corpus_sets", "prefix_len", "n_triggers", "n_pairs",
        "build_sec", "replay_sec")
  }

  /** The gate's replay against an ALREADY-BUILT index — the scale
    * probe times this separately from the amortized index build.
    */
  private[graft] def nearDupGateReplayOn(s: org.apache.spark.sql.SparkSession,
      d: String, nChunks: Int, idxPath: String,
      deltaMaxDocId: Option[Long]): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    import graft.functions.TextVec.tokenSet
    val idx = graft.Tables.parquet(s, idxPath)
      .select(col("rep_id"), col("ts"), col("band"), col("h"))
    // ONE ordered copy, ONE streaming query: both gate halves fan out
    // from the same band-emission node and union into one sink, so
    // each trigger pays the micro-batch machinery once (the original
    // two-replay shape paid two ordered-copy writes and two full
    // AvailableNow replays — measured ~4 s of pure duplication at
    // sf0.1). The within half's jaccard rides as NULL through the
    // sink and is recomputed declaratively batch-side (see
    // NearDupGateProcessor's Scaladoc for why).
    val bands = graft.operators.Dedup.bandEmission(
      orderedShardDocStream(s, d, nChunks, deltaMaxDocId)
        .select(col("doc_id").as("rep_id"), array_sort(tokenSet(col("text"))).as("ts")))
    val cross = bands.alias("n")
      .join(idx.alias("c"),
        col("n.band") === col("c.band") && col("n.h") === col("c.h"))
      .select(col("n.rep_id").as("id_new"), col("c.rep_id").as("id_match"),
        graft.functions.SortedArrayJaccard(col("n.ts"), col("c.ts")).as("jaccard"))
      .filter(col("jaccard") >= 0.9)
      .withColumn("kind", lit("corpus"))
    val within = graft.streaming.NearDupGate.withinStreamPairs(
        bands.select(col("band"), col("h"), col("rep_id"), col("ts"))
          .as[graft.streaming.BandRow])
      .toDF()
      .select(col("id_new"), col("id_match"),
        lit(null).cast("double").as("jaccard"), lit("stream").as("kind"))
    val unioned = cross
      .select(col("id_new"), col("id_match"), col("jaccard"), col("kind"))
      .unionByName(within)
    val raw = fileSinkReplay(s, unioned, "q93", RocksDbStateStore)
      .distinct() // a pair can match in both bands
    val shardSets = graft.Tables.documents(s, d)
      .filter(col("source").isin("src0", "src1"))
      .select(col("doc_id"), array_sort(tokenSet(col("text"))).as("ts"))
    val withinPairs = raw.filter(col("kind") === "stream")
      .select(col("id_new"), col("id_match"), col("kind"))
      .join(shardSets.alias("a"), col("id_new") === col("a.doc_id"))
      .join(shardSets.alias("b"), col("id_match") === col("b.doc_id"))
      .select(col("id_new"), col("id_match"), col("kind"),
        graft.functions.SortedArrayJaccard(col("a.ts"), col("b.ts")).as("jaccard"))
    raw.filter(col("kind") === "corpus")
      .select(col("id_new"), col("id_match"), col("kind"), col("jaccard"))
      .unionByName(withinPairs
        .select(col("id_new"), col("id_match"), col("kind"), col("jaccard")))
      .orderBy(col("kind"), col("id_new"), col("id_match"))
  }

  /** [[orderedEventsChunkStream]]'s geometry for q90 — BOTH stateful
    * operators evict between triggers (join state drops closed 12 h
    * windows, agg state finalizes closed days), the shape that keeps
    * the pipeline bounded where the single-batch replay holds the
    * whole history in join state.
    */
  private[graft] def joinAggReplayChunked(s: org.apache.spark.sql.SparkSession,
      d: String, nChunks: Int): org.apache.spark.sql.DataFrame =
    joinAggReplay(s, orderedEventsChunkStream(s, d, nChunks), "chunked_joinagg")

  /** [[orderedEventsChunkStream]]'s geometry for q92 — sessions
    * spanning chunk boundaries keep accumulating in ValueState, armed
    * timers are re-armed as `last_seen` advances, and a mid-stream
    * watermark can fire a key's timer BEFORE that user's next (≥ 8 h
    * later) event arrives — so the SESSION ROWS are identical to the
    * single-batch replay while `closed_by` may legitimately read
    * 'timer' where the single batch (which sees the later event
    * first) reads 'gap'. StreamChunkedReplaySpec pins the rows minus
    * that label.
    */
  private[graft] def timerSessionReplayChunked(s: org.apache.spark.sql.SparkSession,
      d: String, nChunks: Int): org.apache.spark.sql.DataFrame =
    timerSessionReplay(s, orderedEventsChunkStream(s, d, nChunks),
      "chunked_timer_session")

  def all: Seq[Q] = Seq(q71StreamReplay, q72Sessionize, q73StreamJoinReplay,
    q74StreamDedupReplay, q75StreamCastReplay, q76StreamStaticJoin,
    q77StreamChunkReplay, q78StreamIngestGate, q79StreamLmGate,
    q80StreamUrlGate, q81StreamTopkReplay, q82StreamOuterJoinReplay,
    q83StreamSemiJoinReplay, q84StreamFullOuterJoinReplay,
    q85StreamDedupTtlReplay, q86StreamUpdateAggReplay, q87StatestoreRange,
    q88StreamSessionReplay, q90StreamJoinAggReplay, q92TimerSessionReplay,
    q93StreamNearDupGate, q94StreamIngestTxlogAppend,
    q95ConcurrentTxlogWriters, q96StreamCdfViewMaintenance)
}
