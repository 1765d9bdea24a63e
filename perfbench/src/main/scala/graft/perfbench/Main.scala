package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.util.Random
import org.apache.spark.sql.SparkSession

/** Every metric the benchmark emits, with its unit. BENCHMARK.json at
  * the repo root declares the same names and units.
  */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pass_s" -> "s", "op_p50_s" -> "s", "cpu_s" -> "s")

  val perLayer: Seq[(String, String)] = Seq(
    "op_tail_s" -> "s", "peak_rss_mb" -> "MB", "casts_per_s" -> "1/s", "ns_per_cast_single" -> "ns",
    "trigger_p50_ms" -> "ms", "trigger_tail_ms" -> "ms",
    "engine.codec_roundtrip_ns" -> "ns", "engine.codec_bytes_per_event" -> "bytes",
    "engine.loop_ns_per_cast" -> "ns", "engine.hops_per_seed" -> "count",
    "engine.loop_share" -> "ratio",
    "operators.build_s" -> "s", "operators.action_s" -> "s", "plan.queries" -> "count",
    "plan.analysis_ms" -> "ms", "plan.optimization_ms" -> "ms", "plan.planning_ms" -> "ms",
    "codegen.compiles" -> "count", "codegen.compile_ms" -> "ms",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.scheduler_delay_s" -> "s", "sched.driver_gap_s" -> "s", "sched.task_skew" -> "ratio",
    "exec.run_s" -> "s", "exec.cpu_s" -> "s", "exec.gc_s" -> "s", "exec.deser_s" -> "s",
    "exec.busy_ratio" -> "ratio",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.fetch_wait_s" -> "s", "spill.bytes" -> "bytes",
    "scan.bytes_read" -> "bytes", "scan.records_read" -> "count",
    "storage.blocks_put" -> "count", "storage.bytes_put" -> "bytes", "storage.rdds_left" -> "count",
    "memo.build_s" -> "s", "memo.timed_builds" -> "count",
    "stream.triggers" -> "count", "stream.input_rows" -> "count",
    "stream.planning_ms" -> "ms", "stream.addbatch_ms" -> "ms", "stream.walcommit_ms" -> "ms",
    "stream.commitoffsets_ms" -> "ms", "stream.latestoffset_ms" -> "ms",
    "stream.state_rows" -> "count", "stream.state_mem_bytes" -> "bytes",
    "stream.state_commit_ms" -> "ms", "stream.sink_bytes" -> "bytes",
    "stream.trigger_cover" -> "ratio",
    "jvm.gc_s" -> "s", "jvm.jit_ms" -> "ms",
    "self.pass_s" -> "s", "self.op_s" -> "s", "self.build_s" -> "s", "self.action_s" -> "s",
    "self.trigger_s" -> "s", "self.planner_s" -> "s", "self.job_s" -> "s", "self.stage_s" -> "s",
    "trace.overhead_ratio" -> "ratio")

  val NamePattern = "[A-Za-z0-9_.-]+"
}

object Main {

  /** Member lists. The seed permutes their order in every pass. */
  val BatchMembers: Seq[String] = Seq(
    "q02_filter_project", "q10_join_inner", "q30_window_rank", "q40_sort_limit",
    "q64_json_props", "d06_embedding_near_dup")
  val StreamMembers: Seq[String] = Seq(
    "q77_stream_chunk_replay", "q85_stream_dedup_ttl_replay",
    "q94_stream_ingest_txlog_append")
  val Workloads: Seq[String] = Seq("spell_cast", "batch_queries", "stream_replay")
  /** One-partition casts a traced spell_cast run makes after its passes. */
  val SingleCasts = 5

  final case class Args(workload: String = "", seed: Long = 1, seconds: Double = 10,
      trace: Boolean = false, benchDir: String = "perfbench",
      // the sf0.1 fixture, at its documented place under the home
      // directory (TESTDATA.md) unless PERFBENCH_SF_DIR says otherwise
      sfDir: String = sys.env.getOrElse("PERFBENCH_SF_DIR",
        s"${sys.props("user.home")}/testdata/sf0.1"),
      expect: Boolean = false, checkDir: Option[String] = None)

  def parse(args: List[String], a: Args = Args()): Args = args match {
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--bench-dir" :: v :: t => parse(t, a.copy(benchDir = v))
    case "--expect" :: t => parse(t, a.copy(expect = true))
    case "--check-dir" :: v :: t => parse(t, a.copy(checkDir = Some(v)))
    case Nil => a
    case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  def session(): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    require(new File(a.sfDir).isDirectory, s"fixture directory ${a.sfDir} is missing")
    (a.expect, a.checkDir) match {
      case (true, _) => Expect.write(a)
      case (_, Some(dir)) => if (!Expect.check(a, dir)) sys.exit(1)
      case _ =>
        require(Workloads.contains(a.workload), s"--workload must be one of ${Workloads.mkString(", ")}")
        val spark = session()
        try new Run(spark, a).execute() finally spark.stop()
    }
  }

  def expectedDigests(benchDir: String): Map[String, String] = {
    val f = Paths.get(benchDir, "expected.json")
    if (!Files.exists(f)) Map.empty
    else "\"([a-z0-9_]+)\"\\s*:\\s*\"([0-9]+:[0-9a-f]+)\"".r
      .findAllMatchIn(Files.readString(f)).map(m => m.group(1) -> m.group(2)).toMap
  }

  /** Content hash of the fixture (names and bytes), host-independent. */
  def fixtureSha(dir: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName).foreach(walk)
      else { md.update(f.getName.getBytes("UTF-8")); md.update(Files.readAllBytes(f.toPath)) }
    walk(new File(dir))
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  /** `Tables.sourceFingerprint` (name, size, mtime) of the fixture. */
  def tablesFingerprint(dir: String): String = graft.Tables.sourceFingerprint(new File(dir))

  /** The five process memos' cumulative build seconds, by name. */
  def memoSeconds(): Map[String, Double] = {
    import graft.operators.{Curation, Dedup, StreamReplay}
    Map(
      "keptKernelBuildSec" -> Curation.keptKernelBuildSec,
      "txlogChangesBuildSec" -> Curation.txlogChangesBuildSec,
      "d16IndexBuildSec" -> Dedup.d16IndexBuildSec,
      "orderedFixtureBuildSec" -> StreamReplay.orderedFixtureBuildSec,
      "gateSidesBuildSec" -> StreamReplay.gateSidesBuildSec).map { case (k, v) => k -> v.get() / 1e9 }
  }

  def json(metrics: Seq[(String, String, Double)]): String =
    metrics.map { case (n, u, v) => s""""$n":{"value":$v,"unit":"$u"}""" }.mkString("{", ",", "}")
}

/** One pass. Its wall and CPU time add up its ops only: the
  * housekeeping and bookkeeping between ops are left out.
  */
final case class PassResult(index: Int, traced: Boolean, startMs: Double,
    endMs: Double, ops: Seq[OpOutcome], rddsLeft: Int, counters: Option[LayerCounters],
    gcMs: Long, jitMs: Long, compiles: Long, cpuNs: Long) {
  def wallS: Double = ops.map(_.wallS).sum
}

/** One benchmark run: setup, untimed warm-up passes, then closed-loop
  * timed passes for `--seconds`.
  */
final class Run(spark: SparkSession, a: Main.Args) {
  import Main._

  private val cores = spark.sparkContext.defaultParallelism
  private val workload: Workload = a.workload match {
    case "spell_cast" => new SpellWorkload(spark, a.sfDir, a.seed)
    case "batch_queries" => new QueryWorkload(spark, a.sfDir, BatchMembers, expectedDigests(a.benchDir))
    case "stream_replay" => new QueryWorkload(spark, a.sfDir, StreamMembers, expectedDigests(a.benchDir))
  }
  private val tracer = if (a.trace) Some(new Tracer(spark)) else None

  private var attempted = 0
  private var failed = 0
  private var timedMemoGrowth = 0

  private def record(o: OpOutcome): Unit = {
    attempted += 1
    o.error.foreach { e => failed += 1; System.err.println(s"[perfbench] ${o.member} failed: $e") }
  }

  private def order(pass: Int): Seq[String] =
    new Random(a.seed * 1000003L + pass).shuffle(Seq.fill(workload.repeats)(workload.members).flatten)

  private def runPass(index: Int, traced: Boolean): PassResult = {
    val counters = if (traced) tracer.map(_.attach(index)) else { tracer.foreach(_.detach()); None }
    val gc0 = JvmCounters.gcMs
    val jit0 = JvmCounters.jitMs
    val cg0 = org.apache.spark.perfbench.SparkBridge.codegenCompiles
    val t0 = Clock.nowMs
    var rddsLeft = 0
    var cpuNs = 0L
    val ops = order(index).zipWithIndex.map { case (m, j) =>
      val memo0 = memoSeconds()
      val rdds0 = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val id = s"$index/$j/$m"
      if (traced) tracer.foreach(_.startOp(id))
      val cpu0 = JvmCounters.processCpuNs
      val o = workload.run(m)
      cpuNs += JvmCounters.processCpuNs - cpu0
      if (traced) tracer.foreach { t =>
        t.drain()
        t.span("op", m, o.startMs, o.endMs, index, id)
        t.span("operators.build", m, o.startMs, o.builtMs, index, id)
        t.span("action", m, o.builtMs, o.endMs, index, id)
      }
      record(o)
      if (index > 0) {
        val grown = memoSeconds().count { case (k, v) => v > memo0.getOrElse(k, 0.0) }
        if (grown > 0) System.err.println(s"[perfbench] $m rebuilt $grown memo(s) in a timed pass")
        timedMemoGrowth += grown
      }
      rddsLeft += spark.sparkContext.getPersistentRDDs.keys.count(id => !rdds0.contains(id))
      workload.housekeeping()
      o
    }
    val t1 = Clock.nowMs
    if (traced) tracer.foreach { t => t.drain(); t.span("pass", s"pass $index", t0, t1, index, index.toString) }
    PassResult(index, traced, t0, t1, ops, rddsLeft, counters,
      JvmCounters.gcMs - gc0, JvmCounters.jitMs - jit0,
      org.apache.spark.perfbench.SparkBridge.codegenCompiles - cg0, cpuNs)
  }

  def execute(): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val s0 = Clock.nowMs
    workload.setup()
    val s1 = Clock.nowMs
    // untimed: JIT, codegen, the process memos
    (1 to workload.warmupPasses).foreach(_ => runPass(0, traced = false))
    val setupS = (Clock.nowMs - jvmStartMs) / 1e3
    System.err.println(f"[perfbench] setup: session ${(s0 - jvmStartMs) / 1e3}%.2f s, " +
      f"inputs ${(s1 - s0) / 1e3}%.2f s, warm-up ${(Clock.nowMs - s1) / 1e3}%.2f s")
    val memoBuildS = memoSeconds().values.sum

    val w0 = Clock.nowMs
    val done = scala.collection.mutable.ArrayBuffer.empty[PassResult]
    while (done.length < workload.minPasses || (Clock.nowMs - w0) / 1e3 < a.seconds)
      // a traced run alternates traced and untraced passes, starting
      // traced, so trace.overhead_ratio compares like with like
      done += runPass(done.length + 1, traced = a.trace && done.length % 2 == 0)
    tracer.foreach(_.detach())
    // the one-partition casts, untraced and outside the passes
    val singles = workload match {
      case w: SpellWorkload if a.trace =>
        w.singleOps(SingleCasts).map { case (o, loopS) => record(o); (o.wallS, loopS) }
      case _ => Nil
    }

    val opWalls = done.toSeq.flatMap(_.ops.map(_.wallS))
    val memberP50 = done.toSeq.flatMap(_.ops).groupBy(_.member).toSeq.sortBy(_._1).map { case (m, os) =>
      val p50 = Stats.median(os.map(_.wallS))
      System.err.println(f"[perfbench] $m%-34s p50 $p50%.3f s over ${os.length}: " +
        os.map(o => f"${o.wallS}%.3f").mkString(" "))
      p50
    }
    val tail = Stats.tail(opWalls)
    System.err.println("[perfbench] pass walls " + done.map(p => f"${p.wallS}%.3f").mkString(" "))
    val env = Seq(
      "workload" -> a.workload, "seed" -> a.seed.toString, "nproc" -> cores.toString,
      "heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
      "spark" -> spark.version, "sf_dir" -> a.sfDir,
      "fixture_sha" -> fixtureSha(a.sfDir), "tables_fingerprint" -> tablesFingerprint(a.sfDir),
      "passes" -> done.length.toString, "ops" -> opWalls.length.toString,
      "op_tail_percentile" -> tail.percentile.toString, "op_tail_beyond" -> tail.beyond.toString,
      "memo_build_s" -> memoBuildS.toString, "memo_timed_builds" -> timedMemoGrowth.toString)
    println(env.map { case (k, v) => s""""$k":"$v"""" }.mkString("""{"perfbench_env":{""", ",", "}}"))

    val metrics: Seq[(String, Double)] =
      if (!a.trace) Seq(
        "setup_s" -> setupS,
        "pass_s" -> Stats.median(done.map(_.wallS).toSeq),
        // the median member's median: pooled op samples jump between
        // neighbouring members from run to run
        "op_p50_s" -> Stats.median(memberP50),
        "cpu_s" -> Stats.median(done.map(_.cpuNs / 1e9).toSeq))
      else perLayer(done.toSeq, memoBuildS, tail, singles)
    val units = (Metrics.endToEnd ++ Metrics.perLayer).toMap
    metrics.foreach { case (n, v) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is not finite: $v")
    }
    val correct = failed == 0
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":${
      json(metrics.map { case (n, v) => (n, units(n), v) })}}""")
  }

  private def perLayer(done: Seq[PassResult], memoBuildS: Double,
      tail: Stats.Tail, singles: Seq[(Double, Double)]): Seq[(String, Double)] = {
    val traced = done.filter(_.traced)
    val untraced = done.filterNot(_.traced)
    val n = traced.length.toDouble
    val cs = traced.flatMap(_.counters)
    def per(f: LayerCounters => Double): Double = cs.map(f).sum / n
    val spans = tracer.get.allSpans.filter(s => traced.exists(_.index == s.pass))
    writeSpans(tracer.get.allSpans)
    val self = Span.selfMs(spans)
    val opsN = traced.map(_.ops.length).sum.toDouble
    val wallS = traced.map(_.wallS).sum
    val jobIvs = spans.filter(_.kind == "spark.job").map(s => (s.startMs, s.endMs))
    val gapS = traced.flatMap(_.ops).map(o => o.wallS - Span.coveredMs(jobIvs, o.startMs, o.endMs) / 1e3).sum / n
    val trig = cs.flatMap(_.triggerMs)
    val shapes = traced.flatMap(_.ops).groupBy(_.member).map { case (m, os) => m -> Stats.median(os.map(_.wallS)) }
    val (spellMetrics, loopShare) = workload match {
      case w: SpellWorkload =>
        (w.engineProbe() ++ Map(
          "casts_per_s" -> w.casts / shapes("parallel"),
          "ns_per_cast_single" -> Stats.median(singles.map(_._1)) * 1e9 / w.casts,
          "engine.loop_ns_per_cast" -> Stats.median(singles.map(_._2)) * 1e9 / w.casts),
          // per pair: the loop and the job it is compared with ran back to back
          Stats.median(singles.map { case (job, loop) => loop / job }))
      case _ => (Map.empty[String, Double], 0.0)
    }
    val cgMean = org.apache.spark.perfbench.SparkBridge.codegenMeanMs
    val values: Map[String, Double] = spellMetrics ++ Map(
      "op_tail_s" -> tail.value,
      "peak_rss_mb" -> JvmCounters.peakRssMb,
      "engine.loop_share" -> loopShare,
      "trigger_p50_ms" -> (if (trig.isEmpty) 0.0 else Stats.median(trig)),
      "trigger_tail_ms" -> (if (trig.isEmpty) 0.0 else Stats.tail(trig).value),
      "operators.build_s" -> traced.flatMap(_.ops.map(_.buildS)).sum / n,
      "operators.action_s" -> traced.flatMap(_.ops.map(_.actionS)).sum / n,
      "plan.queries" -> cs.map(_.queries).sum / opsN,
      "plan.analysis_ms" -> per(_.planMs("analysis")),
      "plan.optimization_ms" -> per(_.planMs("optimization")),
      "plan.planning_ms" -> per(_.planMs("planning")),
      "codegen.compiles" -> traced.map(_.compiles).sum / n,
      "codegen.compile_ms" -> traced.map(_.compiles).sum * (if (cgMean.isNaN) 0.0 else cgMean) / n,
      "sched.jobs" -> per(_.jobs.toDouble),
      "sched.stages" -> per(_.stages.toDouble),
      "sched.tasks" -> per(_.tasks.toDouble),
      "sched.scheduler_delay_s" -> per(_.schedDelayMs) / 1e3,
      "sched.driver_gap_s" -> gapS,
      "sched.task_skew" -> { val k = cs.flatMap(_.stageSkews); if (k.isEmpty) 0.0 else Stats.median(k) },
      "exec.run_s" -> per(_.runMs) / 1e3,
      "exec.cpu_s" -> per(_.cpuNs.toDouble) / 1e9,
      "exec.gc_s" -> per(_.gcMs) / 1e3,
      "exec.deser_s" -> per(_.deserMs) / 1e3,
      "exec.busy_ratio" -> cs.map(_.runMs).sum / 1e3 / (wallS * cores),
      "shuffle.write_bytes" -> per(_.shuffleWrite.toDouble),
      "shuffle.read_bytes" -> per(_.shuffleRead.toDouble),
      "shuffle.fetch_wait_s" -> per(_.fetchWaitMs) / 1e3,
      "spill.bytes" -> per(_.spill.toDouble),
      "scan.bytes_read" -> per(_.scanBytes.toDouble),
      "scan.records_read" -> per(_.scanRecords.toDouble),
      "storage.blocks_put" -> per(_.blocksPut.toDouble),
      "storage.bytes_put" -> per(_.bytesPut.toDouble),
      "storage.rdds_left" -> traced.map(_.rddsLeft).sum / n,
      "memo.build_s" -> memoBuildS,
      "memo.timed_builds" -> timedMemoGrowth.toDouble,
      "stream.triggers" -> per(_.triggers.toDouble),
      "stream.input_rows" -> per(_.inputRows.toDouble),
      "stream.planning_ms" -> per(_.streamMs("queryPlanning")),
      "stream.addbatch_ms" -> per(_.streamMs("addBatch")),
      "stream.walcommit_ms" -> per(_.streamMs("walCommit")),
      "stream.commitoffsets_ms" -> per(_.streamMs("commitOffsets")),
      "stream.latestoffset_ms" -> per(_.streamMs("latestOffset")),
      "stream.state_rows" -> per(_.stateRows.toDouble),
      "stream.state_mem_bytes" -> per(_.stateMem.toDouble),
      "stream.state_commit_ms" -> per(_.stateCommitMs),
      "stream.sink_bytes" -> per(_.outBytes.toDouble),
      "stream.trigger_cover" -> {
        val trig = spans.filter(_.kind == "stream.trigger").map(s => (s.startMs, s.endMs))
        val builds = spans.filter(_.kind == "operators.build")
        if (trig.isEmpty) 0.0
        else builds.map(b => Span.coveredMs(trig, b.startMs, b.endMs)).sum / builds.map(_.ms).sum
      },
      "jvm.gc_s" -> traced.map(_.gcMs).sum / 1e3 / n,
      "jvm.jit_ms" -> traced.map(_.jitMs).sum / n,
      "self.pass_s" -> self.getOrElse("pass", 0.0) / 1e3 / n,
      "self.op_s" -> self.getOrElse("op", 0.0) / 1e3 / n,
      "self.build_s" -> self.getOrElse("operators.build", 0.0) / 1e3 / n,
      "self.action_s" -> self.getOrElse("action", 0.0) / 1e3 / n,
      "self.trigger_s" -> self.getOrElse("stream.trigger", 0.0) / 1e3 / n,
      "self.planner_s" -> self.getOrElse("planner", 0.0) / 1e3 / n,
      "self.job_s" -> self.getOrElse("spark.job", 0.0) / 1e3 / n,
      "self.stage_s" -> self.getOrElse("spark.stage", 0.0) / 1e3 / n,
      "trace.overhead_ratio" ->
        Stats.median(traced.map(_.wallS)) / Stats.median(untraced.map(_.wallS)))
    Metrics.perLayer.map { case (name, _) => name -> values.getOrElse(name, 0.0) }
  }

  /** Spans go to `<bench-dir>/out/`, one JSON object per line. */
  private def writeSpans(spans: Seq[Span]): Unit = {
    val dir = Paths.get(a.benchDir, "out")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(s"spans-${a.workload}-seed${a.seed}.jsonl"),
      spans.map(_.json).mkString("", "\n", "\n"))
  }
}
