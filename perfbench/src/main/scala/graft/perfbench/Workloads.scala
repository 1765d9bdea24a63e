package graft.perfbench

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.engine.{DynEvent, EValue, EventCodec, SpellEngine}
import graft.engine.EValue._
import graft.operators.SpellQueries.HalvingSpell

/** Epoch milliseconds with nanosecond resolution, comparable with the
  * millisecond timestamps Spark puts on its listener events.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** One timed op: `startMs`..`builtMs` is the member's own code (for a
  * query, `Q.run`, which includes its eager checkpoints and replays),
  * `builtMs`..`endMs` the action that digests the result.
  */
final case class OpOutcome(member: String, startMs: Double, builtMs: Double,
    endMs: Double, error: Option[String]) {
  def wallS: Double = (endMs - startMs) / 1e3
  def buildS: Double = (builtMs - startMs) / 1e3
  def actionS: Double = (endMs - builtMs) / 1e3
}

trait Workload {
  def members: Seq[String]
  /** Timed passes per run, whatever `--seconds` says. */
  def minPasses: Int = 2
  /** Times each member runs in one pass. */
  def repeats: Int = 1
  /** Untimed passes before the timed ones, counted in setup_s. The first
    * pass pays JIT, codegen and the process memos, but a query pass
    * after it still reads about 1.3 times a warm one; after two it is
    * within a few percent.
    */
  def warmupPasses: Int = 2
  /** Builds and caches inputs; untimed, counted in setup_s. */
  def setup(): Unit
  def run(member: String): OpOutcome
  /** Drops what an op left cached; runs between ops, untimed. */
  def housekeeping(): Unit
}

object Workload {
  /** Times `body`, which returns the built frame, then digests it and
    * checks the digest. Any exception is the op's failure.
    */
  def timed(member: String)(body: => DataFrame)(check: Digest.Result => Option[String]): OpOutcome = {
    val t0 = Clock.nowMs
    var t1 = t0
    try {
      val df = body
      t1 = Clock.nowMs
      val d = Digest.of(df)
      OpOutcome(member, t0, t1, Clock.nowMs, check(d))
    } catch { case e: Throwable =>
      val t = Clock.nowMs
      OpOutcome(member, t0, if (t1 == t0) t else t1, t, Some(e.toString.take(300)))
    }
  }

  /** Bench's housekeeping: clearCache does not drop localCheckpoint
    * blocks, so every persistent RDD is unpersisted as well.
    */
  def dropCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}

/** batch_queries and stream_replay: fixed members of the query
  * inventory, each digested and checked against the recorded digest.
  */
final class QueryWorkload(spark: SparkSession, sfDir: String,
    val members: Seq[String], expected: Map[String, String]) extends Workload {
  private val fns = {
    val all = graft.SparkEntry.queries
    members.map { m =>
      m -> all.getOrElse(m, throw new IllegalArgumentException(s"unknown query $m"))
    }.toMap
  }
  def setup(): Unit = ()
  def run(member: String): OpOutcome =
    Workload.timed(member)(fns(member)(spark, sfDir)) { d =>
      expected.get(member) match {
        case Some(e) if e == d.show => None
        case Some(e) => Some(s"digest ${d.show}, expected $e")
        case None => Some(s"no expected digest (got ${d.show})")
      }
    }
  def housekeeping(): Unit = Workload.dropCaches(spark)
}

/** spell_cast: the fixture's events cast through HalvingSpell by
  * `SpellEngine.castAllColumnar`. The timed passes cast them in one
  * partition per core ("parallel"). The one-partition shape ("single")
  * runs only in traced runs, after the passes, for the single-core
  * figures: one thread is left to whatever its one core's host does, and
  * its run-to-run spread was three times the per-core shape's.
  */
final class SpellWorkload(spark: SparkSession, sfDir: String, seed: Long) extends Workload {
  val members: Seq[String] = Seq("parallel")
  /** Two casts a pass, so the op median draws on more samples than passes. */
  override val repeats = 2
  override val minPasses = 6
  /** A pass is about a second, and the first seconds of casting still
    * compile the cast loop and grow the heap: the first timed casts of a
    * run read up to twice the later ones after a single warm-up pass.
    */
  override val warmupPasses = 6
  private var events: Dataset[SpellInput.Seed] = _
  private var parallel: Dataset[SpellInput.Seed] = _
  private var expected: Digest.Result = _
  private var sample: Vector[DynEvent] = Vector.empty
  var seeds = 0
  var casts = 0L

  def setup(): Unit = {
    val base = SpellInput.fixture(spark, sfDir)
    events = SpellInput.events(base, seed)
    parallel = events.repartition(spark.sparkContext.defaultParallelism).cache()
    parallel.count()
    val fixtureRows = base.collect().toSeq
    val (d, c) = SpellInput.expected(fixtureRows)
    expected = d
    seeds = fixtureRows.length * SpellInput.Replicas
    casts = c
    sample = parallel.take(4096).map(SpellCast.toEvent).toVector
  }

  def run(member: String): OpOutcome = cast(member, parallel)

  private def cast(shape: String, in: Dataset[SpellInput.Seed]): OpOutcome =
    Workload.timed(shape)(SpellCast.cast(spark, in)) { d =>
      if (d == expected) None else Some(s"digest ${d.show}, expected ${expected.show}")
    }

  /** `n` casts of the same events in one partition, each checked like a
    * timed op and followed by the engine loop alone (`SpellEngine.runSeed`
    * on the driver) over the same events, timed in seconds. The pairs
    * give engine.loop_share; the one-partition input is cached for them
    * and dropped.
    */
  def singleOps(n: Int): Seq[(OpOutcome, Double)] = {
    val single = events.coalesce(1).cache()
    val seedEvents = single.collect().map(SpellCast.toEvent)
    try Seq.fill(n) {
      val o = cast("single", single)
      val t = System.nanoTime()
      seedEvents.foreach(e => sink += SpellEngine.runSeed(HalvingSpell, e).length)
      (o, (System.nanoTime() - t) / 1e9)
    } finally single.unpersist(blocking = true)
  }

  /** The cast caches nothing; the cached inputs stay. */
  def housekeeping(): Unit = ()

  /** Written by the driver-side probes so their results stay live. */
  @volatile private var sink = 0L

  /** Driver-side engine figures, outside any timed op. */
  def engineProbe(): Map[String, Double] = {
    def timeNs(minNs: Long)(body: => Long): (Long, Long) = {
      var ns = 0L
      var units = 0L
      while (ns < minNs) {
        val t = System.nanoTime()
        units += body
        ns += System.nanoTime() - t
      }
      (ns, units)
    }
    def codecPass: Long = { sample.foreach(e => sink += EventCodec.roundTrip(e).fields.size); sample.length }
    timeNs(300000000L)(codecPass) // warm
    val (codecNs, trips) = timeNs(300000000L)(codecPass)
    val bytes = sample.map(e => EventCodec.encode(EMap(e.fields)).length.toDouble).sum / sample.length
    Map(
      "engine.codec_roundtrip_ns" -> codecNs.toDouble / trips,
      "engine.codec_bytes_per_event" -> bytes,
      "engine.hops_per_seed" -> (casts - seeds).toDouble / seeds)
  }
}

/** The cast job, with the event mapping `q04_spell_cast_loop` and
  * `Bench` use.
  */
object SpellCast {
  def toEvent(e: SpellInput.Seed): DynEvent = e match { case (id, v) =>
    DynEvent(Map[EValue, EValue](
      EStr("event_id") -> (if (id == null) ENil else EInt(id)),
      EStr("value") -> (if (v == null) ENil else EFloat(v)),
      EStr("hop") -> EInt(0)))
  }

  def fromHop(e: DynEvent): (Long, Long, Double) =
    (e.get("event_id") match { case Some(EInt(i)) => i; case _ => -1L },
      e.get("hop") match { case Some(EInt(h)) => h; case _ => -1L },
      e.get("value") match { case Some(EFloat(v)) => v; case _ => Double.NaN })

  def cast(spark: SparkSession, in: Dataset[SpellInput.Seed]): DataFrame = {
    import spark.implicits._
    SpellEngine.castAllColumnar[SpellInput.Seed, (Long, Long, Double)](
      in, HalvingSpell, toEvent, fromHop).toDF("event_id", "hop", "value")
  }
}
