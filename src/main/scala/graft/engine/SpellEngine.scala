package graft.engine

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.util.LongAccumulator

/** The spell execution engine — the reference's full dataflow
  * re-expressed (SURVEY.md §3.1): topic-filter admission → per-hop
  * serialization round trip → cast → feedback loop bounded at 1,000
  * hops → nil termination.
  */
object SpellEngine {

  /** main.zig:157 `runaway_loop_bound`. */
  val RunawayLoopBound = 1000

  /** Tri-state topic admission (main.zig:169-210; SURVEY.md §2A F1):
    * pass iff the spell declares no topic, OR the event carries no
    * topic, OR they are equal. Null passes on BOTH sides. An event
    * whose `$topic` exists but is not a string is a hard error, as in
    * the reference (main.zig event-side else branch).
    */
  def matchesTopic(spellTopic: Option[String], event: DynEvent): Boolean =
    spellTopic match {
      // spell-side nil check first, as in the reference: the event's
      // $topic is never inspected (so never validated) for an
      // untopiced spell
      case None => true
      case Some(st) =>
        event.fields.get(EValue.EStr(DynEvent.TopicKey)) match {
          case None                 => true
          case Some(EValue.EStr(e)) => st == e
          case Some(other)          =>
            throw SpellContractException(
              s"event '${DynEvent.TopicKey}' is not a string: $other")
        }
    }

  /** Run one seed event through the spell's feedback loop — the exact
    * single-event semantics of `sanctum cast` (main.zig:127-166).
    * Returns every event emitted by successive casts, in hop order
    * (empty if the topic filter rejects the seed or the first cast
    * returns None). Each hop crosses the codec barrier, so the drop
    * rule and value fidelity are exercised per hop as in the
    * reference (main.zig:154, 165).
    */
  def runSeed(spell: Spell, seed: DynEvent,
      maxHops: Int = RunawayLoopBound): Vector[DynEvent] = {
    spell.prepare()
    try castLoop(spell, seed, maxHops)
    finally spell.unprepare()
  }

  /** The lifecycle-free loop body: topic admission + bounded feedback
    * loop with a codec round trip per hop.
    */
  private def castLoop(spell: Spell, seed: DynEvent, maxHops: Int): Vector[DynEvent] = {
    if (!matchesTopic(spell.topic, seed)) return Vector.empty
    val out = Vector.newBuilder[DynEvent]
    var current = EventCodec.roundTrip(seed)
    var hops = 0
    var done = false
    while (!done && hops < maxHops) {
      val result =
        try spell.cast(current)
        catch {
          case e: SpellRuntimeException => throw e
          case scala.util.control.NonFatal(e) =>
            throw SpellRuntimeException(spell.name, hops, e) // E2 channel
        }
      result match {
        case Some(next) =>
          current = EventCodec.roundTrip(next)
          out += current
          hops += 1
        case None =>
          done = true
      }
    }
    out.result()
  }

  /** Distributed analog: every row of the Dataset is an independent
    * seed running its own bounded feedback loop inside one narrow
    * transformation — no driver-side iteration, no shuffle,
    * arbitrarily parallel. The L1 lifecycle runs ONCE PER PARTITION
    * (prepare before the first row, unprepare after the last), the
    * distributed reading of "call once before the first cast" — so a
    * spell opening a connection or loading a model pays per task, not
    * per event.
    */
  def castAll(events: Dataset[DynEvent], spell: Spell,
      maxHops: Int = RunawayLoopBound): Dataset[DynEvent] = {
    implicit val enc: Encoder[DynEvent] = Encoders.kryo[DynEvent]
    inPartitions(events, spell)(_.flatMap(e => castLoop(spell, e, maxHops)))
  }

  /** The L1 lifecycle around one partition's casts: prepare before the
    * first row, unprepare at task completion — which fires on normal
    * exhaustion, on mid-partition failure, AND when the consumer stops
    * early (limit/take), unlike an exhaustion-triggered iterator hook.
    */
  private def inPartitions[I, O: Encoder](events: Dataset[I], spell: Spell)(
      cast: Iterator[I] => Iterator[O]): Dataset[O] =
    events.mapPartitions { rows =>
      spell.prepare()
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => spell.unprepare()))
      cast(rows)
    }

  /** Columnar variant of [[castAll]] for fixed-schema pipelines: the
    * input and output stay typed Products (Tungsten rows — codegen'd,
    * prunable, spillable), and the dynamic event exists only
    * transiently inside the partition. Full engine semantics are
    * preserved — topic admission, per-hop codec round trip, runaway
    * bound — but nothing crosses an operator boundary as opaque kryo
    * bytes. Round 1's q04 spent 32 s mostly in three kryo ser/deser
    * boundaries (map → mapPartitions → map); this collapses them into
    * ONE narrow transformation with columnar edges.
    */
  def castAllColumnar[I, O: Encoder](events: Dataset[I], spell: Spell,
      toEvent: I => DynEvent, fromHop: DynEvent => O,
      maxHops: Int = RunawayLoopBound): Dataset[O] =
    inPartitions(events, spell) { rows =>
      rows.flatMap(r => castLoop(spell, toEvent(r), maxHops).map(fromHop))
    }

  /** Per-spell telemetry (reference roadmap README.md:129-130:
    * exec count/time, in/out counters — SURVEY.md §2B), carried by
    * Spark accumulators so executor-side counts aggregate for free.
    */
  final case class SpellMetrics(
      eventsIn: LongAccumulator,
      eventsOut: LongAccumulator,
      castNanos: LongAccumulator)

  object SpellMetrics {
    def create(spark: SparkSession, spellName: String): SpellMetrics = SpellMetrics(
      spark.sparkContext.longAccumulator(s"graft.$spellName.events_in"),
      spark.sparkContext.longAccumulator(s"graft.$spellName.events_out"),
      spark.sparkContext.longAccumulator(s"graft.$spellName.cast_nanos"))
  }

  /** castAll with telemetry: counts topic-admitted seeds, emitted
    * hops, and wall nanos inside the cast loop. Standard accumulator
    * caveat applies: transformation-side counters re-add if the
    * partition is recomputed (second action on an uncached Dataset,
    * task retry, speculation) — cache the result before reusing it
    * when exact counts matter.
    */
  def castAllMetered(events: Dataset[DynEvent], spell: Spell, metrics: SpellMetrics,
      maxHops: Int = RunawayLoopBound): Dataset[DynEvent] = {
    implicit val enc: Encoder[DynEvent] = Encoders.kryo[DynEvent]
    inPartitions(events, spell)(_.flatMap { e =>
      if (!matchesTopic(spell.topic, e)) Vector.empty
      else {
        metrics.eventsIn.add(1)
        val t0 = System.nanoTime()
        val hopsOut = castLoop(spell, e, maxHops)
        metrics.castNanos.add(System.nanoTime() - t0)
        metrics.eventsOut.add(hopsOut.size)
        hopsOut
      }
    })
  }

  /** Multi-spell topic routing (the reference's roadmap capability,
    * README.md:93-94; SURVEY.md §2B): each spell sees the filtered
    * stream its selector admits.
    */
  def route(events: Dataset[DynEvent], spells: Seq[Spell],
      maxHops: Int = RunawayLoopBound): Map[String, Dataset[DynEvent]] = {
    val dup = spells.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
    require(dup.isEmpty,
      s"duplicate spell names would silently drop subscriptions: ${dup.mkString(", ")}")
    implicit val enc: Encoder[DynEvent] = Encoders.kryo[DynEvent]
    spells.map { sp =>
      sp.name -> castAll(events.filter((e: DynEvent) => matchesTopic(sp.topic, e)), sp, maxHops)
    }.toMap
  }
}
