package graft.operators

import graft.{Q, Tables}
import graft.engine.{DynEvent, EValue, Spell, SpellEngine}
import org.apache.spark.sql.functions._

/** The spell engine under the DuckDB oracle: the reference's
  * cast/feedback-loop semantics (SURVEY.md §2A T1/T2) are expressible
  * as a recursive CTE, so the engine's distributed execution is
  * hash-verified against an independent relational evaluation —
  * the strongest correctness statement available for the engine.
  */
object SpellQueries {
  import EValue._

  /** The halving spell: emits the event with `value` halved and `hop`
    * incremented while value > 1; returns nil (terminates) otherwise.
    * Pure IEEE halving — bit-deterministic in any engine.
    */
  object HalvingSpell extends Spell {
    // hoisted keys: cast runs once per hop of every loop, and
    // e.get(String)/e.updated(String, _) allocate a fresh EStr per call
    private val KValue = EStr("value")
    private val KHop = EStr("hop")
    override def cast(e: DynEvent): Option[DynEvent] =
      (e.fields.get(KValue), e.fields.get(KHop)) match {
        case (Some(EFloat(v)), Some(EInt(h))) if v > 1.0 =>
          Some(DynEvent(e.fields
            .updated(KValue, EFloat(v / 2))
            .updated(KHop, EInt(h + 1))))
        case _ => None
      }
  }

  /** Casts `(event_id, value)` seeds through [[HalvingSpell]] and
    * returns every hop as `(event_id, hop, value)`; a null id reads
    * back as -1 and a null value as NaN. Each seed enters the engine
    * as the event `{event_id, value, hop: 0}`.
    *
    * Columnar edges (SpellEngine.castAllColumnar): the seed rows
    * enter and the hop rows leave as typed Products — Tungsten rows,
    * whole-stage codegen, column pruning at the scan — while the
    * DynEvent + per-hop codec barrier lives only inside the
    * partition. Round 1 ran this through three kryo boundaries and
    * paid 32 s at sf0.1 for it.
    */
  def castEvents(seeds: org.apache.spark.sql.Dataset[(java.lang.Long, java.lang.Double)])
      : org.apache.spark.sql.Dataset[(Long, Long, Double)] = {
    val s = seeds.sparkSession
    import s.implicits._
    SpellEngine.castAllColumnar[(java.lang.Long, java.lang.Double), (Long, Long, Double)](
      seeds, HalvingSpell,
      toEvent = { case (id, v) =>
        DynEvent(Map[EValue, EValue](
          EStr("event_id") -> (if (id == null) ENil else EInt(id)),
          EStr("value") -> (if (v == null) ENil else EFloat(v)),
          EStr("hop") -> EInt(0)))
      },
      fromHop = { e =>
        (e.get("event_id") match { case Some(EInt(i)) => i; case _ => -1L },
          e.get("hop") match { case Some(EInt(h)) => h; case _ => -1L },
          e.get("value") match { case Some(EFloat(v)) => v; case _ => Double.NaN })
      })
  }

  /** Every hop of every event's feedback loop, as rows. The DuckDB
    * oracle replays the same loop with a recursive CTE.
    */
  val q04SpellCastLoop = Q(
    "q04_spell_cast_loop",
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
    castEvents(Tables.events(s, d)
        .select(col("event_id"), col("value"))
        .as[(java.lang.Long, java.lang.Double)])
      .toDF("event_id", "hop", "value")
      .orderBy(col("event_id"), col("hop"))
  }

  def all: Seq[Q] = Seq(q04SpellCastLoop)
}
