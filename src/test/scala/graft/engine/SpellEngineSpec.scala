package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import EValue._

/** Spells used on the distributed path must be top-level objects (or
  * otherwise self-contained Serializable values) — an anonymous Spell
  * inside a test/class captures its outer instance and fails closure
  * serialization.
  */
object CounterTopicSpell extends Spell {
  override def name = "counter_spell"
  override def topic: Option[String] = Some("counter")
  override def cast(e: DynEvent): Option[DynEvent] =
    SpellEngineSpec.DecrementCounter.cast(e)
}

/** Counts lifecycle calls across executor tasks (local mode = one
  * JVM, so a static counter observes all partitions).
  */
object LifecycleCountingSpell extends Spell {
  val prepares = new java.util.concurrent.atomic.AtomicInteger(0)
  val unprepares = new java.util.concurrent.atomic.AtomicInteger(0)
  override def prepare(): Unit = { prepares.incrementAndGet(); () }
  override def unprepare(): Unit = { unprepares.incrementAndGet(); () }
  override def cast(e: DynEvent): Option[DynEvent] = None
}

object SpellEngineSpec {
  /** test-suite/decrement-counter: spell decrements `counter`,
    * casting until it hits 0, then returns nil.
    */
  object DecrementCounter extends Spell {
    override def cast(e: DynEvent): Option[DynEvent] = e.get("counter") match {
      case Some(EValue.EInt(n)) if n > 0    => Some(e.updated("counter", EValue.EInt(n - 1)))
      case Some(EValue.EFloat(d)) if d > 0  => Some(e.updated("counter", EValue.EFloat(d - 1)))
      case _                                => None
    }
  }
}

/** Golden ports of the reference's 7 regression cases
  * (/root/reference/src/tests/test-suite; FIXTURES.md §A), with the
  * Lua spell logic hand-translated to Scala closures.
  */
class SpellEngineSpec extends AnyFunSuite {
  import SpellEngineSpec.DecrementCounter

  test("decrement-counter: 10-hop loop over a messy heterogeneous seed") {
    // seed.lua:2 — {1,2,3, counter=10, foo=function() end, hello_world=…,
    // f=nil, is_abc=true, table={xyz=true}}; the function is dropped.
    val seed = DynEvent.of(
      1 -> 1, 2 -> 2, 3 -> 3,
      "counter" -> 10,
      "foo" -> ((x: Int) => x), // non-data: dropped by the codec rule
      "hello_world" -> "Hello, world!",
      "is_abc" -> true,
      "table" -> Map("xyz" -> true))
    assert(seed.get("foo").isEmpty, "function values must be dropped at construction")

    val hops = SpellEngine.runSeed(DecrementCounter, seed)
    assert(hops.size == 10)
    assert(hops.map(_.get("counter")) == (9 to 0 by -1).map(n => Some(EInt(n.toLong))))
    // payload fields survive every round trip unchanged
    val last = hops.last
    assert(last.get("hello_world").contains(EStr("Hello, world!")))
    assert(last.get("is_abc").contains(EBool(true)))
    assert(last.get("table").contains(EMap(Map(EStr("xyz") -> EBool(true)))))
    assert(last.fields.get(EInt(2)).contains(EInt(2)))
  }

  test("decrement-counter-float: f64 fidelity through the codec hops") {
    val hops = SpellEngine.runSeed(DecrementCounter, DynEvent.of("counter" -> 10.5))
    assert(hops.size == 11) // 9.5, 8.5, … 0.5, -0.5 → next cast sees -0.5 ≤ 0 → nil
    assert(hops.head.get("counter").contains(EFloat(9.5)))
    assert(hops.last.get("counter").contains(EFloat(-0.5)))
  }

  test("decrement-counter-implicit-return: nil terminates immediately at 0") {
    val hops = SpellEngine.runSeed(DecrementCounter, DynEvent.of("counter" -> 2))
    assert(hops.size == 2)
    assert(SpellEngine.runSeed(DecrementCounter, DynEvent.of("counter" -> 0)).isEmpty)
  }

  test("topic-singular-filtering: mismatched topic yields no output") {
    val spell = new Spell {
      override def topic: Option[String] = Some("counter")
      override def cast(e: DynEvent): Option[DynEvent] = Some(e)
    }
    val seed = DynEvent.of("$topic" -> "not-a-counting-spell")
    assert(SpellEngine.runSeed(spell, seed).isEmpty)
  }

  test("topic filter tri-state: null passes on both sides (F1)") {
    val ev = DynEvent.of("x" -> 1)                            // no $topic
    val evT = DynEvent.of("$topic" -> "t")
    assert(SpellEngine.matchesTopic(None, ev))
    assert(SpellEngine.matchesTopic(None, evT))
    assert(SpellEngine.matchesTopic(Some("t"), ev))           // event null → pass
    assert(SpellEngine.matchesTopic(Some("t"), evT))
    assert(!SpellEngine.matchesTopic(Some("other"), evT))
  }

  test("runaway loop bound caps an infinite spell at 1000 hops") {
    val forever = new Spell {
      override def cast(e: DynEvent): Option[DynEvent] = Some(e)
    }
    assert(SpellEngine.runSeed(forever, DynEvent.of("x" -> 1)).size == 1000)
  }

  test("runtime cast failure reports spell + hop context (E2)") {
    val explodesAtTwo = new Spell {
      override def name = "explodes"
      override def cast(e: DynEvent): Option[DynEvent] = e.get("counter") match {
        case Some(EInt(2)) => throw new IllegalStateException("boom")
        case Some(EInt(n)) => Some(e.updated("counter", EInt(n - 1)))
        case _             => None
      }
    }
    val ex = intercept[SpellRuntimeException](
      SpellEngine.runSeed(explodesAtTwo, DynEvent.of("counter" -> 4)))
    assert(ex.spellName == "explodes")
    assert(ex.hop == 2) // two successful hops (3, 2) before the failing cast
    assert(ex.getMessage.contains("boom"))
  }

  test("error-spell-does-not-return-table") {
    val ex = intercept[SpellContractException](SpellLoader.fromModule("bad", 123))
    assert(ex.message.contains("did not evaluate to a table"))
  }

  test("error-missing-cast-function") {
    val ex = intercept[SpellContractException](
      SpellLoader.fromModule("bad", Map[String, Any]("topic" -> "t")))
    assert(ex.message.contains("does not define a 'cast' function"))
  }

  test("error-spell-has-non-function-cast-member") {
    val ex = intercept[SpellContractException](
      SpellLoader.fromModule("bad", Map[String, Any]("cast" -> "Hello, world!")))
    assert(ex.message.contains("not a function"))
  }

  test("non-string topic selector is a contract error (main.zig:189-209)") {
    val ex = intercept[SpellContractException](
      SpellLoader.fromModule("bad", Map[String, Any](
        "cast" -> ((e: DynEvent) => Some(e): Option[DynEvent]), "topic" -> 42)))
    assert(ex.message.contains("non-string topic"))
  }

  test("castAll: each Dataset row runs its own bounded feedback loop") {
    val spark = graft.TestSession.spark
    implicit val enc: org.apache.spark.sql.Encoder[DynEvent] =
      org.apache.spark.sql.Encoders.kryo[DynEvent]
    val seeds = spark.createDataset(Seq(
      DynEvent.of("counter" -> 3, "id" -> "a"),
      DynEvent.of("counter" -> 1, "id" -> "b"),
      DynEvent.of("counter" -> 0, "id" -> "c")))
    val out = SpellEngine.castAll(seeds, DecrementCounter).collect()
    assert(out.length == 4) // 3 hops for a, 1 for b, 0 for c
    val byId = out.groupBy(_.get("id"))
    assert(byId(Some(EStr("a"))).map(_.get("counter")).toSet ==
      Set(Some(EInt(2)), Some(EInt(1)), Some(EInt(0))))
    assert(byId(Some(EStr("b"))).map(_.get("counter")).toSet == Set(Some(EInt(0))))
  }

  test("route: multi-spell topic subscriptions (roadmap 2B)") {
    val spark = graft.TestSession.spark
    implicit val enc: org.apache.spark.sql.Encoder[DynEvent] =
      org.apache.spark.sql.Encoders.kryo[DynEvent]
    val evs = spark.createDataset(Seq(
      DynEvent.of("$topic" -> "counter", "counter" -> 1),
      DynEvent.of("$topic" -> "other", "counter" -> 5),
      DynEvent.of("counter" -> 2))) // topicless: admitted by every spell
    val routed = SpellEngine.route(evs, Seq(CounterTopicSpell))
    val out = routed("counter_spell").collect()
    // topic=counter seed: 1 hop; topicless seed: 2 hops; 'other' filtered out
    assert(out.length == 3)
  }

  test("non-string event $topic is a hard error, as in the reference") {
    val spell = new Spell {
      override def topic: Option[String] = Some("counter")
      override def cast(e: DynEvent): Option[DynEvent] = Some(e)
    }
    val bad = DynEvent.of("$topic" -> 42)
    val ex = intercept[SpellContractException](SpellEngine.runSeed(spell, bad))
    assert(ex.message.contains("not a string"))
    // …but an untopiced spell never inspects the event's $topic, so it
    // casts normally (reference checks the spell side first)
    assert(SpellEngine.matchesTopic(None, bad))
  }

  test("sequences become Lua-style array-tables (1-based integer keys)") {
    val e = DynEvent.of("tags" -> List("a", "b"), "nums" -> Array(7, 8, 9))
    assert(e.get("tags").contains(EMap(Map(EInt(1) -> EStr("a"), EInt(2) -> EStr("b")))))
    assert(e.get("nums").contains(EMap(Map(EInt(1) -> EInt(7), EInt(2) -> EInt(8), EInt(3) -> EInt(9)))))
    // non-representable elements drop their keys, like any table entry
    val mixed = DynEvent.of("xs" -> List(1, (x: Int) => x, 3))
    assert(mixed.get("xs").contains(EMap(Map(EInt(1) -> EInt(1), EInt(3) -> EInt(3)))))
  }

  test("numeric widening: Byte/Short/BigInt convert instead of dropping") {
    val e = DynEvent.of("b" -> 5.toByte, "s" -> 7.toShort, "big" -> BigInt(12),
      "huge" -> BigInt("170141183460469231731687303715884105727"), "c" -> 'x')
    assert(e.get("b").contains(EInt(5)))
    assert(e.get("s").contains(EInt(7)))
    assert(e.get("big").contains(EInt(12)))
    assert(e.get("huge").isEmpty) // beyond i64: not representable => dropped
    assert(e.get("c").contains(EStr("x")))
  }

  test("castAllMetered reports in/out counts and cast time via accumulators") {
    val spark = graft.TestSession.spark
    implicit val enc: org.apache.spark.sql.Encoder[DynEvent] =
      org.apache.spark.sql.Encoders.kryo[DynEvent]
    val metrics = SpellEngine.SpellMetrics.create(spark, "decrement")
    val seeds = spark.createDataset(Seq(
      DynEvent.of("counter" -> 3), DynEvent.of("counter" -> 2), DynEvent.of("counter" -> 0)))
    SpellEngine.castAllMetered(seeds, DecrementCounter, metrics).collect()
    assert(metrics.eventsIn.value == 3L)
    assert(metrics.eventsOut.value == 5L) // 3 + 2 + 0 hops
    assert(metrics.castNanos.value > 0L)
  }

  test("castAll runs the L1 lifecycle once per partition, not per event") {
    val spark = graft.TestSession.spark
    implicit val enc: org.apache.spark.sql.Encoder[DynEvent] =
      org.apache.spark.sql.Encoders.kryo[DynEvent]
    LifecycleCountingSpell.prepares.set(0)
    LifecycleCountingSpell.unprepares.set(0)
    val seeds = spark.createDataset(
      (1 to 100).map(i => DynEvent.of("i" -> i))).repartition(4)
    SpellEngine.castAll(seeds, LifecycleCountingSpell).collect()
    assert(LifecycleCountingSpell.prepares.get == 4,
      s"expected 4 prepares (one per partition), got ${LifecycleCountingSpell.prepares.get}")
    assert(LifecycleCountingSpell.unprepares.get == 4)
  }

  test("prepare/unprepare lifecycle hooks run exactly once (L1)") {
    var prepared = 0; var unprepared = 0
    val spell = new Spell {
      override def prepare(): Unit = prepared += 1
      override def unprepare(): Unit = unprepared += 1
      override def cast(e: DynEvent): Option[DynEvent] = None
    }
    SpellEngine.runSeed(spell, DynEvent.of("x" -> 1))
    assert(prepared == 1 && unprepared == 1)
  }
}
