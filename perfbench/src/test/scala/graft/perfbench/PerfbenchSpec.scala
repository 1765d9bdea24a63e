package graft.perfbench

import java.io.File
import scala.jdk.CollectionConverters._
import scala.util.Random
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.SpellEngine
import graft.operators.SpellQueries.HalvingSpell

class PerfbenchSpec extends AnyFunSuite {

  /** Stand-in for the fixture's `(event_id, value)` rows: values from
    * 0 (no hop) to a few hundred (nine hops), plus the edge cases.
    */
  private val base: IndexedSeq[SpellInput.Seed] = {
    val rnd = new Random(17)
    (0 until 997).map(i => (java.lang.Long.valueOf(1000L + i),
      java.lang.Double.valueOf(rnd.nextDouble() * 560))) ++
      Seq[SpellInput.Seed]((1L, 1.0), (2L, 1.0000001), (3L, 0.0), (4L, null), (null, 5.5))
  }

  test("the spell seed events are deterministic for a seed and keep the work") {
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      import spark.implicits._
      val ds = spark.createDataset(base).toDF("event_id", "value").as[SpellInput.Seed]
      def run(seed: Long) = SpellInput.events(ds, seed).collect().toVector
      val a = run(7)
      assert(a == run(7))
      assert(a != run(8))
      assert(a.groupBy(identity).view.mapValues(_.size).toMap ==
        base.groupBy(identity).view.mapValues(_.size * SpellInput.Replicas).toMap)
      val (d, casts) = SpellInput.expected(base)
      assert(d == Digest.ofRows(a.iterator.flatMap(SpellInput.expectedRows), SpellInput.OutputSchema))
      assert(casts == a.length + d.rows)
    } finally spark.stop()
  }

  test("the closed-form cast expectation equals SpellEngine.runSeed") {
    base.foreach { e =>
      val got = SpellEngine.runSeed(HalvingSpell, SpellCast.toEvent(e)).map(SpellCast.fromHop)
      val want = SpellInput.expectedRows(e).map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toVector
      assert(got == want, s"seed event $e")
    }
  }

  test("digests ignore row order and see every field") {
    val rows = base.flatMap(SpellInput.expectedRows).map(_.copy()).toVector
    val d = Digest.ofRows(rows.iterator, SpellInput.OutputSchema)
    assert(d == Digest.ofRows(new Random(1).shuffle(rows).iterator, SpellInput.OutputSchema))
    val changed = rows.updated(10, org.apache.spark.sql.catalyst.InternalRow(
      rows(10).getLong(0), rows(10).getLong(1), rows(10).getDouble(2) + 1e-9))
    assert(d != Digest.ofRows(changed.iterator, SpellInput.OutputSchema))
  }

  test("the tail rule keeps at least 10 samples beyond the tail") {
    val rnd = new Random(11)
    (1 to 400).foreach { n =>
      val xs = Seq.fill(n)(rnd.nextDouble())
      val t = Stats.tail(xs)
      assert(t.samples == n)
      if (n >= 20) {
        val rank = math.ceil(t.percentile / 100 * n).toInt
        assert(t.value == xs.sorted.apply(rank - 1) && t.beyond == n - rank, s"n=$n")
        assert(t.beyond >= Stats.MinBeyond, s"n=$n")
        val higher = Stats.TailLadder.filter(_ > t.percentile)
        assert(higher.forall(p => n - math.ceil(p / 100 * n).toInt < Stats.MinBeyond), s"n=$n")
      } else assert(t.percentile == 50.0 && t.value == Stats.median(xs))
    }
  }

  test("self time subtracts the covered part of deeper spans") {
    assert(Span.coveredMs(Seq((0.0, 4.0), (2.0, 6.0), (8.0, 9.0)), 1.0, 8.5) == 5.5)
    val spans = Seq(Span("op", "a", 0, 10, 1, "1/a"), Span("spark.job", "j", 2, 5, 1, "1/a"),
      Span("spark.stage", "s", 3, 4, 1, "1/a"))
    val self = Span.selfMs(spans)
    assert(self("op") == 7.0 && self("spark.job") == 2.0 && self("spark.stage") == 1.0)
  }

  test("every metric name is well formed and declared in BENCHMARK.json") {
    val json = new ObjectMapper().readTree(new File("..", "BENCHMARK.json"))
    def declared(key: String): Seq[(String, String)] =
      json.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    assert(declared("end_to_end") == Metrics.endToEnd)
    assert(declared("per_layer") == Metrics.perLayer)
    (Metrics.endToEnd ++ Metrics.perLayer).foreach { case (n, _) =>
      assert(n.matches(Metrics.NamePattern), n)
    }
    assert(json.get("workloads").elements().asScala.map(_.get("name").asText).toSeq == Main.Workloads)
  }
}
