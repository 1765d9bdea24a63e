package graft.operators

import graft.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q56's oracle proves merge(state(base), state(delta)) ≡
  * recompute(all) — but it would prove it VACUOUSLY if the cut
  * landed outside the fixture's time range (one empty slice turns
  * the merge into an identity copy). This spec pins the split is
  * real on the fixtures the driver runs, and that the merged state
  * equals the one-shot aggregate computed independently in-engine.
  */
class IncrementalAggSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private val dir = "/root/testdata/sf0.001"

  test("the cut splits the fixture into two NONEMPTY slices") {
    val ev = Tables.events(spark, dir)
    val cut = lit("2024-01-25 00:00:00").cast("timestamp")
    val nBase = ev.filter(col("ts") < cut).count()
    val nDelta = ev.filter(col("ts") >= cut).count()
    assert(nBase > 0 && nDelta > 0,
      s"merge test is vacuous: base=$nBase delta=$nDelta — move the cut")
  }

  test("merged state equals the one-shot recompute, group for group") {
    val merged = Aggregates.q56IncrementalAgg.run(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
    val oneShot = Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), min(col("value")).as("mn"),
        max(col("value")).as("mx"),
        sum(floor(col("value") * 1000).cast("long")).cast("long").as("tot"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
    assert(merged == oneShot,
      s"merge lost information:\nmerged  = $merged\noneShot = $oneShot")
  }
}
