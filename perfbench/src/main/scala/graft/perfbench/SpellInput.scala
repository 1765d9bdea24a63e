package graft.perfbench

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{col, lit, xxhash64}
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** The spell_cast workload's seed events: the fixture's events table as
  * `q04_spell_cast_loop` and `Bench`'s cast micro-bench cast it, an
  * `(event_id, value)` pair that enters the engine as the three-field
  * event (event_id, value, hop 0). HalvingSpell halves `value` once per
  * hop while it is above 1, so the hop distribution and the codec bytes
  * per hop are the fixture's own. The table is taken [[Replicas]] times,
  * as `Bench` does (so the per-core shape casts for longer than its
  * tasks take to launch), and the run seed shuffles the order: which
  * events share a partition and the order they are cast in change with
  * the seed, the amount of work does not.
  */
object SpellInput {

  type Seed = (java.lang.Long, java.lang.Double)

  val Replicas = 2

  /** The fixture's `(event_id, value)` rows. */
  def fixture(spark: SparkSession, sfDir: String): Dataset[Seed] = {
    import spark.implicits._
    graft.Tables.events(spark, sfDir).select(col("event_id"), col("value")).as[Seed]
  }

  /** The run's seed events: [[Replicas]] copies of `base`, in an order
    * drawn from `seed` (a hash of the seed, the row and its copy).
    */
  def events(base: Dataset[Seed], seed: Long): Dataset[Seed] = {
    import base.sparkSession.implicits._
    base.crossJoin(base.sparkSession.range(Replicas).toDF("copy"))
      .orderBy(xxhash64(lit(seed), col("event_id"), col("value"), col("copy")),
        col("event_id"), col("value"), col("copy"))
      .select(col("event_id"), col("value")).as[Seed]
  }

  /** Hops HalvingSpell emits for a seed value, derived without the engine. */
  def hopsOf(value: java.lang.Double): Int = {
    var h = 0
    if (value != null) {
      var v: Double = value
      while (v > 1.0) { v /= 2; h += 1 }
    }
    h
  }

  val OutputSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("hop", LongType),
    StructField("value", DoubleType)))

  /** The (event_id, hop, value) rows a correct cast emits for one seed. */
  def expectedRows(e: Seed): Iterator[InternalRow] = {
    val id = if (e._1 == null) -1L else e._1.longValue
    Iterator.range(1, hopsOf(e._2) + 1)
      .map(h => InternalRow(id, h.toLong, math.scalb(e._2.doubleValue, -h)))
  }

  /** Closed-form expectation for a run over [[Replicas]] copies of
    * `base`, and its cast count (one cast per seed plus one per emitted
    * hop). The digest is a sum over rows, so copies multiply it.
    */
  def expected(base: Seq[Seed]): (Digest.Result, Long) = {
    val d = Digest.ofRows(base.iterator.flatMap(expectedRows), OutputSchema)
    (Digest.Result(d.rows * Replicas, d.sum * Replicas), (base.length + d.rows) * Replicas)
  }
}
