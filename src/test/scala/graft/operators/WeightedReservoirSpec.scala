package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** p11's claims that the fixture oracle alone cannot falsify:
  *
  *  1. BIT-EXACTNESS of the engine spelling — the priority column
  *     (max of w 48-bit md5 uniforms via conv/substr/concat) equals
  *     an independent JVM MessageDigest recomputation, so the Spark
  *     expression tree computes the algorithm the doc describes, not
  *     something that merely hash-matches a sibling spelling.
  *  2. CALIBRATION — the Efraimidis-Spirakis inclusion law. On two
  *     equal-count weight tiers {1, 8} the top-k (k << n) inclusion
  *     rate must be ~8x higher for the heavy tier (expected split of
  *     200 slots is ~178/22). p07's `u div w` analog also passes a
  *     monotonicity check; the ~proportional RATE is the property
  *     only a faithful A-ES draw has, and it is deterministic here
  *     because the uniforms are md5-derived, not seeded PRNG.
  */
class WeightedReservoirSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private val prioritySql =
    "array_max(transform(sequence(1, weight), " +
      "j -> CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), ':', " +
      "CAST(j AS STRING))), 1, 12), 16, 10) AS BIGINT)))"

  private def jvmPriority(docId: Long, weight: Int): Long =
    (1 to weight).map { j =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$docId:$j".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 12), 16)
    }.max

  test("engine priority equals an independent JVM md5 recomputation") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val rows = (0L until 100L).map(id => (id, (id % 8 + 1).toInt))
    val got = rows.toDF("doc_id", "weight")
      .withColumn("priority", expr(prioritySql))
      .collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .toMap
    rows.foreach { case (id, w) =>
      assert(got(id) == jvmPriority(id, w),
        s"doc $id (w=$w): engine ${got(id)} != jvm ${jvmPriority(id, w)}")
    }
  }

  test("top-k inclusion rate is ~weight-proportional across tiers") {
    import spark.implicits._
    val n = 1000
    val k = 200
    // tier A: ids 0..999 weight 1; tier B: ids 1000..1999 weight 8
    val rows = (0L until n.toLong).map((_, 1)) ++
      (n.toLong until 2L * n).map((_, 8))
    val top = rows.toDF("doc_id", "weight")
      .withColumn("priority", expr(prioritySql))
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"))
      .collect()
      .map(_.getLong(0))
    val heavy = top.count(_ >= n)
    val light = k - heavy
    // expected ~178 vs ~22; the margin is wide but p07's u div w
    // analog (rate ratio far from 8) would still fail it
    assert(heavy > 4 * light,
      s"weight-8 tier won $heavy of $k vs weight-1 tier $light — not A-ES-proportional")
    assert(light > 0, s"weight-1 tier won zero of $k slots — suspicious for k=$k")
  }
}
