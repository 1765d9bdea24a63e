package graft.functions

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The q48 oracle corpus is degenerate for DISCRIMINATION (every
  * sf0.01 user hits every event type, so all pairwise Jaccards are
  * 1.0) — this spec drives the sketch on sets with CONTROLLED partial
  * overlap across 8 partitions, pinning (a) the bottom-k invariants
  * the estimator rests on, (b) merge-order independence (the property
  * that makes the DuckDB comparison bit-exact), and (c) estimator
  * accuracy on a known 20%-overlap pair — the case the oracle corpus
  * never exercises.
  */
class KmvSketchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private def md5Hash60(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString.substring(0, 15)
    java.lang.Long.parseLong(hex, 16)
  }

  test("sketch is the sorted distinct bottom-k, independent of partitioning") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val k = 16
    val values = (0 until 500).map(i => md5Hash60(s"user$i")) ++
      (0 until 500).map(i => md5Hash60(s"user$i")) // duplicates must not count twice
    val expected = values.distinct.sorted.take(k)
    for (parts <- Seq(1, 3, 8)) {
      val sk = spark.sparkContext.parallelize(values, parts).toDS()
        .select(new KmvSketch(k).toColumn).head()
      assert(sk.toSeq == expected, s"bottom-$k mismatch at $parts partitions")
    }
  }

  test("k-1/h_k estimator lands within 3 std errors on disjoint-heavy sets") {
    import spark.implicits._
    val k = 64
    val n = 5000
    val hashes = (0 until n).map(i => md5Hash60(s"id$i"))
    val sk = spark.sparkContext.parallelize(hashes, 8).toDS()
      .select(new KmvSketch(k).toColumn).head()
    assert(sk.length == k)
    val est = (k - 1).toDouble * math.pow(2.0, 60) / sk.last.toDouble
    val tol = 3.0 * n / math.sqrt(k - 2) // ~3σ for the KMV estimator
    assert(math.abs(est - n) <= tol, s"est $est vs true $n (tol $tol)")
  }

  test("union sample + membership calibrates a known 20% intersection") {
    val k = 64
    // |A| = |B| = 1000, |A∩B| = 200 (ids 800..999 shared)
    val a = (0 until 1000).map(i => md5Hash60(s"common${i}")).toArray.sorted
    val b = (800 until 1800).map(i => md5Hash60(s"common${i}")).toArray.sorted
    val sketch = new KmvSketch(k)
    val sigA = a.foldLeft(sketch.zero)(sketch.reduce).take(k)
    val sigB = b.foldLeft(sketch.zero)(sketch.reduce).take(k)
    val sA = sigA.take(k); val sB = sigB.take(k)
    val bigL = (sA ++ sB).distinct.sorted.take(k)
    val matches = bigL.count(h =>
      java.util.Arrays.binarySearch(sA, h) >= 0 &&
        java.util.Arrays.binarySearch(sB, h) >= 0)
    val estUnion = (k - 1).toDouble * math.pow(2.0, 60) / bigL.last.toDouble
    val estInt = matches.toDouble / bigL.length * estUnion
    // true union 1800, intersection 200; 3σ of the union estimate
    assert(math.abs(estInt - 200.0) <= 0.375 * estUnion,
      s"intersection est $estInt vs true 200 (union est $estUnion)")
    assert(estInt > 0.0, "20% overlap must not estimate to zero")
  }

  test("merge truncates at k and skips cross-buffer duplicates") {
    val sketch = new KmvSketch(4)
    val a = Array(1L, 3L, 5L, 7L)
    val b = Array(2L, 3L, 6L, 9L)
    assert(sketch.merge(a, b).toSeq == Seq(1L, 2L, 3L, 5L))
    assert(sketch.merge(b, a).toSeq == Seq(1L, 2L, 3L, 5L))
    assert(sketch.merge(a, sketch.zero).toSeq == a.toSeq)
    assert(sketch.merge(sketch.zero, b).toSeq == b.toSeq)
  }

  test("reduce keeps ≤ k, stays sorted, ignores values already present") {
    val sketch = new KmvSketch(3)
    var buf = sketch.zero
    for (v <- Seq(50L, 10L, 30L, 10L, 20L, 5L, 60L)) buf = sketch.reduce(buf, v)
    assert(buf.toSeq == Seq(5L, 10L, 20L))
  }
}
