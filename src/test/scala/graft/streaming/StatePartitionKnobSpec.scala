package graft.streaming

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins for the round-13 replay-harness knobs:
  *  - the SOURCE-derived state-partition count (one per 8 MB,
  *    saturating at the session parallelism — the fix for Spark's
  *    serialized per-partition state-store provider loads on tiny
  *    corpora, and a no-op at scale);
  *  - the d16 standing-index probe reading ONLY the delta's hp=
  *    partitions (the listing-level skip behind the cost-∝-delta
  *    claim).
  */
class StatePartitionKnobSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  test("state partitions: tiny source -> 1; derivation saturates at the parallelism cap") {
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.StreamReplay
    // the sf0.001 events fixture is a few hundred KB -> 1 partition
    val f = new java.io.File("/root/testdata/sf0.001", "events.parquet")
    StreamReplay.recordSourceBytes(spark, f)
    assert(StreamReplay.stateShufflePartitions(spark) === 1)
    // a synthetic 1 GiB source saturates at defaultParallelism (4 here)
    spark.conf.set("graft.replay.source_bytes", (1L << 30).toString)
    assert(StreamReplay.stateShufflePartitions(spark) ===
      spark.sparkContext.defaultParallelism)
    // 20 MB -> ceil(20/8) = 3 partitions: proportional in between
    spark.conf.set("graft.replay.source_bytes", (20L * 1024 * 1024).toString)
    assert(StreamReplay.stateShufflePartitions(spark) === 3)
    // no recorded source (defensive): fall back to the cap
    spark.conf.unset("graft.replay.source_bytes")
    assert(StreamReplay.stateShufflePartitions(spark) ===
      spark.sparkContext.defaultParallelism)
  }

  test("d16 probe reads only the delta's hp= partitions of the standing index") {
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.Dedup
    val d = "/root/testdata/sf0.001"
    val (path, prefixLen, _) = Dedup.d16BuildIndex(spark, d)
    val allParts = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("hp=")).map(_.getName).toSet
    assert(allParts.size > 1, s"index should be hash-prefix partitioned, saw $allParts")
    // materialize = false: the production path eagerly checkpoints the
    // (output-sized) result to release the delta band cache, which
    // empties inputFiles — the spec needs the raw scan to inspect it
    val probe = Dedup.d16ProbeFrame(spark, d, path, prefixLen, materialize = false)
    // the files the probe's scan would touch, before any execution
    val touched = probe.inputFiles
      .flatMap(_.split("/").find(_.startsWith("hp="))).toSet
    assert(touched.nonEmpty, "probe read no index partitions")
    assert(touched.subsetOf(allParts))
    // the delta (src0/src1) covers a strict subset of the corpus's
    // band-hash prefixes at this scale — the listing skip is real
    assert(touched.size < allParts.size,
      s"probe listed every partition (${touched.size}/${allParts.size}) — no pruning happened")
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}
