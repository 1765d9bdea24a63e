package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the c33 change-feed branches the hash gate cannot see:
  * replaying the row-level feed reconstructs EVERY version's
  * snapshot (CDF's defining property — the feed is a lossless
  * row-level history), the pure-compaction commit emits nothing, the
  * merge commit carries all four change types while its carried-over
  * rewrite rows appear in none, and the dominant add-only path plans
  * without a join.
  */
class TxlogChangeFeedSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private val dir = "/root/testdata/sf0.001"

  test("replaying the row-level feed reconstructs every version's snapshot") {
    spark.sparkContext.setLogLevel("WARN")
    val (files, perVersion) = Curation.txlogTableWithChanges(spark, dir)
    def readLive(live: Seq[String]): DataFrame =
      spark.read.schema("doc_id BIGINT, text STRING")
        .parquet(live.map(p => s"$files/$p"): _*)
    var running: DataFrame = spark.range(0)
      .select(col("id").as("doc_id"), lit("").as("text"))
    val live = scala.collection.mutable.LinkedHashSet.empty[String]
    perVersion.zipWithIndex.foreach { case (tx, v) =>
      val feed = Curation.txlogChangeRows(spark, files, tx)
      val removed = feed
        .filter(col("change_type").isin("delete", "update_preimage"))
        .select(col("doc_id"), col("text"))
      val added = feed
        .filter(col("change_type").isin("insert", "update_postimage"))
        .select(col("doc_id"), col("text"))
      running = running.exceptAll(removed).unionByName(added)
      tx.removes.foreach(p => assert(live.remove(p), s"v$v removes unknown $p"))
      tx.adds.foreach(p => assert(live.add(p), s"v$v re-adds $p"))
      val snapshot = readLive(live.toSeq)
      assert(running.exceptAll(snapshot).isEmpty
          && snapshot.exceptAll(running).isEmpty,
        s"feed-replayed rows diverge from the v$v snapshot")
      running = running.localCheckpoint() // keep the fold's lineage flat
    }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  test("merge carries all four change types; carried-over rows and compaction emit nothing") {
    spark.sparkContext.setLogLevel("WARN")
    val (files, perVersion) = Curation.txlogTableWithChanges(spark, dir)
    // v5 (pure compaction): an empty feed
    assert(Curation.txlogChangeRows(spark, files, perVersion(5)).isEmpty,
      "the pure-compaction commit emitted change rows")
    // v4 (the COW merge): all four types present
    val v4 = Curation.txlogChangeRows(spark, files, perVersion(4)).cache()
    try {
      val types = v4.select("change_type").distinct()
        .collect().map(_.getString(0)).toSet
      assert(types == Set("insert", "delete",
        "update_preimage", "update_postimage"), s"v4 types: $types")
      // bucket-1 rows carried over by the rewrite (original ids,
      // identical text) must NOT appear — only the real +16M inserts
      val b1 = v4.filter(col("doc_id") % 16 === 1)
      assert(b1.filter(col("doc_id") < 16000000L).isEmpty,
        "carried-over bucket-1 rewrite rows leaked into the feed")
      assert(b1.filter(col("change_type") =!= "insert").isEmpty,
        "the +16M merge rows must all be inserts")
    } finally { v4.unpersist(); () }
  }

  test("the add-only path plans without a join (the 100 TB append fast path)") {
    val (files, perVersion) = Curation.txlogTableWithChanges(spark, dir)
    val p = Curation.txlogChangeRows(spark, files, perVersion(0))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"an append commit must not pay a diff join:\n$p")
  }
}
