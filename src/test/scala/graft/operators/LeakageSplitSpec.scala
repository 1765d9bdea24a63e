package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** p10's claim is that near-duplicate docs can NEVER straddle splits:
  * the split keys on the md5 of the d07 cluster label, not the doc
  * id. Pinned on a crafted corpus where the per-doc p03 hashes WOULD
  * scatter a near-dup pair across train/test (doc 0 → train, doc 44 →
  * test under p03), and p10 moves the pair atomically to the group
  * representative's split; singletons keep their p03 split exactly.
  *
  * md5 split bands: "0" → cfcd (train), "3" → eccb (val),
  * "44" → f717 (test), "49" → f457 (test).
  */
class LeakageSplitSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private def splitsOf(docs: Seq[(Long, Array[Float])]): Map[Long, (Long, String)] = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_p10_spec_")
    try {
      docs.map { case (id, _) => (id, "xx", "src0", 5L, s"doc $id") }
        .toDF("doc_id", "lang", "source", "n_chars", "text")
        .write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
      docs.map { case (id, v) => (id, v.toSeq, 0) }
        .toDF("vec_id", "embedding", "label")
        .selectExpr("vec_id", "CAST(embedding AS ARRAY<FLOAT>) AS embedding", "label")
        .write.mode("overwrite").parquet(dir.resolve("embeddings.parquet").toString)
      Sampling.p10LeakageSafeSplit.run(spark, dir.toString)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
        .toMap
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  private def vec(hot: Int): Array[Float] = {
    val v = new Array[Float](64)
    v(hot) = 1f
    v
  }

  test("a near-dup pair that p03 would scatter moves to one split atomically") {
    // docs 0 and 44 share an identical embedding (cos = 1 > 0.35,
    // same LSH buckets): p03 would put 0 in train and 44 in test —
    // the leak. p10 groups both under label 0 → both train.
    val out = splitsOf(Seq((0L, vec(0)), (44L, vec(0)), (3L, vec(7)), (49L, vec(11))))
    assert(out(0L) == ((0L, "train")) && out(44L) == ((0L, "train")),
      s"near-dup pair must share group 0 and split train, got $out")
  }

  test("docs with no near-dup edge keep their own p03 split") {
    val out = splitsOf(Seq((0L, vec(0)), (44L, vec(0)), (3L, vec(7)), (49L, vec(11))))
    assert(out(3L) == ((3L, "val")) && out(49L) == ((49L, "test")),
      s"singletons must keep p03 splits, got $out")
  }

  test("no group ever straddles two splits") {
    // a 3-chain: 0 ~ 44 ~ 49 via identical embeddings plus one
    // orthogonal singleton; the whole chain must land in ONE split
    val out = splitsOf(Seq((0L, vec(0)), (44L, vec(0)), (49L, vec(0)), (3L, vec(7))))
    val chain = Seq(0L, 44L, 49L).map(out)
    assert(chain.distinct.size == 1 && chain.head == ((0L, "train")),
      s"chain must collapse to one (group, split), got $out")
    assert(out.values.groupBy(_._1).forall(_._2.map(_._2).toSeq.distinct.size == 1))
  }
}
