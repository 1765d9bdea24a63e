package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The property c21 exists for — boundary SELF-SYNCHRONIZATION
  * (LBFS/FastCDC): a one-token edit changes only the chunk containing
  * it, while c08's positional chunking shifts every downstream chunk.
  * The driver corpora can't show this (no paired edited documents),
  * so it's pinned here on a crafted pair.
  */
class CdcChunkingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private def chunksOf(text: String): Seq[(Long, String)] = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cdc_spec_")
    try {
      Seq((0L, "xx", "src0", text.length.toLong, text))
        .toDF("doc_id", "lang", "source", "n_chars", "text")
        .write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
      Curation.c21CdcChunking.run(spark, dir.toString)
        .select("chunk_idx", "chunk_md5")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("a one-token edit perturbs only the chunk containing it") {
    // enough tokens that several content-defined cuts occur (E[len]=16)
    val base = (0 until 400).map(i => s"tok$i").toVector
    val baseChunks = chunksOf(base.mkString(" "))
    assert(baseChunks.size >= 8,
      s"fixture too short to cut: ${baseChunks.size} chunks")
    // edit one token mid-document (not itself a cut point in either
    // version with overwhelming likelihood; the assertion tolerates
    // a ±1 chunk-count change if it were)
    val edited = base.updated(200, "EDITED").mkString(" ")
    val editedChunks = chunksOf(edited)
    val baseSet = baseChunks.map(_._2).toSet
    val editedSet = editedChunks.map(_._2).toSet
    val lost = baseSet -- editedSet
    val gained = editedSet -- baseSet
    // self-synchronization: exactly the affected chunk differs
    // (≤2 on each side if the edit created/destroyed a cut point)
    assert(lost.size <= 2 && gained.size <= 2,
      s"edit leaked past its chunk: lost=${lost.size} gained=${gained.size}")
    assert(lost.nonEmpty && gained.nonEmpty, "edit changed no chunk at all")
    // and the shared prefix/suffix chunks survive verbatim
    assert((baseSet & editedSet).size >= baseChunks.size - 3,
      "most chunks must be byte-identical across the edit")
  }

  test("chunks tile the document exactly: spans are contiguous and complete") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cdc_spec2_")
    try {
      val text = (0 until 100).map(i => s"w$i").mkString(" ")
      Seq((7L, "xx", "src1", text.length.toLong, text))
        .toDF("doc_id", "lang", "source", "n_chars", "text")
        .write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
      val rows = Curation.c21CdcChunking.run(spark, dir.toString)
        .select("chunk_idx", "tok_start", "tok_end", "n_tok")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1)
      assert(rows.head._2 == 0L, "first chunk must start at 0")
      assert(rows.last._3 == 100L, "last chunk must end at n")
      rows.sliding(2).foreach {
        case Array((_, _, e1, _), (_, s2, _, _)) =>
          assert(e1 == s2, s"gap/overlap between chunks: $e1 vs $s2")
        case _ =>
      }
      assert(rows.map(_._4).sum == 100L, "chunk lengths must sum to n")
      assert(rows.forall(r => r._4 >= 1), "no empty chunks")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }
}
