package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** c22's claim is SURGICAL excision — exact covered intervals, not
  * whole-doc drops — so it's pinned on crafted corpora where the true
  * cut is known to the token: a verbatim run shared with a benchmark
  * doc is cut with exact boundaries and the rest of the text survives
  * in order; overlapping runs from TWO benchmark docs merge into one
  * covered interval; sub-threshold overlaps leave the doc untouched
  * (not emitted); a fully-covered doc rebuilds to the empty string;
  * benchmark docs themselves are never scrubbed.
  *
  * doc_id 27 and 59 sit in c04's md5-keyed 5% benchmark sample
  * (md5("27") = 02e7…, md5("59") = 093f…, both < 0ccd); 0-2 do not.
  */
class SpanScrubSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private def scrubOf(docs: Seq[(Long, String)]): Seq[(Long, Long, Long, String)] = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_scrub_spec_")
    try {
      docs.map { case (id, t) => (id, "xx", "src0", t.length.toLong, t) }
        .toDF("doc_id", "lang", "source", "n_chars", "text")
        .write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
      Curation.c22SpanScrub.run(spark, dir.toString)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSeq
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  private def toks(prefix: String, n: Int): Vector[String] =
    (0 until n).map(i => s"$prefix$i").toVector

  test("a shared run is cut with exact boundaries and the rest survives in order") {
    val shared = toks("s", 20)
    val bench = shared.mkString(" ")                       // doc 27: the eval item
    val doc = (toks("a", 10) ++ shared ++ toks("z", 3)).mkString(" ")
    val out = scrubOf(Seq((27L, bench), (0L, doc)))
    assert(out == Seq((0L, 1L, 20L, (toks("a", 10) ++ toks("z", 3)).mkString(" "))),
      s"expected tokens 11-30 cut and a0-a9 z0-z2 kept, got $out")
  }

  test("overlapping spans from two benchmark docs merge into one covered interval") {
    val s = toks("s", 28)
    val bench1 = s.take(20).mkString(" ")                  // covers run positions 1-20
    val bench2 = s.drop(8).mkString(" ")                   // covers run positions 9-28
    val doc = (toks("a", 5) ++ s).mkString(" ")            // run at positions 6-33
    val out = scrubOf(Seq((27L, bench1), (59L, bench2), (0L, doc)))
    assert(out == Seq((0L, 1L, 28L, toks("a", 5).mkString(" "))),
      s"expected ONE merged 28-token cut, got $out")
  }

  test("overlaps under the 12-token threshold leave the doc unemitted") {
    val shared = toks("s", 11)
    val out = scrubOf(Seq((27L, shared.mkString(" ")),
      (0L, (toks("a", 8) ++ shared).mkString(" "))))
    assert(out.isEmpty, s"11-token overlap must not scrub, got $out")
  }

  test("a fully-covered doc rebuilds to the empty string") {
    val shared = toks("s", 16)
    val out = scrubOf(Seq((27L, shared.mkString(" ")), (0L, shared.mkString(" "))))
    assert(out == Seq((0L, 1L, 16L, "")), s"expected a full cut to '', got $out")
  }

  test("benchmark docs are never scrubbed, even against each other") {
    val shared = toks("s", 20)
    val out = scrubOf(Seq((27L, shared.mkString(" ")), (59L, shared.mkString(" "))))
    assert(out.isEmpty, s"bench docs must never appear in the output, got $out")
  }

  test("two disjoint runs against the same benchmark doc stay two spans") {
    val r1 = toks("p", 12)
    val r2 = toks("q", 12)
    val bench = (r1 ++ toks("m", 4) ++ r2).mkString(" ")
    val doc = (r1 ++ toks("g", 6) ++ r2).mkString(" ")     // different gap tokens
    val out = scrubOf(Seq((27L, bench), (0L, doc)))
    assert(out == Seq((0L, 2L, 24L, toks("g", 6).mkString(" "))),
      s"expected two 12-token cuts with the gap kept, got $out")
  }
}
