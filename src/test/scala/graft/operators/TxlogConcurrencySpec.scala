package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins the c30 optimistic-concurrency protocol's branches the hash
  * gate cannot see: the atomic-create commit primitive admits exactly
  * one winner per slot, the loser's retry lands at the next version
  * when its file set is disjoint, and a TRUE conflict (overlapping
  * touched files) ABORTS loudly instead of last-writer-winning.
  */
class TxlogConcurrencySpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private def freshLog(): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft_c30_")
    p.toFile.deleteOnExit()
    p
  }

  test("the commit slot admits exactly one winner; the loser retries to the next version") {
    spark.sparkContext.setLogLevel("WARN")
    val log = freshLog()
    val a = Curation.TxActions(removes = Seq("f1"), adds = Seq("a_out"))
    val b = Curation.TxActions(removes = Seq("f2"), adds = Seq("b_out"))
    assert(Curation.tryCommit(log, 0, a), "empty slot must accept")
    assert(!Curation.tryCommit(log, 0, b), "taken slot must reject")
    assert(Curation.resolveAndRetry(spark, log, 0, b) == 1)
    // the log holds both commits, gapless, with the right contents
    val names = log.toFile.listFiles().map(_.getName).filter(_.endsWith(".json")).sorted
    assert(names.toSeq == Seq("00000000.json", "00000001.json"))
    val v1 = new String(java.nio.file.Files.readAllBytes(log.resolve("00000001.json")), "UTF-8")
    assert(v1.contains("b_out") && v1.contains("f2"))
  }

  test("a true conflict aborts loudly instead of last-writer-wins") {
    spark.sparkContext.setLogLevel("WARN")
    val log = freshLog()
    val a = Curation.TxActions(removes = Seq("shared"), adds = Seq("a_out"))
    val c = Curation.TxActions(removes = Seq("shared"), adds = Seq("c_out"))
    assert(Curation.tryCommit(log, 0, a))
    val e = intercept[IllegalStateException] {
      Curation.resolveAndRetry(spark, log, 0, c)
    }
    assert(e.getMessage.contains("shared"), e.getMessage)
    // the aborted transaction left no commit behind
    assert(log.toFile.listFiles().count(_.getName.endsWith(".json")) == 1)
  }

  test("the loser re-validates against EVERY commit it lost to") {
    spark.sparkContext.setLogLevel("WARN")
    val log = freshLog()
    assert(Curation.tryCommit(log, 0,
      Curation.TxActions(removes = Nil, adds = Seq("w0"))))
    assert(Curation.tryCommit(log, 1,
      Curation.TxActions(removes = Nil, adds = Seq("w1"))))
    // disjoint from both → lands at 2
    val ok = Curation.TxActions(removes = Nil, adds = Seq("mine"))
    assert(Curation.resolveAndRetry(spark, log, 0, ok) == 2)
    // conflicting with the SECOND winner only → still aborts
    val bad = Curation.TxActions(removes = Seq("w1"), adds = Seq("other"))
    intercept[IllegalStateException] {
      Curation.resolveAndRetry(spark, log, 0, bad)
    }
  }
}
