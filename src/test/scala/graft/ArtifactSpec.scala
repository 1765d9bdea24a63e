package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Artifact]]'s contract: one build per (table, variant, dir,
  * source fingerprint), a rebuild when the source file is rewritten that
  * drops the older entry, no memo of a build that throws, build time
  * counted only for completed builds and only once when builds nest,
  * and a registry that names every artifact.
  */
class ArtifactSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  /** A fresh data dir holding `documents.parquet` with `n` rows. */
  private def fixture(n: Int): String = {
    val dir = Files.createTempDirectory("graft-artifact").toFile.getAbsolutePath
    writeDocs(dir, n)
    dir
  }

  private def writeDocs(dir: String, n: Int): Unit =
    spark.range(n).toDF("doc_id").write.mode("overwrite").parquet(s"$dir/documents.parquet")

  test("repeated calls build once per key") {
    val a = Artifact[Int]("spec_once")
    val dir = fixture(5)
    var builds = 0
    def get(variant: String) = a.memo(dir, "documents", variant) { builds += 1; builds }
    assert(get("") == 1)
    assert(get("") == 1)
    assert(get("") == 1)
    assert(builds == 1)
    assert(get("other") == 2) // a variant is its own key
    assert(get("other") == 2)
    assert(builds == 2)
  }

  test("rewriting the source file rebuilds") {
    val a = Artifact[Int]("spec_rewrite")
    val dir = fixture(5)
    var builds = 0
    def get() = a.memo(dir, "documents") { builds += 1; builds }
    assert(get() == 1)
    writeDocs(dir, 7) // new part files: a new fingerprint
    assert(get() == 2)
    assert(get() == 2)
    assert(builds == 2)
  }

  test("a build that throws is not memoized and runs again on the next call") {
    val a = Artifact[String]("spec_throws")
    val dir = fixture(3)
    var attempts = 0
    def get(fail: Boolean) = a.memo(dir, "documents") {
      attempts += 1
      require(!fail, s"build $attempts failed")
      s"built on attempt $attempts"
    }
    val e1 = intercept[IllegalArgumentException](get(fail = true))
    assert(e1.getMessage.contains("build 1 failed"))
    val e2 = intercept[IllegalArgumentException](get(fail = true))
    assert(e2.getMessage.contains("build 2 failed"))
    assert(get(fail = false) == "built on attempt 3")
    assert(get(fail = true) == "built on attempt 3") // now memoized
    assert(attempts == 3)
  }

  test("buildNanos grows only on completed builds") {
    val a = Artifact[Int]("spec_nanos")
    val dir = fixture(3)
    intercept[IllegalStateException](a.memo(dir, "documents") {
      Thread.sleep(20)
      throw new IllegalStateException("failed build")
    })
    assert(a.buildNanos.get() == 0L)
    a.memo(dir, "documents") { Thread.sleep(20); 1 }
    val afterBuild = a.buildNanos.get()
    assert(afterBuild >= 20L * 1000 * 1000)
    a.memo(dir, "documents")(fail("a hit must not build"))
    assert(a.buildNanos.get() == afterBuild)
  }

  test("a build nested in another counts only toward its own artifact") {
    val outer = Artifact[Int]("spec_outer")
    val inner = Artifact[Int]("spec_inner")
    val dir = fixture(3)
    assert(outer.memo(dir, "documents") {
      inner.memo(dir, "documents") { Thread.sleep(300); 1 } + 1
    } == 2)
    assert(inner.buildNanos.get() >= 300L * 1000 * 1000)
    assert(outer.buildNanos.get() < 200L * 1000 * 1000,
      s"outer build counted ${outer.buildNanos.get() / 1e6} ms, the nested build included")
  }

  test("building a new generation drops the older generation's entry") {
    val a = Artifact[Int]("spec_generations")
    val dir = fixture(5)
    a.memo(dir, "documents")(1)
    a.memo(dir, "documents", "other")(2)
    assert(a.entries == 2)
    writeDocs(dir, 7)
    assert(a.memo(dir, "documents")(3) == 3)
    assert(a.entries == 2) // the new "" entry replaced the old; "other" is its own key
    assert(a.memo(dir, "documents", "other")(4) == 4)
    assert(a.entries == 2)
  }

  test("the registry names every artifact, each once") {
    val a = Artifact[Int]("spec_registry")
    val dir = fixture(3)
    a.memo(dir, "documents") { Thread.sleep(1); 1 }
    // initialize each owner, which creates its artifacts
    val owners = Seq(Tables, operators.Curation, operators.Dedup, operators.StreamReplay)
    assert(owners.size == 4)
    val names = Artifact.buildSeconds.map(_._1)
    assert(names.distinct == names)
    Seq("spec_registry", "neardup_kept", "txlog_changes", "d16_index", "ordered_fixture",
      "gate_sides", "events_shred", "events_era").foreach { n =>
      assert(names.contains(n), s"$n missing from ${names.mkString(", ")}")
    }
    assert(Artifact.buildSeconds.toMap.apply("spec_registry") > 0.0)
    intercept[IllegalArgumentException](Artifact[Int]("spec_registry"))
  }
}
