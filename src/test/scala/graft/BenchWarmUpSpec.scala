package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Bench's untimed warm-up runs on the dirs Bench is pointed at,
  * including a ScaleGen dir, which holds only the tables it was asked
  * to scale.
  */
class BenchWarmUpSpec extends AnyFunSuite {

  test("the warm-up runs on a dir holding only documents and embeddings") {
    val spark = TestSession.spark
    val tmp = Files.createTempDirectory("graft-warmup").toFile
    try {
      for (t <- Seq("documents", "embeddings"))
        Files.copy(Paths.get(TestSession.fixture("0.001"), s"$t.parquet"),
          tmp.toPath.resolve(s"$t.parquet"))
      assert(!tmp.toPath.resolve("lineitem.parquet").toFile.exists())
      Bench.warmUp(spark, tmp.getAbsolutePath)
      assert(Tables.documents(spark, tmp.getAbsolutePath).count() ==
        Tables.documents(spark, TestSession.fixture("0.001")).count())
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }
}
