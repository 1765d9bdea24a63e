package graft

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.{Failure, Success, Try}

/** `Tables.parquet` reads the schema from one footer on the driver in
  * place of Spark's one-task inference job. It must yield exactly the
  * schema `spark.read.parquet` infers, on every fixture table, on
  * footers another writer produced, on Spark's own multi-file and
  * partitioned output, and under both settings of the legacy
  * TIMESTAMP(NANOS) conf the events reader flips.
  */
class FooterSchemaSpec extends AnyFunSuite {

  private lazy val spark = TestSession.spark
  private val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  private def tables(dir: String): Seq[String] =
    new File(dir).listFiles().toSeq.map(_.getPath).filter(_.endsWith(".parquet")).sorted

  /** Equal schemas under each nanosAsLong setting, or both reads fail. */
  private def assertSameSchema(paths: String*): Unit = {
    for (nanos <- Seq("true", "false")) Runeset.withConf(spark, nanosKey -> nanos) {
      (Try(spark.read.parquet(paths: _*).schema), Try(Tables.parquet(spark, paths: _*).schema)) match {
        case (Success(inferred), Success(footer)) =>
          assert(footer == inferred,
            s"${paths.mkString(",")} nanosAsLong=$nanos:\n${footer.treeString}\nvs\n${inferred.treeString}")
        case (Failure(_), Failure(_)) =>
        case (inferred, footer) =>
          fail(s"${paths.mkString(",")} nanosAsLong=$nanos: inference $inferred, footer read $footer")
      }
    }
  }

  for (sf <- Seq("0.001", "0.01")) {
    test(s"every sf$sf table: the footer schema is the inferred schema") {
      val ts = tables(TestSession.fixture(sf))
      assert(ts.nonEmpty, s"no tables under ${TestSession.fixture(sf)}")
      ts.foreach(assertSameSchema(_))
    }
  }

  test("every adversarial-fixture table (documents written by pyarrow)") {
    val out = Files.createTempDirectory("graft_advfix_").toFile
    val made = Try(scala.sys.process.Process(Seq("python3", "tools/make_adversarial_fixture.py",
      TestSession.fixture("0.001"), out.getPath)).!(scala.sys.process.ProcessLogger(_ => ())))
    assume(made == Success(0), "python3 with pyarrow builds the adversarial fixture")
    try tables(out.getPath).foreach(assertSameSchema(_))
    finally org.apache.commons.io.FileUtils.deleteDirectory(out)
  }

  test("written part-file directories: plain, multi-path and partitioned") {
    val out = Files.createTempDirectory("graft_footer_").toFile
    try {
      val df = spark.range(0, 60).select(
        col("id"), (col("id") % 3).as("k"), col("id").cast("string").as("s"),
        array(col("id"), col("id") + 1).as("a"),
        struct(col("id").as("x"), col("id").cast("double").as("y")).as("st"),
        timestamp_micros(col("id")).as("ts"), col("id").cast("decimal(12,2)").as("dec"),
        parse_json(to_json(struct(col("id").as("n")))).as("v"))
      val plain = s"${out.getPath}/plain"
      df.repartition(3).write.parquet(plain)
      assertSameSchema(plain)
      val parts = new File(plain).listFiles().toSeq.map(_.getPath)
        .filter(_.endsWith(".parquet")).sorted
      assert(parts.size == 3, s"expected three part files, got $parts")
      assertSameSchema(parts.reverse: _*)
      val parted = s"${out.getPath}/parted"
      df.write.partitionBy("k").parquet(parted)
      assertSameSchema(parted)
      assertSameSchema(s"$parted/k=1")
      assertSameSchema(s"${out.getPath}/missing")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(out)
  }
}
