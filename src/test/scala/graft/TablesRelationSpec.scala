package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.sources.BaseRelation
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.read` resolves a fixture table's relation once per session
  * and fixture generation, and hands out a new frame with new column
  * ids on every call.
  */
class TablesRelationSpec extends AnyFunSuite {

  private lazy val spark = TestSession.spark
  private val dir = TestSession.fixture("0.001")

  private def relationOf(df: DataFrame): BaseRelation =
    df.queryExecution.analyzed.collectFirst { case r: LogicalRelation => r.relation }
      .getOrElse(fail(s"no relation in ${df.queryExecution.analyzed}"))

  test("two reads of one table share its relation, but not their column ids") {
    val a = Tables.orders(spark, dir)
    val b = Tables.orders(spark, dir)
    assert(relationOf(a) eq relationOf(b), "the second read resolved the relation again")
    val ids = (df: DataFrame) => df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).nonEmpty && ids(a).intersect(ids(b)).isEmpty,
      s"two reads share column ids: ${ids(a).intersect(ids(b))}")
  }

  test("a self-join of two reads on their key is unambiguous") {
    val a = Tables.orders(spark, dir)
    val b = Tables.orders(spark, dir)
    val joined = a.join(b, a("o_orderkey") === b("o_orderkey"))
    assert(joined.count() == Tables.orders(spark, dir).count())
  }

  test("rewriting a fixture file resolves the relation again and reads the new rows") {
    val tmp = Files.createTempDirectory("graft-relation").toFile
    try {
      val d = tmp.getAbsolutePath
      def write(n: Int): Unit =
        spark.range(n).toDF("doc_id").write.mode("overwrite").parquet(s"$d/documents.parquet")
      write(5)
      val first = Tables.documents(spark, d)
      assert(first.count() == 5)
      assert(relationOf(Tables.documents(spark, d)) eq relationOf(first))
      write(7) // new part files: a new fingerprint
      val second = Tables.documents(spark, d)
      assert(relationOf(second) ne relationOf(first))
      assert(second.count() == 7)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }

  test("a new session resolves its own relation") {
    val other: SparkSession = spark.newSession()
    val mine = Tables.orders(spark, dir)
    val theirs = Tables.orders(other, dir)
    assert(theirs.sparkSession eq other)
    assert(relationOf(theirs) ne relationOf(mine))
    assert(relationOf(Tables.orders(other, dir)) eq relationOf(theirs))
    assert(theirs.count() == mine.count())
  }
}
