package graft.plans

import graft.functions.SortedArrayJaccard
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class InferJaccardSizeFilterSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private def pairsDf = {
    import spark.implicits._
    Seq(
      (Seq("a", "b", "c"), Seq("a", "b", "c")),          // j = 1.0
      (Seq("a", "b", "c"), Seq("a", "b", "c", "d")),     // j = 0.75
      (Seq("a"), Seq("a", "b", "c", "d", "e", "f"))      // j ≈ 0.17, sizes 1 vs 6
    ).toDF("x", "y")
  }

  test("rule infers size bounds next to a jaccard threshold") {
    // parquet-backed pairs (a LocalRelation would be constant-folded
    // before the Filter survives into the optimized plan)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), array_sort(array_distinct(split(col("text"), " "))).as("ts"))
    def pairs = docs.alias("a").join(docs.alias("b"), col("a.doc_id") < col("b.doc_id"))
      .filter(SortedArrayJaccard(col("a.ts"), col("b.ts")) >= 0.9)
    val optimized = pairs.queryExecution.optimizedPlan.toString
    assert(optimized.contains("size("), s"no inferred size predicate in:\n$optimized")
    // results are unchanged by the implied predicates: compare counts
    // against the same query without the rule
    val n = pairs.count()
    val nPlain = graft.TestSession.withoutRules(spark, InferJaccardSizeFilter)(pairs.count())
    assert(n == nPlain, s"rule changed results: $n vs $nPlain")
  }

  test("rule is idempotent and inactive without a jaccard predicate") {
    val before = pairsDf.filter(size(col("x")) > 0)
    val plan1 = InferJaccardSizeFilter(before.queryExecution.analyzed)
    val plan2 = InferJaccardSizeFilter(plan1)
    assert(plan1 == plan2)
  }
}
