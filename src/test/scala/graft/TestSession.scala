package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.Rule

/** The suites' shared session and fixture config. One JVM runs every
  * suite, and `getOrCreate` hands each the same session, so every suite
  * takes it from here: `Runeset()`'s local[4], four shuffle partitions
  * and UTC, with GraftExtensions injected when the session is built —
  * the planner Bench and Verify sessions have.
  */
object TestSession {

  def spark: SparkSession = Runeset().buildSession()

  /** Runs `body` with `rules` excluded from the optimizer — the plain
    * baseline a rule spec compares against — and restores the previous
    * exclusion list after, so nothing leaks into later suites.
    */
  def withoutRules[T](spark: SparkSession, rules: Rule[_]*)(body: => T): T =
    Runeset.withConf(spark,
      "spark.sql.optimizer.excludedRules" -> rules.map(_.ruleName).mkString(","))(body)

  /** The generated fixtures (TESTDATA.md). */
  val testdata = "/root/testdata"

  /** The fixture directory of scale factor `sf`, e.g. `fixture("0.001")`. */
  def fixture(sf: String): String = s"$testdata/sf$sf"
}
