package graft

import org.apache.spark.sql.SparkSession

/** The suites' shared session and fixture config. One JVM runs every
  * suite, and `getOrCreate` hands each the same session, so the specs
  * that pin planner behaviour take it from here: local[4], four shuffle
  * partitions, UTC, with GraftExtensions registered through the
  * live-session path — the planner Bench and Verify sessions have.
  */
object TestSession {

  /** The session, registered afresh on each call: suites that toggle a
    * single rule on the shared session (the rule specs) may have left
    * GraftExtensions' rules missing or out of order.
    */
  def spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.functions.GraftExtensions.register(s)
    s
  }

  /** The generated fixtures (TESTDATA.md). */
  val testdata = "/root/testdata"

  /** The fixture directory of scale factor `sf`, e.g. `fixture("0.001")`. */
  def fixture(sf: String): String = s"$testdata/sf$sf"
}
