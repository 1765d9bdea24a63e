package graft.plans

import graft.{SparkEntry, TestSession}
import org.apache.spark.graft.JobCapture
import org.apache.spark.scheduler.SparkListenerJobStart
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The fixed cost a batch query should not pay: no schema-inference job
  * while its frame is built (`Tables.parquet`), and no RangePartitioner
  * sample job when its sort's input is one partition
  * ([[OnePartitionSortExchange]]). Runs on the shared session, which
  * gets the rules injected when it is built.
  */
class OnePartitionSortExchangeSpec extends AnyFunSuite {

  private lazy val spark = TestSession.spark
  private val dir = TestSession.fixture("0.001")

  private def sampleJobs(jobs: Seq[SparkListenerJobStart]): Seq[SparkListenerJobStart] =
    jobs.filter(JobCapture.rangeSample)

  private val rangeOne = "rangepartitioning\\([^)]*, 1\\)".r

  test("building q10's and q64's frames launches no job") {
    for (name <- Seq("q10_join_inner", "q64_json_props")) {
      val (_, jobs) = JobCapture.jobsDuring(spark.sparkContext)(SparkEntry.queries(name)(spark, dir))
      assert(jobs.isEmpty, s"$name: building the frame launched ${jobs.size} job(s)")
    }
  }

  test("q64's and q10's sorts over one-partition inputs run no sample job") {
    for (name <- Seq("q64_json_props", "q10_join_inner")) {
      val df = SparkEntry.queries(name)(spark, dir)
      val (rows, jobs) = JobCapture.jobsDuring(spark.sparkContext)(df.collect())
      assert(rows.nonEmpty, s"$name returned no rows")
      assert(sampleJobs(jobs).isEmpty,
        s"$name: ${sampleJobs(jobs).size} sample job(s) among ${jobs.size}")
      val p = df.queryExecution.executedPlan.toString
      assert(rangeOne.findFirstIn(p).isDefined, s"$name: no one-partition range exchange in:\n$p")
    }
  }

  test("a multi-partition input keeps its range exchange; repartitionByRange is left alone") {
    val out = java.nio.file.Files.createTempDirectory("graft_rangesort_").toFile
    try {
      val path = s"${out.getPath}/ids"
      spark.range(0, 3000).repartition(3).write.parquet(path)
      val multi = graft.Tables.parquet(spark, path)
      assert(multi.rdd.getNumPartitions == 3)
      val sorted = multi.orderBy(col("id"))
      val (_, sortJobs) = JobCapture.jobsDuring(spark.sparkContext)(sorted.collect())
      assert(sampleJobs(sortJobs).nonEmpty, "a three-partition sort input must be sampled")
      val p = sorted.queryExecution.executedPlan.toString
      assert(rangeOne.findFirstIn(p).isEmpty, s"range exchange narrowed over three partitions:\n$p")

      val user = graft.Tables.events(spark, dir).repartitionByRange(4, col("event_id"))
      val (_, userJobs) = JobCapture.jobsDuring(spark.sparkContext)(user.collect())
      assert(sampleJobs(userJobs).nonEmpty, "repartitionByRange(4) must keep its sampled split")
      val up = user.queryExecution.executedPlan.toString
      assert("rangepartitioning\\([^)]*, 4\\)".r.findFirstIn(up).isDefined,
        s"repartitionByRange(4) lost its partition count:\n$up")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(out)
  }
}
