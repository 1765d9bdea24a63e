package graft.plans

import graft.{SparkEntry, TestSession}
import org.apache.spark.graft.JobCapture
import org.apache.spark.scheduler.SparkListenerJobStart
import org.apache.spark.sql.functions.{col, concat, concat_ws, lit, sha2}
import org.scalatest.funsuite.AnyFunSuite

/** The fixed cost a batch query should not pay: no job and no cached
  * plan while its frame is built (`Tables.parquet`), and no
  * RangePartitioner sample job when its sort's input has rows in one
  * partition ([[OnePartitionSortExchange]]). Runs on the shared
  * session, which gets the rules injected when it is built.
  */
class OnePartitionSortExchangeSpec extends AnyFunSuite {

  private lazy val spark = TestSession.spark
  private val dir = TestSession.fixture("0.001")

  private def sampleJobs(jobs: Seq[SparkListenerJobStart]): Seq[SparkListenerJobStart] =
    jobs.filter(JobCapture.rangeSample)

  private val rangeOne = "rangepartitioning\\([^)]*, 1\\)".r

  /** The `batch_queries` members of the benchmark. */
  private val batchMembers = Seq("q02_filter_project", "q10_join_inner", "q30_window_rank",
    "q40_sort_limit", "q64_json_props", "d06_embedding_near_dup")

  test("batch_queries frames build with no job and no cache") {
    spark.catalog.clearCache()
    for (name <- batchMembers) {
      val (_, jobs) = JobCapture.jobsDuring(spark.sparkContext)(SparkEntry.queries(name)(spark, dir))
      assert(jobs.isEmpty, s"$name: building the frame launched ${jobs.size} job(s)")
      assert(spark.sharedState.cacheManager.isEmpty, s"$name: building the frame cached a plan")
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

  /** One parquet part file of 200 rows under `dir/name`, with one row
    * group or, at `rowGroups = 2`, two of 100 rows; its path.
    */
  private def writeOneFile(dir: String, name: String, rowGroups: Int): String = {
    val path = s"$dir/$name"
    val blockSize = if (rowGroups == 1) 128L << 20 else 1L
    spark.range(0, 200, 1, 1)
      .select(col("id"), (col("id") * 7919 % 200).as("k"),
        concat_ws("", (0 until 16).map(i => sha2(concat(col("id").cast("string"), lit(i)), 256)): _*)
          .as("pad"))
      .write.option("parquet.block.size", blockSize).parquet(path)
    val file = new java.io.File(path).listFiles().map(_.getPath).filter(_.endsWith(".parquet"))
    assert(file.length == 1, s"expected one part file, got ${file.mkString(", ")}")
    file.head
  }

  /** The row-group midpoints of a parquet file, as Parquet's split rule
    * places them.
    */
  private def midpoints(file: String): Seq[Long] = {
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
    import scala.jdk.CollectionConverters._
    ParquetFooterReader.readFooter(HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(file),
      spark.sessionState.newHadoopConf()), ParquetMetadataConverter.NO_FILTER)
      .getBlocks.asScala.toSeq.map(b => b.getStartingPos + b.getCompressedSize / 2)
  }

  /** Sorts the file read with splits of `splitBytes`: the input's
    * partition count, the sorted keys, the sort's jobs and its plan.
    */
  private def sortSplit(file: String, splitBytes: Long) =
    graft.Runeset.withConf(spark, "spark.sql.files.maxPartitionBytes" -> splitBytes.toString) {
      val df = graft.Tables.parquet(spark, file)
      val sorted = df.orderBy(col("k").desc, col("id"))
      val (rows, jobs) = JobCapture.jobsDuring(spark.sparkContext)(sorted.collect())
      (df.rdd.getNumPartitions, rows.map(r => (r.getLong(1), r.getLong(0))).toSeq, jobs,
        sorted.queryExecution.executedPlan.toString)
    }

  private val expectedOrder =
    (0L until 200L).map(id => (id * 7919 % 200, id)).sortBy { case (k, id) => (-k, id) }

  test("a one-row-group file read in several splits sorts in one partition, unsampled") {
    val out = java.nio.file.Files.createTempDirectory("graft_onegroup_").toFile
    try {
      val file = writeOneFile(out.getPath, "one", rowGroups = 1)
      assert(midpoints(file).size == 1)
      val (parts, rows, jobs, p) = sortSplit(file, new java.io.File(file).length / 3)
      assert(parts >= 2, s"the file must be read in several splits, got $parts")
      assert(sampleJobs(jobs).isEmpty, s"${sampleJobs(jobs).size} sample job(s) among ${jobs.size}")
      assert(rangeOne.findFirstIn(p).isDefined, s"no one-partition range exchange in:\n$p")
      assert(rows == expectedOrder)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(out)
  }

  test("a two-row-group file whose groups land in two splits keeps its sampled exchange") {
    val out = java.nio.file.Files.createTempDirectory("graft_twogroups_").toFile
    try {
      val file = writeOneFile(out.getPath, "two", rowGroups = 2)
      val mids = midpoints(file)
      assert(mids.size == 2, s"expected two row groups, got midpoints $mids")
      // splits of mids(1) bytes put the first midpoint in the first
      // split and the second in the second
      val (parts, rows, jobs, p) = sortSplit(file, mids(1))
      assert(parts >= 2, s"the file must be read in several splits, got $parts")
      assert(sampleJobs(jobs).nonEmpty, "rows in two partitions must be sampled")
      assert(rangeOne.findFirstIn(p).isEmpty, s"range exchange narrowed over two row groups:\n$p")
      assert(rows == expectedOrder)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(out)
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
