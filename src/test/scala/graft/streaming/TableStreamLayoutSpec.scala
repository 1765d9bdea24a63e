package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Pins the round-8 streaming-source layout lesson: a table named
  * `<name>.parquet` ships as a single FILE in the driver fixture but
  * as a DIRECTORY of part files from ScaleGen (and any production
  * writer). The old `dir + pathGlobFilter` source spelling matched
  * only the file layout and silently streamed ZERO rows over a
  * directory table — no error anywhere, caught only because the
  * streaming scale probe compared row counts across scales.
  * `StreamReplay.tableStream` must read BOTH layouts and fail loudly
  * on a missing table.
  */
class TableStreamLayoutSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private def streamedCount(dir: String): Long = {
    val schema = spark.read.parquet(s"$dir/docs.parquet").schema
    val sinkName = s"layout_sink_${math.abs(dir.hashCode)}"
    scala.util.Try(spark.catalog.dropTempView(sinkName))
    val q = graft.operators.StreamReplay.tableStream(spark, dir, "docs", schema)
      .writeStream.format("memory").queryName(sinkName)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(sinkName).count()
  }

  test("tableStream reads the directory layout AND the single-file layout") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-layout-").toFile
    try {
      // directory layout: what df.write.parquet produces (part files)
      val dirLayout = new java.io.File(root, "as-dir")
      dirLayout.mkdirs()
      (1 to 100).toDF("doc_id").repartition(3)
        .write.parquet(s"$dirLayout/docs.parquet")
      assert(new java.io.File(dirLayout, "docs.parquet").isDirectory)
      assert(streamedCount(dirLayout.toString) == 100L)

      // single-file layout: one bare parquet file named docs.parquet
      // (the driver fixture's shape) — copy a part file over
      val fileLayout = new java.io.File(root, "as-file")
      fileLayout.mkdirs()
      val tmpTable = new java.io.File(root, "tmp-single")
      (1 to 100).toDF("doc_id").coalesce(1)
        .write.parquet(s"$tmpTable/docs.parquet")
      val part = new java.io.File(s"$tmpTable/docs.parquet").listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      assert(part.length == 1)
      java.nio.file.Files.copy(part.head.toPath,
        new java.io.File(fileLayout, "docs.parquet").toPath)
      assert(new java.io.File(fileLayout, "docs.parquet").isFile)
      assert(streamedCount(fileLayout.toString) == 100L)

      // a missing table fails loudly, never an empty stream
      val e = intercept[IllegalArgumentException] {
        graft.operators.StreamReplay.tableStream(
          spark, s"$root/nowhere", "docs",
          new org.apache.spark.sql.types.StructType())
      }
      assert(e.getMessage.contains("does not exist"))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root.toPath).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }
}
