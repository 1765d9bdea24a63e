package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q45 follow-through (round-9 verdict item 6): the PRODUCTION step
  * q45's zone-map query models — actually WRITING the table in
  * z-order and collecting the row-group pruning it buys.
  *
  * Z-ordering (Morton 1966) interleaves the bits of two columns so a
  * range-partitioned sort by the interleaved key places rows that are
  * close in EITHER dimension into the same parquet row groups. Row
  * groups then have tight min/max footer statistics on BOTH columns,
  * and any engine with zone-map/footer pruning (Spark's parquet
  * reader, via pushed filters) skips most of the file for a predicate
  * on either column — where a linear sort gives tight stats on the
  * sort column only, so a predicate on the OTHER column scans
  * everything. This is the storage-layout analog of the reference's
  * range-query-over-state roadmap idea (README.md:110): cluster so
  * range probes touch few storage units.
  *
  * [[pruningProbe]] measures exactly that trade, on real files with
  * real footer stats: it writes the SAME rows twice (z-ordered vs
  * linearly sorted by x), runs the same single-column range probes
  * against both, and reports rows scanned (the scan node's output —
  * rows surviving row-group/page pruning, before the residual filter)
  * next to rows matched. ZorderPruningSpec pins the asymmetry; the
  * ScaleProbe entry records it at scale in SCALE.md.
  *
  * 100 TB shape: the write is `repartitionByRange(zkey)` +
  * `sortWithinPartitions` — one range shuffle, then independent
  * per-partition sorted writes; the probe reads are footer-driven.
  * Nothing touches the driver.
  */
object ZorderLayout {

  /** Morton interleave of the low `bits` bits of two columns (x even
    * positions, y odd).
    */
  private def interleave(x: Column, y: Column, bits: Int): Column =
    (0 until bits).flatMap { i =>
      Seq(shiftright(x, i).bitwiseAND(1) * lit(1L << (2 * i)),
        shiftright(y, i).bitwiseAND(1) * lit(1L << (2 * i + 1)))
    }.reduce(_ + _).cast("long")

  /** 32-bit Morton interleave of two 16-bit values — the construction
    * q45 aggregates over, shared so query and layout can never drift.
    */
  def zkey(x: Column, y: Column): Column = interleave(x, y, 16)

  /** DOMAIN-SCALED z-key — what the writer sorts by. Raw-bit
    * interleaving degenerates when the domains differ in width (a
    * column spanning 2^11 contributes nothing to the top bits next to
    * one spanning 2^16, so coarse splits — row groups — fall on the
    * wide column only; measured on the y-probe: no pruning at all).
    * Scaling each column to a `bits`-wide bucket index over its
    * observed [lo, hi] makes both dimensions contribute equally at
    * every split granularity — the same move production z-order
    * writers make by interleaving range-partition ranks rather than
    * raw values. Bucket arithmetic is exact: the products stay far
    * below 2^53, so the double division floors correctly.
    */
  def zkeyScaled(x: Column, y: Column, xLo: Long, xHi: Long,
      yLo: Long, yHi: Long, bits: Int = 8): Column = {
    def bucket(c: Column, lo: Long, hi: Long): Column = {
      val span = math.max(1L, hi - lo + 1)
      least(lit((1L << bits) - 1),
        floor(((c - lit(lo)).cast("long") * lit(1L << bits)) / lit(span)))
        .cast("long")
    }
    interleave(bucket(x, xLo, xHi), bucket(y, yLo, yHi), bits)
  }

  /** The probe table: lineitem keys folded to 16 bits (q45's framing)
    * plus two payload columns so the scan isn't key-only.
    */
  private def probeTable(s: SparkSession, dir: String): DataFrame =
    graft.Tables.lineitem(s, dir)
      .select((col("l_orderkey") % 65536).as("x"),
        (col("l_partkey") % 65536).as("y"),
        col("l_quantity"), col("l_extendedprice"))
      .withColumn("zkey", zkey(col("x"), col("y")))

  /** Small parquet row groups so a local-SF file still has many
    * pruning units — at production scale the default 128 MB group
    * plays the same role against TB-sized tables.
    */
  private val RowGroupBytes = 32 * 1024

  private def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("parquet.block.size", RowGroupBytes.toString)
      .parquet(path)

  /** Rows emitted by the file scan (= rows in row groups/pages that
    * survived footer pruning) and rows matching the predicate. The
    * probe plan is scan+filter+collect — exchange-free, so AQE leaves
    * it un-wrapped and the scan node is directly visible.
    */
  private def scanAndMatch(s: SparkSession, path: String, pred: Column): (Long, Long) = {
    val df = graft.Tables.parquet(s, path).filter(pred)
    val matched = df.collect().length.toLong
    val scanned = df.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics("numOutputRows").value
    }.sum
    (scanned, matched)
  }

  /** Writes the z-ordered and linear copies under `outRoot` and
    * probes both with one x-range and one y-range predicate. Returns
    * (layout, probe, rows_scanned, rows_matched, total_rows) — the
    * headline being the y-probe row: linear-by-x must scan everything
    * while z-ordered prunes most row groups.
    */
  def pruningProbe(s: SparkSession, dir: String, outRoot: String): DataFrame = {
    import s.implicits._
    val base = probeTable(s, dir)
    val total = base.count()
    // column domains drive BOTH the scaled z-key and the probe ranges
    // (a fixed window would miss the data entirely at small SF, where
    // partkey%65536 spans only a few thousand values); production
    // computes the same one-row agg in the write job
    val st = base.agg(min(col("x")), max(col("x")), min(col("y")), max(col("y"))).head()
    def n(i: Int): Long = st.getAs[Number](i).longValue
    val (xMin, xMax, yMin, yMax) = (n(0), n(1), n(2), n(3))
    // partition count scales with data so row groups stay small and
    // sorted runs stay per-partition-local
    val nPart = math.max(4, (total / 250000L).toInt * 4)
    val zPath = s"$outRoot/zorder"
    val linPath = s"$outRoot/linear"
    val zs = zkeyScaled(col("x"), col("y"), xMin, xMax, yMin, yMax)
    write(base.withColumn("zs", zs)
      .repartitionByRange(nPart, col("zs"))
      .sortWithinPartitions(col("zs"))
      .drop("zs"), zPath)
    write(base.repartitionByRange(nPart, col("x"))
      .sortWithinPartitions(col("x")), linPath)
    // probe: a 1/16-of-domain slice starting 5/8 of the way in
    def slice(lo: Long, hi: Long): (Long, Long) = {
      val span = hi - lo + 1
      val start = lo + span * 5 / 8
      (start, start + math.max(1, span / 16) - 1)
    }
    val (xLo, xHi) = slice(xMin, xMax)
    val (yLo, yHi) = slice(yMin, yMax)
    val xPred = col("x").between(xLo, xHi)
    val yPred = col("y").between(yLo, yHi)
    val rows = for {
      (layout, path) <- Seq(("zorder", zPath), ("linear_x", linPath))
      (probe, pred) <- Seq(("x_range", xPred), ("y_range", yPred))
    } yield {
      val (scanned, matched) = scanAndMatch(s, path, pred)
      (layout, probe, scanned, matched, total)
    }
    rows.toDF("layout", "probe", "rows_scanned", "rows_matched", "total_rows")
  }
}
