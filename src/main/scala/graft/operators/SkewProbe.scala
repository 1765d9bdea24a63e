package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** AQE SKEW-JOIN handling measured on a deliberately skewed join —
  * the runtime-adaptive complement to q41's manual salting (the two
  * production answers to hot keys: salt by hand when you know the
  * skew ahead of time, let AQE split skewed partitions at runtime
  * when you don't) and to the DPP proof (sources/DppProbe) on the
  * scan side.
  *
  * [[probe]] builds a hot-key copy of events (~90% of rows collapse
  * onto one user), sort-merge-joins it against a per-user dim
  * (broadcast disabled — a broadcast join would dissolve the skew
  * instead of handling it), and runs the identical join with AQE's
  * skew-join handling ON and OFF. With it on, AQE marks the join
  * `skew=true` and splits the hot partition into
  * advisory-sized sub-splits, replicating the matching dim rows — so
  * no single task owns 90% of the probe side. Returned per mode:
  * result rows (must agree), wall ms, and whether the final adaptive
  * plan carries the skew marker. SkewJoinSpec pins the contract;
  * the SCALE.md entry records the wall-clock effect at sf1, where
  * one 90%-hot task visibly serializes the stage without it.
  *
  * 100 TB shape: this is the knob that keeps a power-law-keyed join
  * (user activity, domain sizes — every web corpus) from reducing a
  * 1000-executor stage to one straggler. Thresholds here are scaled
  * down (8 KB advisory) so fixture-scale COMPRESSED shuffle blocks
  * exercise the same code path production defaults (256 MB)
  * exercise at cluster scale — including the two silent no-op traps
  * found building it: the threshold never trips against a small
  * fixture's compressed sizes, and a one-row-group parquet scans as
  * one map task, leaving the skewed reduce partition nothing to
  * split at (splits happen at map-block boundaries).
  */
object SkewProbe {

  /** (mode, result_rows, wall_ms, skew_in_plan) for skew handling
    * on/off over the same hot-key join.
    */
  def probe(s: SparkSession, dir: String, outRoot: String,
      advisory: String = "8k"): DataFrame = {
    import s.implicits._
    // hot-key fact: ~90% of events collapse onto user 0 (the
    // power-law head), the rest keep their user — written out so both
    // runs read identical files with identical statistics
    val factPath = s"$outRoot/events_skew"
    graft.Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .withColumn("skew_user",
        when(pmod(col("event_id"), lit(100)) < 90, lit(0L)).otherwise(col("user_id")))
      // several part files: the skewed reduce partition can only be
      // split at map-output block boundaries, and a one-row-group
      // parquet scans as ONE map task however small the file-split
      // conf — leaving nothing to split (observed: "skewed
      // partitions: left 0" at any threshold)
      .repartition(8)
      .write.mode("overwrite").parquet(factPath)
    val dimPath = s"$outRoot/dim_users"
    graft.Tables.parquet(s, factPath).select(col("skew_user").as("user_key")).distinct()
      .withColumn("segment", pmod(col("user_key"), lit(7)))
      .write.mode("overwrite").parquet(dimPath)

    def run(skewOn: Boolean): (String, Long, Long, Int) =
      graft.Runeset.withConf(s,
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.enabled" -> skewOn.toString,
        // scaled-down thresholds: same code path as the 256 MB
        // production defaults, sized to fixture-scale COMPRESSED
        // shuffle blocks (sf0.01's hot partition is ~tens of KB on
        // the wire — a 1 MB threshold never trips at spec scale)
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> advisory,
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> advisory,
        // coalescing would merge the deliberately-small partitions
        // back together and mask the split
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
        // many map tasks: a skewed reduce partition is split at MAP
        // BLOCK granularity, so a single-mapper shuffle (one small
        // parquet file = one scan task) is structurally unsplittable
        // — the subtle reason skew handling silently no-ops on small
        // fixtures with default file-split sizes
        "spark.sql.files.maxPartitionBytes" -> "32k",
        "spark.sql.files.openCostInBytes" -> "1k",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
        val fact = graft.Tables.parquet(s, factPath)
        val dim = graft.Tables.parquet(s, dimPath)
        // the aggregate reads fact payload columns so the probe side
        // shuffles real rows (not a pruned-to-the-key projection),
        // and the post-join md5 makes the REDUCE stage the wall —
        // without per-row work there, the map-side scan+shuffle-write
        // dominates and the straggler hides in its shadow
        val joined = fact.join(dim, col("skew_user") === col("user_key"))
          .groupBy(col("segment"))
          .agg(count(lit(1)).as("n"),
            sum(length(md5(concat(col("event_type"),
              col("skew_user").cast("string"))))).as("payload"))
        val t0 = System.nanoTime()
        val resultRows = joined.collect().map(_.getLong(1)).sum
        val wallMs = (System.nanoTime() - t0) / 1000000L
        val plan = joined.queryExecution.executedPlan.toString
        val hasSkew = if (plan.contains("skew=true")) 1 else 0
        (if (skewOn) "skew_on" else "skew_off", resultRows, wallMs, hasSkew)
      }

    Seq(run(skewOn = true), run(skewOn = false))
      .toDF("mode", "result_rows", "wall_ms", "skew_in_plan")
  }
}
