package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DYNAMIC partition pruning (DPP) measured on real partitioned
  * files — the scan-side optimization SourcesSpec's static
  * `PartitionFilters` proof cannot show. Static pruning needs the
  * partition predicate IN the query; the 100 TB shape is the other
  * one: a fact table partitioned by day joined to a dim whose
  * SELECTIVE filter only implies the day set at RUNTIME
  * (`fact ⋈ dim ON day WHERE dim.label = …`). Catalyst's
  * `PartitionPruning` rule turns the broadcast side into a
  * `dynamicpruningexpression` subquery on the fact scan, so the
  * scan lists and reads only the surviving day directories —
  * without DPP every partition is read and the filter applies
  * post-join.
  *
  * [[probe]] writes an events copy hive-partitioned by event-time
  * day (`unix_micros(ts) div 86 400 000 000` — q85's bucketing),
  * builds a day-keyed dim whose filter keeps ~1/8 of days, and runs
  * the identical join with DPP on and off, reporting result rows
  * (must agree), fact files read, fact rows scanned, and whether the
  * executed plan carries the dynamic-pruning subquery.
  * DppPruningSpec pins the contract; the SCALE.md entry records the
  * scan reduction at sf0.1.
  *
  * 100 TB shape: the partitioned write is the ingest job (one
  * shuffle by day, then independent directory writes); the probe
  * read lists only `days_kept/days_total` of the table — the knob
  * that turns a 100 TB scan into a 12 TB one. AQE is disabled only
  * INSIDE the probe (restored after) so the fact scan's metrics are
  * directly visible; DPP itself does not need AQE.
  */
object DppProbe {

  /** (mode, result_rows, files_read, rows_scanned, dpp_in_plan) for
    * mode ∈ {dpp_on, dpp_off} over the same partitioned copy.
    */
  def probe(s: SparkSession, dir: String, outRoot: String): DataFrame = {
    import s.implicits._
    val ev = graft.Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
    val factPath = s"$outRoot/events_by_day"
    ev.write.mode("overwrite").partitionBy("day").parquet(factPath)

    // dim: one row per day, label keeps ~1/8 of them — selective
    // enough that pruning is the dominant effect, computed from the
    // data so the probe follows the fixture's actual day span. The
    // day key is INT to match the read-back partition column
    // (partition-value type inference lands epoch-days in int), so
    // the join key is the bare partition attribute — a widening cast
    // on it would sit between the scan and the pruning subquery.
    val days = ev.select(col("day")).distinct()
      .collect().map(_.getLong(0)).sorted
    require(days.length >= 8, s"fixture spans only ${days.length} days — probe needs ≥ 8")
    // the dim must be a real TABLE, not driver-local rows: Catalyst
    // constant-folds a filtered LocalRelation into a pre-filtered
    // one, and with no Filter node left on the dim side the
    // PartitionPruning rule sees no selective predicate to derive
    // the runtime filter from (observed: no dynamicpruning subquery
    // at all). Production dims are tables; model that.
    val dimPath = s"$outRoot/dim_days"
    days.toSeq
      .map(d => (d.toInt, if (d % 8 == 0) "keep" else "skip"))
      .toDF("day", "label")
      .write.mode("overwrite").parquet(dimPath)

    def run(dppOn: Boolean): (String, Long, Long, Long, Int) =
      graft.Runeset.withConf(s,
          "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> dppOn.toString,
          "spark.sql.adaptive.enabled" -> "false") {
        val fact = graft.Tables.parquet(s, factPath)
        val dim = graft.Tables.parquet(s, dimPath)
        val joined = fact.join(broadcast(dim), Seq("day"))
          .where(col("label") === "keep")
          .groupBy(col("day"))
          .agg(count(lit(1)).as("n"))
        val resultRows = joined.collect().map(_.getLong(1)).sum
        val plan = joined.queryExecution.executedPlan
        val factScans = plan.collectLeaves().collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec
              if f.relation.location.rootPaths.exists(_.toString.contains("events_by_day")) => f
        }
        val files = factScans.map(_.metrics("numFiles").value).sum
        val scanned = factScans.map(_.metrics("numOutputRows").value).sum
        val hasDpp = if (plan.toString.contains("dynamicpruning")) 1 else 0
        (if (dppOn) "dpp_on" else "dpp_off", resultRows, files, scanned, hasDpp)
      }

    Seq(run(dppOn = true), run(dppOn = false))
      .toDF("mode", "result_rows", "files_read", "rows_scanned", "dpp_in_plan")
  }
}
