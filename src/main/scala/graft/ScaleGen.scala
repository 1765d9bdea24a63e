package graft

import org.apache.spark.sql.functions._

/** Scale corpus generator: derives an N× corpus from a fixture sf
  * directory so the headline ⟨ns⟩ queries can be MEASURED a data
  * decade up, by pointing `Bench` at the output dir (the round-2
  * verdict's top item — the 100 TB story should rest on measured
  * scaling, not only plan shapes).
  *
  * Replication preserves workload *structure* instead of stacking
  * exact copies (which would distort dedup semantics):
  *  - documents: replica k re-keys doc_id by +k·N and prefixes every
  *    token with `r<k>` (k>0), so each replica reproduces the
  *    original near-dup structure exactly while sharing NO tokens
  *    across replicas — true near-dup output scales linearly by
  *    construction, and any super-linear runtime is the operator's
  *    own doing, not an artifact of cloned content.
  *  - embeddings: replica k re-keys vec_id by +k·N and cyclically
  *    rotates the vector by 7k positions — within-replica cosines
  *    are EXACTLY preserved (rotation is an isometry of the dot
  *    product under matching rotation), while cross-replica pairs
  *    decorrelate to near-random.
  *
  *  - events: replica k re-keys event_id by +k·N and user_id by
  *    +k·(max user_id + 1) (a data-derived stride, so replica user
  *    populations are disjoint at any corpus size — a fixed stride
  *    aliased once the corpus outgrew it); ts/props repeat verbatim
  *    — the q68 variant
  *    histogram and the windowed aggregates scale linearly by
  *    construction. `ts` passes through in whatever raw form the
  *    source fixture uses — legacy TIMESTAMP(NANOS) decodes to a
  *    long under the nanosAsLong conf and is written back as BIGINT;
  *    a TIMESTAMP(MICROS)/NTZ fixture round-trips as-is. Either
  *    output lands on the typed branch in `Tables.normalizeTs`, so
  *    scaled dirs stay readable across fixture generations.
  *
  * Usage: ScaleGen <srcSfDir> <outDir> <factor>
  * `SPARK_GRAFT_SCALEGEN_TABLES` (default `documents,embeddings`)
  * picks the tables — `events` adds the events table to an existing
  * scaled dir without regenerating the corpus.
  */
object ScaleGen {

  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, factorStr) = args.take(3)
    val factor = factorStr.toInt
    val tables = sys.env.getOrElse("SPARK_GRAFT_SCALEGEN_TABLES",
      "documents,embeddings").split(",").map(_.trim).toSet
    val host = Runeset.host
    val spark = host.buildSession()

    val reps = spark.range(factor).toDF("rep")

    if (tables("events")) {
      // raw read on purpose (see Scaladoc): ts round-trips verbatim in
      // either fixture layout; Tables.eventsRawFrame sets the legacy
      // conf needed when the source is TIMESTAMP(NANOS)
      val ev = Tables.eventsRawFrame(spark, srcDir)
      val nEv = ev.count()
      // stride past the ACTUAL id range: the old fixed prime (1009)
      // aliased replicas whenever the corpus had more users than the
      // stride, silently merging different users' event streams into
      // one key (measured in the round-8 streaming probe: q72's sf1
      // session count came out sub-10×). max+1 keeps every replica's
      // user population fully disjoint at any corpus size.
      val userStride = ev.agg(org.apache.spark.sql.functions.max(col("user_id")))
        .head().getLong(0) + 1L
      ev.crossJoin(reps)
        .select(
          (col("event_id") + col("rep") * nEv).as("event_id"),
          col("ts"),
          (col("user_id") + col("rep") * userStride).as("user_id"),
          col("event_type"), col("value"), col("props"))
        .repartition(host.shufflePartitions)
        .write.mode("overwrite").parquet(s"$outDir/events.parquet")
      println(s"""{"events":${nEv * factor},"out":"$outDir"}""")
    }

    if (!tables("documents") && !tables("embeddings")) { spark.stop(); return }

    val docs = Tables.documents(spark, srcDir)
    val nDocs = docs.count()
    docs.crossJoin(reps)
      .select(
        (col("doc_id") + col("rep") * nDocs).as("doc_id"),
        when(col("rep") === 0, col("text"))
          .otherwise(concat_ws(" ",
            transform(split(col("text"), " "),
              t => concat(lit("r"), col("rep"), t))))
          .as("text"),
        col("lang"), col("source"), col("n_chars"))
      .withColumn("n_chars", length(col("text")).cast("int"))
      .repartition(host.shufflePartitions)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val emb = Tables.embeddings(spark, srcDir)
    val nVecs = emb.count()
    val dim = graft.functions.TextVec.EmbDim
    val shifted = (0 until factor).map { k =>
      val shift = (7 * k) % dim
      val rotated =
        if (shift == 0) col("embedding")
        else concat(slice(col("embedding"), shift + 1, dim - shift),
          slice(col("embedding"), 1, shift))
      emb.select((col("vec_id") + lit(k.toLong * nVecs)).as("vec_id"),
        rotated.as("embedding"), col("label"))
    }.reduce(_ union _)
    shifted
      .repartition(host.shufflePartitions)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    println(s"""{"docs":${nDocs * factor},"vecs":${nVecs * factor},"out":"$outDir"}""")
    spark.stop()
  }
}
