package graft.operators

import graft.{Q, Tables}
import graft.functions.TextVec._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF ANN with TRAINED centroids (round-1 verdict item 9): a
  * deterministic Lloyd's k-means — fixed init (embeddings 0..7 as
  * k=8 seeds), fixed 3 iterations, similarity = dot product, ties to
  * the lowest centroid id, empty cells carry their previous centroid
  * — followed by the same cell-probe top-3 search as s03. Every step
  * is expressible bit-identically in both engines:
  *
  *  - assignment: argmax-by-dot — Spark scores the k centroids per
  *    row in one [[graft.functions.ArgmaxDot]] kernel (a zero-shuffle
  *    projection; ties → lowest cid because the model is cid-sorted),
  *    the oracle spells the same rule as
  *    row_number() over (dot DESC, cid); dot = FloatDoubleVecDot ≡
  *    DuckDB list_reduce fold;
  *  - update: per-dimension means via SCALED-INTEGER sums —
  *    floor(v · 2^20) as BIGINT, summed exactly (order-free), then
  *    one double division sequence. Raw double sums would depend on
  *    accumulation order; float→DECIMAL casts have engine-specific
  *    rounding at the last digit. Power-of-two scaling is exact and
  *    floor() is engine-identical (DuckDB CAST(double AS BIGINT)
  *    ROUNDS while Spark truncates — so the cast only ever sees an
  *    already-integral value).
  *
  * TRAINING IS SAMPLE-BOUNDED (round-11 verdict #1): Lloyd's
  * assignment costs n_train · k dots per iteration, and the derived
  * knob sets k ∝ n — full-corpus training was therefore O(n²/256),
  * quadratic in the corpus. Both engines now train on the
  * DETERMINISTIC prefix sample `vec_id < min(64·k, 65536)` (64 rows
  * per centroid, capped — the SemDeDup/FAISS discipline: a fixed
  * per-cell sample suffices for centroid placement) and assign the
  * FULL corpus exactly once, so training is O(Iters · min(64k, cap) · k)
  * — once the cap binds, LINEAR in n (k ∝ n, S fixed) — and the
  * one-time full assignment is the standard IVF n·k indexing pass.
  * At the oracle scales the sample bound exceeds the corpus (S=512 ≥
  * 500 rows), so registered results are unchanged; the SPELLING is
  * the scale-safe one in both engines.
  *
  * Scale: per-iteration work is one zero-shuffle assignment
  * projection over the sample + one explode-aggregate (k×dim
  * groups). The k×dim model travels as a plan LITERAL below
  * [[LiteralModelMaxK]] (model-sized, the MLlib KMeans contract) and
  * as a ONE-ROW BROADCAST FRAME above it ([[trainedFinBroadcast]] —
  * the plan stays k-independent and the centroid update never
  * touches the driver; ~40 MB of typedlit at k≈78k would bloat every
  * plan and re-serialize per stage). The two paths are bit-identical
  * (AnnKmeansSpec pins it): same ArgmaxDot kernel, same cid-sorted
  * tie rule, same exact scaled-integer means.
  */
object AnnKmeans {

  private val K = 8
  private val Iters = 3
  private val Scale = "1048576.0" // 2^20 — exact power-of-two scaling

  /** Training-sample rows per centroid (S = min(64·k, [[TrainCap]])). */
  private[graft] val TrainPerCentroid = 64

  /** Absolute training-sample bound — once this binds, per-iteration
    * training cost is cap·k: linear in the corpus under the derived
    * knob (k ∝ n).
    */
  private[graft] val TrainCap = 65536L

  /** The deterministic training-sample bound: the first
    * min(64·k, 65536) vec_ids. A prefix (not a hash-sample) so the
    * DuckDB oracle spells it as the identical `vec_id < S` filter.
    */
  private[graft] def trainBound(k: Int): Long =
    math.min(TrainPerCentroid.toLong * k, TrainCap)

  /** Above this k the centroid model rides as a one-row broadcast
    * frame instead of a `typedlit` plan literal, and the Lloyd update
    * runs fully distributed (no per-iteration driver collect). 1024
    * centroids × 64 dims ≈ 0.5 MB of literal — the comfortable
    * ceiling for a plan constant; the derived knob crosses it at
    * ~262k vectors.
    */
  private[graft] val LiteralModelMaxK = 1024

  private def sqlAssign(k: Int, src: String): String =
    s"""a$k AS (
       |  SELECT vec_id, embedding, cell FROM (
       |    SELECT e.vec_id, e.embedding, c.cid AS cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${sqlDot("e.embedding", "c.cent")} DESC, c.cid) AS rn
       |    FROM $src e CROSS JOIN c${k - 1} c
       |  ) WHERE rn = 1
       |)""".stripMargin

  private def sqlUpdate(k: Int): String =
    s"""x$k AS (
       |  SELECT a.cell, u.i AS dim, a.embedding[u.i] AS v
       |  FROM a$k a, LATERAL (SELECT unnest(generate_series(1, len(a.embedding))) AS i) u
       |), m$k AS (
       |  SELECT cell, dim,
       |         CAST(sum(CAST(floor(CAST(v AS DOUBLE) * $Scale) AS BIGINT)) AS DOUBLE)
       |           / CAST(count(*) AS DOUBLE) / $Scale AS m
       |  FROM x$k GROUP BY cell, dim
       |), s$k AS (
       |  SELECT c.cid, u.i AS dim, c.cent[u.i] AS prev
       |  FROM c${k - 1} c, LATERAL (SELECT unnest(generate_series(1, len(c.cent))) AS i) u
       |), c$k AS (
       |  SELECT s.cid, list(COALESCE(m.m, s.prev) ORDER BY s.dim) AS cent
       |  FROM s$k s LEFT JOIN m$k m ON m.cell = s.cid AND m.dim = s.dim
       |  GROUP BY s.cid
       |)""".stripMargin

  /** DuckDB CTE chain ending in `fin(vec_id, embedding, nrm, cell)` —
    * the trained-k-means full-corpus assignment shared by s04 (which
    * probes it) and d11 (which dedups within its cells). MATERIALIZED
    * because both consumers reference `fin` on two join sides.
    */
  private[operators] def sqlFinCtes: String = sqlFinCtesK(K.toString)

  /** [[sqlFinCtes]] with the cell count `kSql` as an arbitrary SQL
    * expression — s22 passes [[sqlDerivedK]] so the ORACLE derives
    * the knob from the corpus count exactly like the Spark side.
    */
  private[operators] def sqlFinCtesK(kSql: String): String = {
    // training assignments (a1..aIters) score only the deterministic
    // prefix sample; the FINAL assignment (a{Iters+1}) scores the full
    // corpus once — the same split trainedFinParam runs
    val iters = (1 to Iters)
      .map(k => s"${sqlAssign(k, "trainset")}, ${sqlUpdate(k)}").mkString(",\n")
    s"""trainset AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  WHERE vec_id < least($TrainPerCentroid * ($kSql), $TrainCap)
       |),
       |c0 AS (
       |  SELECT vec_id AS cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cent
       |  FROM embeddings WHERE vec_id < $kSql
       |),
       |$iters,
       |${sqlAssign(Iters + 1, "embeddings")},
       |fin AS MATERIALIZED (
       |  SELECT vec_id, embedding, ${sqlNorm("embedding")} AS nrm, cell
       |  FROM a${Iters + 1}
       |)""".stripMargin
  }

  /** Target per-cell occupancy for the DERIVED cell-count knob:
    * cells = max(8, ceil(n / 256)) keeps per-cell candidate work
    * (occupancy × n total pairs) linear in the corpus — SCALE.md's
    * `cells ∝ n` rule as code instead of prose. 256 sits at the knob
    * pairing the decade probes measured (k64 at sf1's 20k vectors,
    * k256·3 at sf10's 200k — both inside the flat-occupancy band);
    * SemDeDup's k ≈ 11k on 100M docs is the published same-order
    * configuration (occupancy ~9k — sketch-paper constants differ,
    * linearity is what matters and holds for any fixed target).
    */
  private[graft] val TargetOccupancy = 256

  /** The derived knob, DuckDB spelling — a scalar subquery over the
    * same corpus count the Spark side uses.
    */
  private[operators] def sqlDerivedK: String =
    s"(SELECT greatest($K, CAST(ceil(count(*) / $TargetOccupancy.0) AS BIGINT)) FROM embeddings)"

  /** The derived knob, Spark side: one metadata-cheap count. */
  private[graft] def derivedK(s: org.apache.spark.sql.SparkSession, d: String): Int = {
    val n = Tables.embeddings(s, d).count()
    math.max(K, math.ceil(n.toDouble / TargetOccupancy).toInt)
  }

  val s04AnnIvfKmeans = Q(
    "s04_ann_ivf_kmeans",
    { s"""WITH $sqlFinCtes, scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.cell,
         |         CASE WHEN q.nrm * c.nrm = 0 THEN 0.0
         |              ELSE ${sqlDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) END AS cos_sim
         |  FROM fin q JOIN fin c ON q.cell = c.cell AND c.vec_id <> q.vec_id
         |  WHERE q.vec_id < 10
         |), ranked AS (
         |  SELECT query_id, neighbor_id, cell, cos_sim,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS k
         |  FROM scored
         |)
         |SELECT query_id, neighbor_id, cell, cos_sim, k FROM ranked
         |WHERE k <= 3
         |ORDER BY query_id, k""".stripMargin }
  ) { (s, d) =>
    val fin = trainedFin(s, d)
    val q = fin.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("cell").as("q_cell"))
    val scored = fin.join(broadcast(q),
        col("cell") === col("q_cell") && col("vec_id") =!= col("q_id"))
      .select(col("q_id").as("query_id"), col("vec_id").as("neighbor_id"),
        col("q_cell").as("cell"),
        when(col("q_nrm") * col("nrm") === 0, 0.0)
          .otherwise(dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
          .as("cos_sim"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("k", row_number().over(w))
      .filter(col("k") <= 3)
      .select(col("query_id"), col("neighbor_id"), col("cell"), col("cos_sim"), col("k"))
      .orderBy(col("query_id"), col("k"))
  }

  /** Spark side of [[sqlFinCtes]]: trains the deterministic k-means
    * and returns the CACHED full-corpus cell assignment
    * `(vec_id, embedding, nrm, cell)` — cached because every consumer
    * joins it against itself.
    */
  private[operators] def trainedFin(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = trainedFinParam(s, d, K)

  /** Parameterized training: `k` is THE scale knob (cells ∝ corpus
    * keeps per-cell occupancy — and d11's Σ n_c² pair work, and the
    * cell join's shuffle parallelism — bounded per row; SemDeDup runs
    * k ≈ 11k on 100M docs). The oracle-registered s04/d11 pin k = 8,
    * right-sized for the 500-row oracle corpus; ScaleProbe's
    * d11_wide_k64 runs the production reconfiguration at sf1.
    * Training is sample-bounded (see object Scaladoc); the model path
    * switches from plan literal to one-row broadcast frame above
    * [[LiteralModelMaxK]] — both paths are bit-identical
    * (AnnKmeansSpec).
    */
  private[graft] def trainedFinParam(s: org.apache.spark.sql.SparkSession,
      d: String, K: Int): DataFrame =
    if (K <= LiteralModelMaxK) trainedFinLiteral(s, d, K)
    else trainedFinBroadcast(s, d, K)

  /** The literal-model path: the k×dim model lives on the driver (the
    * MLlib KMeans contract) and rides into the assignment projection
    * as a `typedlit` — corpus data never touches the driver.
    */
  private[graft] def trainedFinLiteral(s: org.apache.spark.sql.SparkSession,
      d: String, K: Int): DataFrame = {
    val emb = Tables.embeddings(s, d)
    assignLiteral(emb, trainedLiteralModel(s, d, K))
      .withColumn("nrm", norm(col("embedding")))
      .cache() // final assignment feeds every consumer's join sides
  }

  /** One zero-shuffle assignment projection against a driver-side
    * k×dim model (shared by Lloyd iterations, the final corpus
    * assignment, and s24's query-vector routing).
    *
    * Scores the k centroids per row in ONE ArgmaxDot kernel:
    * assignment stays a pure zero-shuffle projection, and the
    * generated code is k-INDEPENDENT. Two prior shapes both went
    * superlinear: broadcast-crossJoin + row_number window shuffled
    * the n×k scored rows WITH embeddings attached every Lloyd pass
    * (~15 GB/iter at 200k × 256), and the k-inline-literal
    * array(dot…) + array_position(array_max) emitted k unrolled dot
    * loops whose code size grew with k (the round-5 decade probe
    * measured d11_wide_k256 at 68× for 10× data from exactly this).
    * Ties keep the window's (dot DESC, cid ASC) rule: ArgmaxDot keeps
    * the FIRST max, and `cs` is sorted by cid, so the first max is
    * the lowest cid; the per-cell dot is the same left fold, so
    * scores — and the oracle hash — are bit-identical.
    */
  private def assignLiteral(input: DataFrame,
      cents: Seq[(Long, Seq[Double])]): DataFrame = {
    val cs = cents.sortBy(_._1)
    input.select(col("vec_id"), col("embedding"),
      graft.functions.ArgmaxDot(col("embedding"),
        typedlit(cs.map(_._2)), typedlit(cs.map(_._1))).as("cell"))
  }

  /** The literal-path Lloyd loop alone, returning the trained k×dim
    * model (cid-sorted) — [[trainedFinLiteral]] assigns the corpus
    * with it; s24 persists it as the serving-time routing artifact.
    */
  private[graft] def trainedLiteralModel(s: org.apache.spark.sql.SparkSession,
      d: String, K: Int): Seq[(Long, Seq[Double])] = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    // deterministic prefix sample: Lloyd only ever scores these rows
    val train = emb.filter(col("vec_id") < trainBound(K))

    var cents: Seq[(Long, Seq[Double])] = emb.filter(col("vec_id") < K)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq.sortBy(_._1)
      .map { case (id, v) => (id, v.map(_.toDouble)) }

    for (_ <- 1 to Iters) {
      val means = assignLiteral(train, cents)
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("cell"), (col("pos") + 1).as("dim"))
        .agg((sum(floor(col("v").cast("double") * Scale.toDouble).cast("long")).cast("double")
          / count(lit(1)).cast("double") / Scale.toDouble).as("m"))
        .as[(Long, Int, Double)].collect()
        .map { case (c, dim, m) => (c, dim) -> m }.toMap
      cents = cents.map { case (cid, prev) =>
        (cid, prev.indices.map(i => means.getOrElse((cid, i + 1), prev(i))).toVector)
      }
    }
    cents
  }

  /** The broadcast-model path (k > [[LiteralModelMaxK]]): centroids
    * stay a k-row FRAME end to end — the Lloyd update is the same
    * explode-aggregate spelled distributed (exact scaled-integer
    * means, COALESCE onto the previous centroid, rebuilt in dim
    * order), and assignment crossJoins the corpus against the ONE-ROW
    * cid-sorted model frame (a broadcast nested-loop join over a
    * single build row ≡ a map), feeding the identical ArgmaxDot
    * kernel. The plan carries no k-sized literal and no stage ever
    * collects the model; each iteration's k-row centroid frame is
    * localCheckpoint-ed so the 3-iteration lineage stays flat.
    */
  private[graft] def trainedFinBroadcast(s: org.apache.spark.sql.SparkSession,
      d: String, K: Int): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val train = emb.filter(col("vec_id") < trainBound(K))

    // one row: (m_cents sorted by cid, m_cids) — ArgmaxDot's contract
    def modelOf(centFrame: DataFrame): DataFrame =
      centFrame
        .agg(sort_array(collect_list(struct(col("cid"), col("cent")))).as("m"))
        .select(transform(col("m"), x => x.getField("cent")).as("m_cents"),
          transform(col("m"), x => x.getField("cid")).as("m_cids"))

    def assign(input: DataFrame, centFrame: DataFrame): DataFrame =
      input.crossJoin(broadcast(modelOf(centFrame)))
        .select(col("vec_id"), col("embedding"),
          graft.functions.ArgmaxDot(col("embedding"),
            col("m_cents"), col("m_cids")).as("cell"))

    // the distributed Lloyd update — the same algebra as the literal
    // path's collect-and-rebuild, row-for-row: exact order-free means
    // per (cell, dim), empty cells keep their previous centroid
    def update(assigned: DataFrame, centFrame: DataFrame): DataFrame = {
      val means = assigned
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("cell"), (col("pos") + 1).as("mdim"))
        .agg((sum(floor(col("v").cast("double") * Scale.toDouble).cast("long")).cast("double")
          / count(lit(1)).cast("double") / Scale.toDouble).as("m"))
      centFrame
        .select(col("cid"), posexplode(col("cent")).as(Seq("p0", "prev")))
        .select(col("cid"), (col("p0") + 1).as("dim"), col("prev"))
        .join(means, col("cid") === col("cell") && col("dim") === col("mdim"), "left")
        .groupBy(col("cid"))
        .agg(transform(sort_array(collect_list(struct(col("dim"),
          coalesce(col("m"), col("prev")).as("v")))), x => x.getField("v")).as("cent"))
    }

    var centFrame = emb.filter(col("vec_id") < K)
      .select(col("vec_id").as("cid"), col("embedding").cast("array<double>").as("cent"))
      .localCheckpoint()
    for (_ <- 1 to Iters)
      centFrame = update(assign(train, centFrame), centFrame).localCheckpoint()

    assign(emb, centFrame)
      .withColumn("nrm", norm(col("embedding")))
      .cache() // final assignment feeds every consumer's join sides
  }

  /** PERSISTED ANN INDEX — the d16 standing-artifact discipline
    * applied to the IVF ladder (round-13 verdict item 6): s04
    * re-trains k-means per invocation; a production ANN service
    * trains NIGHTLY and serves every query from the persisted index.
    * The BUILD phase ([[s24BuildIndex]], the amortized term) persists
    * two artifacts: the trained k×dim centroid model (the routing
    * table — model-sized, the MLlib KMeans contract) and the
    * full-corpus assignment as a parquet table PARTITIONED BY CELL.
    * The QUERY phase ([[s24Probe]]) routes each query vector to its
    * cell via one zero-shuffle ArgmaxDot against the read-back model,
    * then scans ONLY the probed cells' partitions (targeted `cell=`
    * paths under basePath — d16ProbeFrame's listing discipline, so
    * the metadata term is one listStatus and the data term is the
    * probed cells' bytes, never the corpus).
    *
    * The oracle is s04's verbatim — the hash gate proves
    * persist ∘ read-back ∘ partition-pruned probe ≡ the inline
    * computation (model round-trips exactly: doubles through parquet;
    * nrm recomputed from the same floats). Scale: query cost ∝
    * (queries × their cells' occupancy); the build is the one-time
    * n·k indexing pass; k is the derived ∝ n knob so occupancy — and
    * per-query cost — stays flat as the corpus grows (s22 pins the
    * knob's oracle form; the registered query pins k=8 for the
    * 500-row oracle corpus).
    */
  val s24AnnPersistedIndex = Q(
    "s24_ann_persisted_index",
    s04AnnIvfKmeans.sql.get
  ) { (s, d) =>
    val (idxPath, centPath) = s24BuildIndex(s, d, K)
    s24Probe(s, d, idxPath, centPath)
  }

  /** The amortized nightly build: train, assign, persist. Returns
    * (index path, centroid-model path).
    */
  private[graft] def s24BuildIndex(s: org.apache.spark.sql.SparkSession,
      d: String, k: Int): (String, String) = {
    import s.implicits._
    val base = StreamReplay.tempReplayDir("s24idx")
    val idxPath = base.resolve("ivf").toString
    val centPath = base.resolve("centroids").toString
    val cents = trainedLiteralModel(s, d, k)
    cents.toDF("cid", "cent").coalesce(1)
      .write.mode("overwrite").parquet(centPath)
    assignLiteral(Tables.embeddings(s, d), cents)
      .withColumn("nrm", norm(col("embedding")))
      .repartition(col("cell")) // one writer per cell, not tasks × cells files
      .write.partitionBy("cell").mode("overwrite").parquet(idxPath)
    (idxPath, centPath)
  }

  /** The serving-time probe: route queries via the persisted model,
    * scan only their cells' partitions, score + top-3 (s04's exact
    * ranking rules).
    */
  private[graft] def s24Probe(s: org.apache.spark.sql.SparkSession,
      d: String, idxPath: String, centPath: String,
      queryMax: Long = 10, materialize: Boolean = true): DataFrame = {
    import s.implicits._
    // the model read-back is model-sized (k×dim), the same category
    // as the literal path's driver-side model
    val cents = Tables.parquet(s, centPath)
      .as[(Long, Seq[Double])].collect().toSeq.sortBy(_._1)
    val q = assignLiteral(
        Tables.embeddings(s, d).filter(col("vec_id") < queryMax), cents)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("cell").as("q_cell"))
      .withColumn("q_nrm", norm(col("q_emb")))
      .cache() // feeds the probed-cell collect AND the scoring join
    // ≤ #queries cell ids — the routing decision, metadata-sized
    val probed = q.select(col("q_cell")).distinct()
      .collect().map(_.getLong(0)).toSet
    val idxRoot = new org.apache.hadoop.fs.Path(idxPath)
    val fs = idxRoot.getFileSystem(s.sparkContext.hadoopConfiguration)
    val existing = fs.listStatus(idxRoot).iterator
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => n.startsWith("cell=") &&
        probed.contains(n.stripPrefix("cell=").toLong))
      .map(n => s"$idxPath/$n").toSeq.sorted
    val idx =
      if (existing.isEmpty) Tables.parquet(s, idxPath).filter(lit(false))
      else s.read.option("basePath", idxPath).schema(Tables.footerSchema(s, existing))
        .parquet(existing: _*)
    val result = idx.join(broadcast(q),
        col("cell") === col("q_cell") && col("vec_id") =!= col("q_id"))
      .select(col("q_id").as("query_id"), col("vec_id").as("neighbor_id"),
        col("q_cell").as("cell"),
        when(col("q_nrm") * col("nrm") === 0, 0.0)
          .otherwise(dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
          .as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    val shaped = result.withColumn("k", row_number().over(w))
      .filter(col("k") <= 3)
      .select(col("query_id"), col("neighbor_id"), col("cell"), col("cos_sim"),
        col("k"))
      .orderBy(col("query_id"), col("k"))
    if (!materialize) shaped // spec-only: keeps inputFiles inspectable
      // to pin the cell-partition pruning (caller clears the cache)
    else {
      val out = shaped.localCheckpoint() // materialize (output-sized) so
      // the query cache can be released before returning
      q.unpersist(blocking = false)
      out
    }
  }

  /** s24's decade decomposition: the nightly index build under the
    * DERIVED production knob (k ∝ corpus — timed as the amortized
    * term) apart from two serving probes at different query-batch
    * sizes. probe cost tracking the QUERY COUNT (probe100 ≈
    * 10× probe10's marginal work, both ~flat across corpus decades
    * under the occupancy-flat knob) is the measured
    * query-cost-∝-queries claim.
    */
  private[graft] def s24ProbeStats(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    import s.implicits._
    val k = derivedK(s, d)
    val t0 = System.nanoTime()
    val (idxPath, centPath) = s24BuildIndex(s, d, k)
    val buildSec = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val n10 = s24Probe(s, d, idxPath, centPath, queryMax = 10).count()
    val probe10Sec = (System.nanoTime() - t1) / 1e9
    val t2 = System.nanoTime()
    val n100 = s24Probe(s, d, idxPath, centPath, queryMax = 100).count()
    val probe100Sec = (System.nanoTime() - t2) / 1e9
    Seq((k, n10, n100, buildSec, probe10Sec, probe100Sec))
      .toDF("k", "rows_q10", "rows_q100", "build_sec", "probe10_sec",
        "probe100_sec")
  }

  /** INCREMENTAL ANN INDEX INGEST (s25 — the maintenance half s24
    * left open: s24 is build+serve, but a production vector service
    * also INGESTS — new embeddings arrive daily and a full index
    * rebuild per batch is O(corpus) for an O(delta) change). The
    * protocol, per the FAISS/Milvus segment discipline:
    *
    *  1. the nightly BASE build indexes the pre-delta corpus with
    *     s24's trained model and persists model + `cell=` partitions;
    *  2. a DELTA batch (the corpus tail) is assigned with the
    *     PERSISTED model READ BACK from the index (never retrained —
    *     retraining would silently re-route existing members), and
    *     appended to ONLY the touched `cell=` partitions
    *     (mode=append under partitionBy; the d16 delta discipline) —
    *     ingest cost ∝ touched partitions = min(|delta|, k), never
    *     ∝ corpus (at a production daily delta ≫ k the bound is k
    *     appended files, each amortizing many rows).
    *     [[s25IngestDelta]]
    *     `require`s untouched cell partitions kept their exact file
    *     sets and no base file was rewritten (AnnIncrementalSpec
    *     re-pins both from outside);
    *  3. the DRIFT metric a production service schedules retrains
    *     by: per cell, the mean member·centroid dot at build time vs
    *     after ingest, in EXACT scaled-integer form (floor(dot·2^20)
    *     summed as BIGINT — order-free, so an untouched cell's drift
    *     is exactly 0, not epsilon), with the retrain flag at a
    *     fixed threshold.
    *
    * The oracle is s04's full-rebuild verbatim, so the hash gate
    * proves base-build ∘ fixed-model delta-assign ∘ partition-append
    * ∘ partition-pruned probe ≡ the one-shot full index — the
    * incremental path is bit-equivalent to the rebuild it replaces.
    * (The model's training sample is the vec_id-prefix both
    * spellings share — prefix samples are stable under tail appends
    * once the corpus exceeds the cap, which is exactly why a
    * snapshot-trained model stays serveable across ingests.)
    *
    * Scale: delta assignment is one zero-shuffle ArgmaxDot projection
    * over the delta rows; the append writes ≤ min(|delta|, k) cell
    * partitions; drift is a k-row broadcast-join aggregate; serving
    * stays s24's pruned probe. The collects are model-sized (k×dim)
    * or metadata-sized (≤k touched-cell ids, per-cell file listings).
    */
  val s25AnnIncrementalIngest = Q(
    "s25_ann_incremental_ingest",
    s04AnnIvfKmeans.sql.get
  ) { (s, d) =>
    val (idxPath, centPath, _) = s25IngestDelta(s, d)
    s24Probe(s, d, idxPath, centPath)
  }

  /** s25's build + delta ingest, factored for the spec. The delta is
    * the corpus tail, ~10%. Returns (index path, model path, the drift
    * frame: cell, n_build, n_after, drift, retrain).
    */
  private[graft] def s25IngestDelta(s: org.apache.spark.sql.SparkSession, d: String)
      : (String, String, DataFrame) = {
    import s.implicits._
    val base = StreamReplay.tempReplayDir("s25idx")
    val idxPath = base.resolve("ivf").toString
    val centPath = base.resolve("centroids").toString
    val emb = Tables.embeddings(s, d)
    val maxId = emb.agg(max(col("vec_id"))).head().getLong(0) // one number
    val cut = maxId + 1 - math.max(1L, (maxId + 1) / 10)
    require(cut > 0, "the delta swallows the whole corpus")
    // ---- nightly base build (amortized): pre-delta corpus only ----
    val cents = trainedLiteralModel(s, d, K)
    cents.toDF("cid", "cent").coalesce(1)
      .write.mode("overwrite").parquet(centPath)
    assignLiteral(emb.filter(col("vec_id") < cut), cents)
      .withColumn("nrm", norm(col("embedding")))
      .repartition(col("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(idxPath)
    val centsDf = Tables.parquet(s, centPath) // the persisted model frame
    def cellMeans(df: DataFrame): DataFrame = df
      .join(broadcast(centsDf), col("cell") === col("cid"))
      .select(col("cell"),
        floor(graft.functions.FloatDoubleVecDot(col("embedding"), col("cent"))
          * Scale.toDouble).cast("long").as("sd"))
      .groupBy(col("cell"))
      .agg(sum(col("sd")).as("ssum"), count(lit(1)).as("n"))
    val buildMeans = cellMeans(Tables.parquet(s, idxPath))
      .withColumnsRenamed(Map("ssum" -> "ssum_b", "n" -> "n_build"))
      .localCheckpoint() // pre-ingest snapshot: must not re-read post-append
    // ---- delta ingest: fixed persisted model, append-only ----------
    // the before/after per-cell file listings are AUDIT apparatus for
    // the append-only requires below (a real lakehouse writer gets
    // immutability from its commit protocol, not by re-listing the
    // table); they cost ∝ k cell dirs.
    val idxRoot = new org.apache.hadoop.fs.Path(idxPath)
    val fs = idxRoot.getFileSystem(s.sparkContext.hadoopConfiguration)
    def cellFiles(): Map[String, Set[String]] =
      fs.listStatus(idxRoot).filter(_.isDirectory)
        .filter(_.getPath.getName.startsWith("cell="))
        .map(st => st.getPath.getName ->
          fs.listStatus(st.getPath).map(_.getPath.getName)
            .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet)
        .toMap
    val before = cellFiles()
    // the delta FEED: in production the new embeddings arrive as
    // their own batch — they are not filtered back out of the corpus.
    // Staging them to their own file is fixture prep (c28's "request
    // generation is the caller's feed, not the commit"): the ingest
    // then reads ∝ delta, where filtering the corpus cost 3
    // full-corpus scans (filter → distinct → write re-derivations),
    // 0.8→2.1→6.4 s across decades for the same 500-row delta.
    val deltaPath = base.resolve("delta_feed").toString
    emb.filter(col("vec_id") >= cut)
      .coalesce(1).write.mode("overwrite").parquet(deltaPath)
    val modelRead = centsDf.as[(Long, Seq[Double])].collect().toSeq.sortBy(_._1)
    val delta = assignLiteral(Tables.parquet(s, deltaPath), modelRead)
      .withColumn("nrm", norm(col("embedding")))
    val deltaCells = delta.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).map(c => s"cell=$c").toSet // ≤ k ids
    delta.repartition(col("cell"))
      .write.partitionBy("cell").mode("append").parquet(idxPath)
    val after = cellFiles()
    before.foreach { case (cell, fset) =>
      require(fset.subsetOf(after(cell)),
        s"ingest rewrote base files in $cell — append-only violated")
      if (!deltaCells(cell)) require(after(cell) == fset,
        s"ingest touched $cell, which received no delta rows")
    }
    deltaCells.foreach { cell =>
      require(after(cell).size > before.getOrElse(cell, Set.empty).size,
        s"delta cell $cell gained no files")
    }
    // ---- drift: build-time vs post-ingest per-cell mean dot --------
    // the post-ingest sums come from the DELTA alone: the scaled-
    // integer sums are exact, so ssum_after = ssum_build + ssum_delta
    // LITERALLY (no float-order drift) and the update never rescans
    // the standing index — a full-index recompute here measured ∝
    // corpus at sf10 (6.8 s vs 0.7 s at sf0.1 for the same 500-row
    // delta) and would have silently broken the cost-∝-delta
    // contract the rest of the ingest keeps. AnnIncrementalSpec
    // cross-checks the summed counts against the merged index.
    val deltaMeans = cellMeans(delta)
      .withColumnsRenamed(Map("ssum" -> "ssum_d", "n" -> "n_d"))
    val drift = buildMeans.join(deltaMeans, Seq("cell"), "full_outer")
      .select(col("cell"), coalesce(col("n_build"), lit(0L)).as("n_build"),
        (coalesce(col("n_build"), lit(0L)) + coalesce(col("n_d"), lit(0L)))
          .as("n_after"),
        (coalesce(col("ssum_b"), lit(0L)) + coalesce(col("ssum_d"), lit(0L)))
          .as("ssum_a"),
        (col("ssum_b").cast("double") / col("n_build")).as("mean_b"))
      .select(col("cell"), col("n_build"), col("n_after"),
        (abs(col("ssum_a").cast("double") / col("n_after")
          - coalesce(col("mean_b"),
              col("ssum_a").cast("double") / col("n_after")))
          / Scale.toDouble).as("drift"))
      .withColumn("retrain", col("drift") > lit(0.05))
    (idxPath, centPath, drift)
  }

  // ---- s26: product quantization + ADC ------------------------------

  /** PQ geometry: 64-dim embeddings split into [[PqM]] subspaces of
    * [[PqSubDim]] dims, [[PqK]] codewords per subspace. The oracle
    * pins the algebra at 8×8×8 (right-sized for the 500-row corpus
    * exactly like s04's k=8); production PQ runs M=8..64, K=256 — the
    * same plan, bigger literals (the [[LiteralModelMaxK]] broadcast
    * escape applies unchanged since the codebook is M·K·SubDim = one
    * model).
    */
  private val PqM = 8
  private val PqSubDim = 8
  private val PqK = 8
  private val PqIters = 2

  private def sqlPqAssign(i: Int, src: String): String =
    s"""pa$i AS (
       |  SELECT vec_id, sub, sv, cell FROM (
       |    SELECT t.vec_id, t.sub, t.sv, c.cid AS cell,
       |           row_number() OVER (PARTITION BY t.vec_id, t.sub
       |             ORDER BY ${sqlDot("t.sv", "c.cent")} DESC, c.cid) AS rn
       |    FROM $src t JOIN pc${i - 1} c ON c.sub = t.sub
       |  ) WHERE rn = 1
       |)""".stripMargin

  private def sqlPqUpdate(i: Int): String =
    s"""px$i AS (
       |  SELECT a.sub, a.cell, u.i AS dim, a.sv[u.i] AS v
       |  FROM pa$i a, LATERAL (SELECT unnest(generate_series(1, len(a.sv))) AS i) u
       |), pm$i AS (
       |  SELECT sub, cell, dim,
       |         CAST(sum(CAST(floor(CAST(v AS DOUBLE) * $Scale) AS BIGINT)) AS DOUBLE)
       |           / CAST(count(*) AS DOUBLE) / $Scale AS m
       |  FROM px$i GROUP BY sub, cell, dim
       |), ps$i AS (
       |  SELECT c.cid, c.sub, u.i AS dim, c.cent[u.i] AS prev
       |  FROM pc${i - 1} c, LATERAL (SELECT unnest(generate_series(1, len(c.cent))) AS i) u
       |), pc$i AS (
       |  SELECT s.cid, s.sub, list(COALESCE(m.m, s.prev) ORDER BY s.dim) AS cent
       |  FROM ps$i s LEFT JOIN pm$i m
       |    ON m.sub = s.sub AND m.cell = s.cid AND m.dim = s.dim
       |  GROUP BY s.cid, s.sub
       |)""".stripMargin

  /** TRAINED PRODUCT QUANTIZATION + ASYMMETRIC DISTANCE (s26 —
    * Jégou et al., "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011; the production FAISS codebook path the PQ
    * tier still lacked: s09/s10's corner codebook is
    * DATA-INDEPENDENT — 1 sign bit per dimension, recall gated at
    * 0.36 — where real PQ TRAINS a k-means codebook per subspace and
    * buys far tighter quantization error at the same code size):
    * each 64-dim float vector (256 B) is encoded as [[PqM]]=8
    * codeword ids (8 B here, 32× smaller — with K=256 the production
    * 64× ratio), by running the house deterministic Lloyd k-means
    * INDEPENDENTLY in each of the 8 subspaces (same fixed init =
    * subvectors of vec_id 0..[[PqK]], same exact scaled-integer
    * means, same dot/ties-to-lowest-cid assignment — all spelled
    * bit-identically in the oracle). Search is ADC: the
    * query stays EXACT, one 8×8 lookup table of
    * `floor(dot(q_sub, codeword) · 2^20)` per query, and every
    * corpus vector's approximate score is the BIGINT sum of its 8
    * code lookups — exact integer arithmetic end to end, so the
    * top-10 ranking (score DESC, vec_id) is engine-identical by
    * construction, never by float luck.
    *
    * Scale shape: encoding is a zero-shuffle projection (8 ArgmaxDot
    * kernels over slices in ONE select — the s04 discipline, and the
    * reason codes for 100 TB of embeddings are one linear pass);
    * training touches only the deterministic prefix sample; the
    * codebook and the per-query LUTs are model-sized literals (the
    * MLlib contract, documented collects); scoring reads ONLY the
    * 8-byte codes — the table of 64-dim floats is never rescanned,
    * which is the entire point: at 100 TB the codes fit in ~1.6 TB
    * of executor memory where the raw vectors cannot.
    */
  val s26AnnPqAdc = Q(
    "s26_ann_pq_adc",
    { val iters = (1 to PqIters)
        .map(i => s"${sqlPqAssign(i, "trainsub")},\n${sqlPqUpdate(i)}")
        .mkString(",\n")
      s"""WITH subv AS (
         |  SELECT e.vec_id, s.sub,
         |         list_transform(generate_series(1, $PqSubDim),
         |           j -> e.embedding[s.sub * $PqSubDim + j]) AS sv
         |  FROM embeddings e, LATERAL (SELECT unnest(range(0, $PqM)) AS sub) s
         |), trainsub AS (
         |  SELECT * FROM subv WHERE vec_id < ${TrainPerCentroid * PqK}
         |), pc0 AS (
         |  SELECT vec_id AS cid, sub, list_transform(sv, x -> CAST(x AS DOUBLE)) AS cent
         |  FROM subv WHERE vec_id < $PqK
         |),
         |$iters,
         |${sqlPqAssign(PqIters + 1, "subv")},
         |codes AS (SELECT vec_id, sub, cell FROM pa${PqIters + 1}),
         |qsub AS (SELECT vec_id, sub, sv FROM subv WHERE vec_id < 3),
         |lut AS (
         |  SELECT q.vec_id AS query_id, c.sub, c.cid,
         |         CAST(floor(${sqlDot("q.sv", "c.cent")} * $Scale) AS BIGINT) AS l
         |  FROM qsub q JOIN pc$PqIters c ON c.sub = q.sub
         |), scored AS (
         |  SELECT l.query_id, k.vec_id, CAST(sum(l.l) AS BIGINT) AS score_scaled
         |  FROM codes k JOIN lut l ON l.sub = k.sub AND l.cid = k.cell
         |  WHERE k.vec_id <> l.query_id
         |  GROUP BY l.query_id, k.vec_id
         |), ranked AS (
         |  SELECT query_id, vec_id AS neighbor_id, score_scaled,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY score_scaled DESC, vec_id) AS k
         |  FROM scored
         |)
         |SELECT query_id, neighbor_id, score_scaled, k FROM ranked
         |WHERE k <= 10
         |ORDER BY query_id, k""".stripMargin }
  ) { (s, d) =>
    val (codes, cents) = pqEncode(s, d)
    pqAdcSearch(s, d, codes, cents)
  }

  /** Trains the per-subspace codebooks (deterministic Lloyd, exact
    * scaled-integer means — the [[trainedLiteralModel]] algebra run
    * jointly across all [[PqM]] subspaces in one explode-aggregate
    * per iteration) and returns (the corpus codes frame
    * `vec_id, code_0..code_7` — a zero-shuffle projection — and the
    * codebooks, `sub → cid-sorted (cid, centroid)`).
    */
  private[graft] def pqEncode(s: org.apache.spark.sql.SparkSession,
      d: String): (DataFrame, IndexedSeq[IndexedSeq[(Long, Seq[Double])]]) = {
    import s.implicits._
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))

    def codeCols(cents: IndexedSeq[IndexedSeq[(Long, Seq[Double])]]): Seq[org.apache.spark.sql.Column] =
      (0 until PqM).map { m =>
        graft.functions.ArgmaxDot(
          slice(col("embedding"), m * PqSubDim + 1, PqSubDim),
          typedlit(cents(m).map(_._2)), typedlit(cents(m).map(_._1)))
          .as(s"code_$m")
      }

    // init: codeword j of subspace m = subvector m of embedding j
    // (model-sized collect: PqK full vectors)
    val seed = emb.filter(col("vec_id") < PqK)
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    var cents: IndexedSeq[IndexedSeq[(Long, Seq[Double])]] =
      (0 until PqM).map { m =>
        seed.toIndexedSeq.map { case (id, v) =>
          (id, v.slice(m * PqSubDim, (m + 1) * PqSubDim).map(_.toDouble).toSeq)
        }
      }

    val train = emb.filter(col("vec_id") < trainBound(PqK))
    val subOf = expr(s"pos div $PqSubDim")
    for (_ <- 1 to PqIters) {
      // one zero-shuffle assignment projection (8 kernels), one
      // explode-aggregate over (sub, cell, dim) — the fused
      // all-subspaces Lloyd step; collect is model-sized (≤ M·K·dim)
      val assigned = train.select(
        col("vec_id") +: col("embedding") +: codeCols(cents): _*)
      val means = assigned
        .select((0 until PqM).map(m => col(s"code_$m"))
          :+ posexplode(col("embedding")).as(Seq("pos", "v")): _*)
        .select(subOf.cast("int").as("sub"), (col("pos") % PqSubDim + 1).as("dim"),
          col("v"),
          element_at(array((0 until PqM).map(m => col(s"code_$m")): _*),
            (subOf + 1).cast("int")).as("cell"))
        .groupBy(col("sub"), col("cell"), col("dim"))
        .agg((sum(floor(col("v").cast("double") * Scale.toDouble).cast("long"))
          .cast("double") / count(lit(1)).cast("double") / Scale.toDouble)
          .as("m"))
        .as[(Int, Long, Int, Double)].collect()
        .map { case (sub, c, dim, m) => (sub, c, dim) -> m }.toMap
      cents = cents.zipWithIndex.map { case (book, m) =>
        book.map { case (cid, prev) =>
          (cid, prev.indices.map(i =>
            means.getOrElse((m, cid, i + 1), prev(i))).toVector: Seq[Double])
        }
      }
    }
    (emb.select(col("vec_id") +: codeCols(cents): _*), cents)
  }

  /** ADC top-10 over the codes: per-query scaled-integer LUTs
    * computed by the SAME FloatDoubleVecDot fold the oracle spells
    * (on a query-count-sized frame, then collected — 3×8×8 longs),
    * then one scan of the codes summing 8 lookups per row.
    */
  private[graft] def pqAdcSearch(s: org.apache.spark.sql.SparkSession,
      d: String, codes: DataFrame,
      cents: IndexedSeq[IndexedSeq[(Long, Seq[Double])]]): DataFrame = {
    import s.implicits._
    import graft.functions.FloatDoubleVecDot
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val lutCols = for (m <- 0 until PqM; j <- 0 until PqK) yield
      floor(FloatDoubleVecDot(
        slice(col("embedding"), m * PqSubDim + 1, PqSubDim),
        typedlit(cents(m)(j)._2)) * Scale.toDouble)
        .cast("long").as(s"l_${m}_$j")
    val lutRows = emb.filter(col("vec_id") < 3)
      .select(col("vec_id") +: lutCols: _*).collect()
    val lutDf = lutRows.map { r =>
      (r.getLong(0), (0 until PqM).map(m =>
        (0 until PqK).map(j => r.getLong(1 + m * PqK + j))))
    }.toSeq.toDF("query_id", "lut")
    val score = (0 until PqM).map(m =>
      element_at(element_at(col("lut"), m + 1),
        (col(s"code_$m") + 1).cast("int"))).reduce(_ + _)
    val scored = codes.crossJoin(broadcast(lutDf))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        score.as("score_scaled"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_scaled").desc, col("neighbor_id"))
    scored.withColumn("k", row_number().over(w))
      .filter(col("k") <= 10)
      .select(col("query_id"), col("neighbor_id"), col("score_scaled"), col("k"))
      .orderBy(col("query_id"), col("k"))
  }

  def all: Seq[Q] = Seq(s04AnnIvfKmeans, s24AnnPersistedIndex,
    s25AnnIncrementalIngest, s26AnnPqAdc)
}
