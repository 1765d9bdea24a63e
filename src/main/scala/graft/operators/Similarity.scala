package graft.operators

import graft.{Q, Tables}
import graft.functions.TextVec._
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity-search inventory (SURVEY.md §2C ⟨ns⟩ "Similarity
  * search"): brute-force cosine top-k (exact baseline) and an
  * LSH-bucketed ANN variant (the scale path).
  *
  * Scale design: the query side is tiny and broadcast, so the
  * brute-force pass is a single scan of the corpus with no shuffle
  * (BroadcastNestedLoopJoin) + a per-query top-k window. The ANN
  * variant prunes candidates to same-bucket rows via random-
  * hyperplane signs, turning O(n·q) into O(n/2^b · q).
  */
object Similarity {

  /** Exact top-5 cosine neighbors for each query vector (vec_id<10),
    * brute force over the corpus.
    */
  val s01CosineTopk = Q(
    "s01_cosine_topk",
    s"""WITH e AS (
       |  SELECT vec_id, embedding, ${sqlNorm("embedding")} AS nrm FROM embeddings
       |), scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         CASE WHEN q.nrm * c.nrm = 0 THEN 0.0
       |              ELSE ${sqlDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) END AS cos_sim
       |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id, cos_sim,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS k
       |  FROM scored
       |)
       |SELECT query_id, neighbor_id, cos_sim, k FROM ranked
       |WHERE k <= 5
       |ORDER BY query_id, k""".stripMargin
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id").as("query_id"), col("vec_id").as("neighbor_id"),
        when(col("q_nrm") * col("nrm") === 0, 0.0)
          .otherwise(dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
          .as("cos_sim"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("k", row_number().over(w))
      .filter(col("k") <= 5)
      .orderBy(col("query_id"), col("k"))
  }

  /** LSH-bucketed approximate NN: 4 seeded corpus-independent ±1
    * hyperplanes ([[graft.functions.TextVec.seededPlane]]) give a
    * 4-bit sign bucket; neighbors are only searched within the
    * query's bucket, then top-3 by exact cosine. The planes are
    * constant literals, so bucket assignment is a pure per-row
    * projection — no join, no corpus dependence (round 2 used
    * embeddings 0..3 as planes, which tied index quality to the
    * corpus prefix). Documented recall tradeoff — at scale, plane
    * count (bucket count) grows with corpus size.
    */
  val s02AnnLsh = Q(
    "s02_ann_lsh",
    { def bit(j: Int) =
        s"(CASE WHEN ${sqlDot("e.embedding", s"p.p$j")} > 0 THEN ${1 << j} ELSE 0 END)"
      s"""WITH planes AS (
         |  SELECT ${(0 until 4).map(j => s"${sqlSeededPlane(j)} AS p$j").mkString(",\n         ")}
         |), e AS (
         |  SELECT vec_id, embedding, ${sqlNorm("embedding")} AS nrm FROM embeddings
         |), buck AS (
         |  SELECT e.vec_id, e.embedding, e.nrm,
         |         ${(0 until 4).map(bit).mkString(" + ")} AS bucket
         |  FROM e, planes p
         |), scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.bucket,
         |         CASE WHEN q.nrm * c.nrm = 0 THEN 0.0
         |              ELSE ${sqlDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) END AS cos_sim
         |  FROM buck q JOIN buck c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
         |  WHERE q.vec_id < 10
         |), ranked AS (
         |  SELECT query_id, neighbor_id, bucket, cos_sim,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS k
         |  FROM scored
         |)
         |SELECT query_id, neighbor_id, bucket, cos_sim, k FROM ranked
         |WHERE k <= 3
         |ORDER BY query_id, k""".stripMargin }
  ) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val e = emb.select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    // seeded constant planes: bucket assignment is a pure projection
    val bucket = (0 until 4).map { j =>
      when(dot(col("embedding"), seededPlaneCol(j)) > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)
    val buck = e
      .select(col("vec_id"), col("embedding"), col("nrm"), bucket.as("bucket"))
      .cache() // bucket assignment feeds BOTH join sides — compute once
    val q = buck.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("bucket").as("q_bucket"))
    val scored = buck.join(broadcast(q),
        col("bucket") === col("q_bucket") && col("vec_id") =!= col("q_id"))
      .select(col("q_id").as("query_id"), col("vec_id").as("neighbor_id"),
        col("q_bucket").as("bucket"),
        when(col("q_nrm") * col("nrm") === 0, 0.0)
          .otherwise(dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
          .as("cos_sim"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("k", row_number().over(w))
      .filter(col("k") <= 3)
      .select(col("query_id"), col("neighbor_id"), col("bucket"), col("cos_sim"), col("k"))
      .orderBy(col("query_id"), col("k"))
  }

  /** Seed offset separating IVF centroids from the s02/d06 LSH
    * planes (plane ids 0..3 are taken; centroids use 100..107).
    */
  private val CentroidSeedBase = 100

  /** Shared IVF plumbing (s03 single-probe, s06 multi-probe): the
    * corpus with per-row dots d0..d7 against the 8 constant seeded
    * centroids (pure projection), plus the argmax cell expression
    * (ties to the lowest centroid id).
    */
  private def centroidDots(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val emb = Tables.embeddings(s, d)
    emb.select(col("vec_id") +: col("embedding") +:
      norm(col("embedding")).as("nrm") +:
      (0 until 8).map(j =>
        dot(col("embedding"), seededPlaneCol(CentroidSeedBase + j)).as(s"d$j")): _*)
  }

  private def cellExpr: org.apache.spark.sql.Column =
    (0 until 8).foldRight(lit(-1): org.apache.spark.sql.Column) { (j, els) =>
      val geAll = (0 until 8).filter(_ != j)
        .map(k => col(s"d$j") >= col(s"d$k")).reduce(_ && _)
      when(geAll, lit(j)).otherwise(els)
    }

  private def sqlCtrCells: String = {
    def dots = (0 until 8).map(j => s"${sqlDot("e.embedding", s"c.c$j")} AS d$j").mkString(", ")
    def whenChain = (0 until 8).map { j =>
      val geAll = (0 until 8).filter(_ != j).map(k => s"d$j >= d$k").mkString(" AND ")
      s"WHEN $geAll THEN $j"
    }.mkString(" ")
    s"""ctrs AS (
       |  SELECT ${(0 until 8).map(j => s"${sqlSeededPlane(CentroidSeedBase + j)} AS c$j").mkString(",\n         ")}
       |), ctr AS (
       |  SELECT e.vec_id, e.embedding, ${sqlNorm("e.embedding")} AS nrm, $dots
       |  FROM embeddings e, ctrs c
       |), cells AS (
       |  SELECT vec_id, embedding, nrm, CASE $whenChain END AS cell FROM ctr
       |)""".stripMargin
  }

  /** IVF-style ANN: 8 seeded corpus-independent ±1 corner centroids
    * ([[graft.functions.TextVec.seededPlane]] with a distinct seed
    * offset — each cell is "which signed-sum corner aligns best");
    * every vector is assigned to its nearest centroid by dot product
    * (argmax over a fixed list — deterministic tie-break by index);
    * queries probe only their own cell, then exact cosine top-3.
    * At scale: cells partition the corpus, assignment is a pure
    * projection (constant centroids), and a query touches 1/n_cells
    * of the data; TRAINED centroids (s04's k-means) and multi-probe
    * (s06) are the production knobs — the plumbing here is the real
    * shape, with no corpus-prefix dependence (round 2 used
    * embeddings 0..7 as centroids).
    */
  val s03AnnIvf = Q(
    "s03_ann_ivf",
    { s"""WITH $sqlCtrCells, scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.cell,
         |         CASE WHEN q.nrm * c.nrm = 0 THEN 0.0
         |              ELSE ${sqlDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) END AS cos_sim
         |  FROM cells q JOIN cells c ON q.cell = c.cell AND c.vec_id <> q.vec_id
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
    val cells = centroidDots(s, d)
      .select(col("vec_id"), col("embedding"), col("nrm"), cellExpr.as("cell"))
      .cache() // assignment subtree (8 dots + argmin) feeds BOTH join sides — compute once
    val q = cells.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("cell").as("q_cell"))
    val scored = cells.join(broadcast(q),
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

  /** kNN classification on top of the exact top-k search: each query
    * vector (vec_id < 10) is labeled by majority vote of its 5
    * nearest neighbors' `label`s (ties broken by lowest label — a
    * fixed, engine-portable rule), reported next to the true label.
    * This is the standard label-propagation / quality-annotation use
    * of a similarity index in a training-data pipeline; the plan adds
    * one small groupBy and one broadcast-sized join to s01's single
    * corpus scan.
    */
  val s05KnnClassify = Q(
    "s05_knn_classify",
    s"""WITH e AS (
       |  SELECT vec_id, embedding, label, ${sqlNorm("embedding")} AS nrm FROM embeddings
       |), scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label,
       |         CASE WHEN q.nrm * c.nrm = 0 THEN 0.0
       |              ELSE ${sqlDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) END AS cos_sim
       |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id, label, cos_sim,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS k
       |  FROM scored
       |), votes AS (
       |  SELECT query_id, label, count(*) AS n_votes
       |  FROM ranked WHERE k <= 5
       |  GROUP BY query_id, label
       |), winner AS (
       |  SELECT query_id, label AS pred_label, n_votes,
       |         row_number() OVER (PARTITION BY query_id ORDER BY n_votes DESC, label) AS r
       |  FROM votes
       |)
       |SELECT w.query_id, q.label AS true_label, w.pred_label, w.n_votes
       |FROM winner w JOIN embeddings q ON w.query_id = q.vec_id
       |WHERE w.r = 1
       |ORDER BY w.query_id""".stripMargin
  ) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val e = emb.select(col("vec_id"), col("embedding"), col("label"),
      norm(col("embedding")).as("nrm"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id").as("query_id"), col("vec_id").as("neighbor_id"), col("label"),
        when(col("q_nrm") * col("nrm") === 0, 0.0)
          .otherwise(dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
          .as("cos_sim"))
    val wk = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("neighbor_id"))
    val votes = scored.withColumn("k", row_number().over(wk))
      .filter(col("k") <= 5)
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("n_votes"))
    val wr = Window.partitionBy(col("query_id")).orderBy(col("n_votes").desc, col("label"))
    val winner = votes.withColumn("r", row_number().over(wr))
      .filter(col("r") === 1)
      .select(col("query_id"), col("label").as("pred_label"), col("n_votes"))
    broadcast(winner) // ≤ #queries rows — the corpus-sized label table streams past it
      .join(emb.select(col("vec_id"), col("label").as("true_label")),
        col("query_id") === col("vec_id"))
      .select(col("query_id"), col("true_label"), col("pred_label"), col("n_votes"))
      .orderBy(col("query_id"))
  }

  /** Multi-probe IVF ANN: same cell index as s03, but each query
    * probes its TOP-2 cells by centroid dot (rank over d0..d7,
    * ties to the lowest centroid id) instead of only the argmax —
    * the standard recall knob for IVF indexes: candidates roughly
    * double while staying O(q · n/n_cells), and vectors just across
    * a Voronoi boundary from the query become reachable. Corpus
    * cells are disjoint, so the two probes can't produce duplicate
    * candidates. `probe` in the output records which probe (1 or 2)
    * found each neighbor.
    */
  val s06AnnMultiprobe = Q(
    "s06_ann_multiprobe",
    { val unpiv = (0 until 8).map(j =>
        s"SELECT vec_id, embedding, nrm, $j AS pcell, d$j AS pd FROM ctr WHERE vec_id < 10")
        .mkString("\n  UNION ALL ")
      s"""WITH $sqlCtrCells, qd AS (
         |  $unpiv
         |), probes AS (
         |  SELECT vec_id, embedding, nrm, pcell, probe FROM (
         |    SELECT vec_id, embedding, nrm, pcell,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY pd DESC, pcell) AS probe
         |    FROM qd
         |  ) WHERE probe <= 2
         |), scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.pcell AS cell, q.probe,
         |         CASE WHEN q.nrm * c.nrm = 0 THEN 0.0
         |              ELSE ${sqlDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) END AS cos_sim
         |  FROM probes q JOIN cells c ON q.pcell = c.cell AND c.vec_id <> q.vec_id
         |), ranked AS (
         |  SELECT query_id, neighbor_id, cell, probe, cos_sim,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS k
         |  FROM scored
         |)
         |SELECT query_id, neighbor_id, cell, probe, cos_sim, k FROM ranked
         |WHERE k <= 3
         |ORDER BY query_id, k""".stripMargin }
  ) { (s, d) =>
    val withDots = centroidDots(s, d).cache() // feeds corpus cells AND query probes
    val cells = withDots
      .select(col("vec_id"), col("embedding"), col("nrm"), cellExpr.as("cell"))
    val wq = Window.partitionBy(col("vec_id")).orderBy(col("pd").desc, col("pcell"))
    val probes = withDots.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"), col("nrm"),
        posexplode(array((0 until 8).map(j => col(s"d$j")): _*)).as(Seq("pcell", "pd")))
      .withColumn("probe", row_number().over(wq))
      .filter(col("probe") <= 2)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("pcell"), col("probe"))
    val scored = cells.join(broadcast(probes),
        col("cell") === col("pcell") && col("vec_id") =!= col("q_id"))
      .select(col("q_id").as("query_id"), col("vec_id").as("neighbor_id"),
        col("pcell").as("cell"), col("probe"),
        when(col("q_nrm") * col("nrm") === 0, 0.0)
          .otherwise(dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
          .as("cos_sim"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("k", row_number().over(w))
      .filter(col("k") <= 3)
      .select(col("query_id"), col("neighbor_id"), col("cell"), col("probe"),
        col("cos_sim"), col("k"))
      .orderBy(col("query_id"), col("k"))
  }

  /** Symmetric int8 absmax quantization of the embedding column —
    * the storage-scale path for a 100 TB vector store (4× smaller
    * than f32, SIMD-friendly dot products downstream): per vector,
    * scale = absmax/127 and qᵢ = floor(xᵢ·127/absmax + 0.5), the
    * nearest-int map whose reconstruction error is ≤ scale/2 per
    * element — pinned per row by `max_abs_err`. `q_md5` hashes the
    * comma-joined codes, so BOTH engines must produce every int8
    * code identically; all arithmetic is IEEE double with textually
    * parallel spellings (the repo's floor(v+0.5) rounding — no
    * round()-on-double divergence).
    *
    * Scale shape: pure per-row projection — zero shuffle, quantizes
    * an arbitrarily large corpus embarrassingly parallel; the
    * (vec_id, scale, q) triple is what a production store persists.
    */
  val s07QuantizeInt8 = Q(
    "s07_quantize_int8",
    """WITH base AS (
      |  SELECT vec_id, embedding, len(embedding) AS n_dims,
      |         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
      |  FROM embeddings
      |), qz AS (
      |  SELECT vec_id, n_dims, embedding, amax,
      |         CASE WHEN amax = 0
      |              THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
      |              ELSE list_transform(embedding,
      |                x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / amax + 0.5) AS BIGINT))
      |         END AS q
      |  FROM base
      |)
      |SELECT vec_id, n_dims,
      |       CASE WHEN amax = 0 THEN 0.0 ELSE amax / 127.0 END AS scale,
      |       md5(array_to_string(q, ',')) AS q_md5,
      |       CAST(list_sum(list_transform(q, v -> abs(v))) AS BIGINT) AS q_l1,
      |       CASE WHEN amax = 0 THEN 0.0
      |            ELSE list_max(list_transform(embedding, x ->
      |              abs(CAST(x AS DOUBLE)
      |                  - CAST(floor(CAST(x AS DOUBLE) * 127.0 / amax + 0.5) AS BIGINT)
      |                    * (amax / 127.0))))
      |       END AS max_abs_err
      |FROM qz ORDER BY vec_id""".stripMargin
  ) { (s, d) =>
    val base = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        size(col("embedding")).as("n_dims"),
        array_max(transform(col("embedding"), x => abs(x.cast("double")))).as("amax"))
    val qz = base.withColumn("q",
      when(col("amax") === 0,
        transform(col("embedding"), _ => lit(0L)))
        .otherwise(transform(col("embedding"),
          x => floor(x.cast("double") * 127.0 / col("amax") + 0.5))))
    qz.select(col("vec_id"), col("n_dims"),
      when(col("amax") === 0, 0.0).otherwise(col("amax") / 127.0).as("scale"),
      md5(concat_ws(",", transform(col("q"), v => v.cast("string")))).as("q_md5"),
      aggregate(transform(col("q"), v => abs(v)), lit(0L), (a, v) => a + v).as("q_l1"),
      when(col("amax") === 0, 0.0)
        .otherwise(array_max(transform(col("embedding"), x =>
          abs(x.cast("double")
            - floor(x.cast("double") * 127.0 / col("amax") + 0.5)
              * (col("amax") / 127.0)))))
        .as("max_abs_err"))
      .orderBy(col("vec_id"))
  }

  /** s01's exact top-5 search run over the DEQUANTIZED int8 vectors
    * (s07's codes × scale) — the query that proves the 4×-compressed
    * store still ranks: Int8QuantSpec asserts recall@5 ≥ 0.9 vs s01
    * on the exact index. Both engines dequantize with the identical
    * integer codes and double scale, and score with the same ordered
    * dot-product fold ([[graft.functions.DoubleVecDot]] ≡
    * TextVec.sqlDot), so cos_sim is bit-equal, not approximately
    * equal. Same scale shape as s01: broadcast query side, single
    * corpus scan, per-query top-k window.
    */
  val s08DequantTopk = Q(
    "s08_dequant_topk",
    s"""WITH base AS (
       |  SELECT vec_id, embedding,
       |         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
       |  FROM embeddings
       |), dq AS (
       |  SELECT vec_id,
       |         CASE WHEN amax = 0 THEN list_transform(embedding, x -> 0.0)
       |              ELSE list_transform(embedding, x ->
       |                CAST(floor(CAST(x AS DOUBLE) * 127.0 / amax + 0.5) AS BIGINT)
       |                  * (amax / 127.0))
       |         END AS xq
       |  FROM base
       |), e AS (
       |  SELECT vec_id, xq, ${sqlNorm("xq")} AS nrm FROM dq
       |), scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         CASE WHEN q.nrm * c.nrm = 0 THEN 0.0
       |              ELSE ${sqlDot("q.xq", "c.xq")} / (q.nrm * c.nrm) END AS cos_sim
       |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id, cos_sim,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS k
       |  FROM scored
       |)
       |SELECT query_id, neighbor_id, cos_sim, k FROM ranked
       |WHERE k <= 5
       |ORDER BY query_id, k""".stripMargin
  ) { (s, d) =>
    import graft.functions.DoubleVecDot
    val base = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        array_max(transform(col("embedding"), x => abs(x.cast("double")))).as("amax"))
    val dq = base.select(col("vec_id"),
      when(col("amax") === 0, transform(col("embedding"), _ => lit(0.0)))
        .otherwise(transform(col("embedding"),
          x => floor(x.cast("double") * 127.0 / col("amax") + 0.5)
            * (col("amax") / 127.0)))
        .as("xq"))
    val e = dq.select(col("vec_id"), col("xq"),
      sqrt(DoubleVecDot(col("xq"), col("xq"))).as("nrm"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("xq").as("q_xq"), col("nrm").as("q_nrm"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id").as("query_id"), col("vec_id").as("neighbor_id"),
        when(col("q_nrm") * col("nrm") === 0, 0.0)
          .otherwise(DoubleVecDot(col("q_xq"), col("xq")) / (col("q_nrm") * col("nrm")))
          .as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("k", row_number().over(w))
      .filter(col("k") <= 5)
      .orderBy(col("query_id"), col("k"))
  }

  /** Product-quantization ANN with asymmetric-distance (ADC) search —
    * the 32×-compression tier of the vector-store ladder (s07's int8
    * is the 4× tier): the 64-dim embedding splits into 16 subspaces
    * of 4 dims, and each subspace is quantized to one of the 16 ±1
    * CORNER centroids ([[graft.functions.TextVec.pqCorner]] — the
    * exhaustive sign codebook, so encoding reduces to 4 sign bits:
    * `code_j = Σ 2^i·(x_i > 0)`, a pure bit projection with no argmin
    * search and no ties). A vector becomes a 16×4-bit = 8-byte code.
    * Search is classic ADC (Jégou, Douze & Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): each
    * query precomputes its 16×16 lookup table of
    * ⟨query-subvector, centroid⟩ products, and a candidate's score is
    * the sum of 16 table lookups selected by its code — the corpus
    * scan never touches the original floats. The corner codebook is
    * what makes the oracle exact AND is the recall ceiling for ±1
    * codebooks (seeded 8-of-256 and 8-of-16 corner subsets measured
    * 0.10-0.16 recall@5 on the driver corpus; the full corner set
    * reaches 0.36 — PqAdcSpec gates it ≥ 10× the random floor).
    * Production swaps in magnitude-aware per-subspace codebooks
    * trained with s04's deterministic k-means; every other line —
    * code column, LUT, CASE-select, sum — stays the same.
    *
    * Scale shape: encoding is a pure per-row projection (zero
    * shuffle) done ONCE at ingest; the search scan reads 8-byte codes
    * instead of 256-byte embeddings (the memory-bandwidth win that
    * makes PQ the standard billion-vector layout), broadcasts the
    * tiny query+LUT side, and ends in the per-query top-k window.
    */
  val s09AnnPq = Q(
    "s09_ann_pq",
    { val Dim = 4; val Sub = 16; val K = 16
      def sqlSub(tbl: String, j: Int) = s"$tbl.embedding[${j * Dim + 1}:${j * Dim + Dim}]"
      val cbCols = (0 until K)
        .map(k => s"${sqlPqCorner(k, Dim)} AS c_$k").mkString(",\n         ")
      val codeCols = (0 until Sub).map { j =>
        (0 until Dim).map(i =>
          s"(CASE WHEN e.embedding[${j * Dim + i + 1}] > 0 THEN ${1 << i} ELSE 0 END)")
          .mkString("(", " + ", s") AS code_$j")
      }.mkString(",\n         ")
      val lutCols = (for (j <- 0 until Sub; k <- 0 until K)
        yield s"${sqlDot(sqlSub("e", j), s"cb.c_$k")} AS l_${j}_$k")
        .mkString(",\n         ")
      val adc = (0 until Sub).map { j =>
        val whens = (0 until K - 1).map(k => s"WHEN $k THEN l.l_${j}_$k").mkString(" ")
        s"(CASE c.code_$j $whens ELSE l.l_${j}_${K - 1} END)"
      }.mkString(" + ")
      s"""WITH cb AS (
         |  SELECT $cbCols
         |), codes AS (
         |  SELECT e.vec_id,
         |         $codeCols
         |  FROM embeddings e
         |), luts AS (
         |  SELECT e.vec_id AS query_id,
         |         $lutCols
         |  FROM embeddings e, cb WHERE e.vec_id < 10
         |), scored AS (
         |  SELECT l.query_id, c.vec_id AS neighbor_id,
         |         $adc AS adc_score
         |  FROM luts l JOIN codes c ON c.vec_id <> l.query_id
         |), ranked AS (
         |  SELECT query_id, neighbor_id, adc_score,
         |         row_number() OVER (PARTITION BY query_id ORDER BY adc_score DESC, neighbor_id) AS k
         |  FROM scored
         |)
         |SELECT query_id, neighbor_id, adc_score, k FROM ranked
         |WHERE k <= 5
         |ORDER BY query_id, k""".stripMargin }
  ) { (s, d) =>
    val Dim = 4; val Sub = 16; val K = 16
    def sub(j: Int) = slice(col("embedding"), j * Dim + 1, Dim)
    val e = Tables.embeddings(s, d)
    // sign-bit code — the exhaustive-corner argmin collapses to this
    def codeCol(j: Int): Column =
      (0 until Dim).map { i =>
        when(element_at(col("embedding"), j * Dim + i + 1) > 0, lit(1 << i)).otherwise(lit(0))
      }.reduce(_ + _)
    val codes = e.select(
      col("vec_id") +: (0 until Sub).map(j => codeCol(j).as(s"code_$j")): _*)
    val luts = e.filter(col("vec_id") < 10).select(
      col("vec_id").as("query_id") +:
        (for (j <- 0 until Sub; k <- 0 until K)
          yield dot(sub(j), pqCornerCol(k, Dim)).as(s"l_${j}_$k")): _*)
    val adc = (0 until Sub).map { j =>
      (0 until K - 1).foldLeft(Option.empty[Column]) { (acc, k) =>
        val sel = col(s"code_$j") === k
        Some(acc.fold(when(sel, col(s"l_${j}_$k")))(_.when(sel, col(s"l_${j}_$k"))))
      }.get.otherwise(col(s"l_${j}_${K - 1}"))
    }.reduce(_ + _)
    val scored = codes.join(broadcast(luts), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), adc.as("adc_score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_score").desc, col("neighbor_id"))
    scored.withColumn("k", row_number().over(w))
      .filter(col("k") <= 5)
      .orderBy(col("query_id"), col("k"))
  }

  /** IVF-PQ with exact re-rank — the canonical production ANN stack
    * (FAISS's IndexIVFPQ + refine): s03's seeded-centroid CELLS prune
    * the candidate set to the query's cell, s09's PQ sign-codes +
    * ADC lookup tables score those candidates without touching the
    * original floats, the top-20 ADC shortlist alone is re-ranked
    * with exact cosine (the refine factor — PqAdcSpec gates ≥0.8
    * agreement with the cell-exact s03; measured 0.97), and the final
    * answer is the exact top-3 of the shortlist. Three pruning tiers
    * compose: cells cut candidates ~8×, PQ cuts scan bytes 32×, and
    * the exact pass touches only 20 rows per query.
    *
    * Scale shape: cell assignment and PQ encoding are both pure
    * per-row projections done once at ingest (zero shuffle); the
    * search is ONE equi-join on cell against a broadcast query+LUT
    * side, a per-query top-k window over ~n/cells candidates, and an
    * exact re-rank join whose left side is bounded at
    * queries×shortlist rows. At 100 TB: more cells (k ∝ corpus),
    * trained codebooks (s04's k-means), same plan.
    */
  val s10AnnIvfPq = Q(
    "s10_ann_ivfpq",
    { val Dim = 4; val Sub = 16; val K = 16
      def sqlSub(tbl: String, j: Int) = s"$tbl.embedding[${j * Dim + 1}:${j * Dim + Dim}]"
      val cbCols = (0 until K)
        .map(k => s"${sqlPqCorner(k, Dim)} AS c_$k").mkString(",\n         ")
      val codeCols = (0 until Sub).map { j =>
        (0 until Dim).map(i =>
          s"(CASE WHEN e.embedding[${j * Dim + i + 1}] > 0 THEN ${1 << i} ELSE 0 END)")
          .mkString("(", " + ", s") AS code_$j")
      }.mkString(",\n         ")
      val lutCols = (for (j <- 0 until Sub; k <- 0 until K)
        yield s"${sqlDot(sqlSub("e", j), s"cb.c_$k")} AS l_${j}_$k")
        .mkString(",\n         ")
      val adc = (0 until Sub).map { j =>
        val whens = (0 until K - 1).map(k => s"WHEN $k THEN q.l_${j}_$k").mkString(" ")
        s"(CASE c.code_$j $whens ELSE q.l_${j}_${K - 1} END)"
      }.mkString(" + ")
      s"""WITH $sqlCtrCells, cb AS (
         |  SELECT $cbCols
         |), codes AS (
         |  SELECT e.vec_id,
         |         $codeCols
         |  FROM embeddings e
         |), luts AS (
         |  SELECT e.vec_id AS query_id,
         |         $lutCols
         |  FROM embeddings e, cb WHERE e.vec_id < 10
         |), qc AS (
         |  SELECT l.*, s.cell AS q_cell FROM luts l JOIN cells s ON s.vec_id = l.query_id
         |), cand AS (
         |  SELECT q.query_id, cc.vec_id AS neighbor_id, q.q_cell AS cell,
         |         $adc AS adc_score
         |  FROM qc q
         |  JOIN cells cc ON cc.cell = q.q_cell AND cc.vec_id <> q.query_id
         |  JOIN codes c ON c.vec_id = cc.vec_id
         |), short AS (
         |  SELECT query_id, neighbor_id, cell, adc_score,
         |         row_number() OVER (PARTITION BY query_id ORDER BY adc_score DESC, neighbor_id) AS ka
         |  FROM cand
         |), rer AS (
         |  SELECT sh.query_id, sh.neighbor_id, sh.cell,
         |         CASE WHEN eq.nrm * ec.nrm = 0 THEN 0.0
         |              ELSE ${sqlDot("eq.embedding", "ec.embedding")} / (eq.nrm * ec.nrm) END AS cos_sim
         |  FROM short sh
         |  JOIN cells eq ON eq.vec_id = sh.query_id
         |  JOIN cells ec ON ec.vec_id = sh.neighbor_id
         |  WHERE sh.ka <= 20
         |), ranked AS (
         |  SELECT query_id, neighbor_id, cell, cos_sim,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS k
         |  FROM rer
         |)
         |SELECT query_id, neighbor_id, cell, cos_sim, k FROM ranked
         |WHERE k <= 3
         |ORDER BY query_id, k""".stripMargin }
  ) { (s, d) =>
    val Dim = 4; val Sub = 16; val K = 16
    def sub(c: Column, j: Int) = slice(c, j * Dim + 1, Dim)
    def codeCol(j: Int): Column =
      (0 until Dim).map { i =>
        when(element_at(col("embedding"), j * Dim + i + 1) > 0, lit(1 << i)).otherwise(lit(0))
      }.reduce(_ + _)
    val cells = centroidDots(s, d)
      .select(col("vec_id"), col("embedding"), col("nrm"), cellExpr.as("cell"))
      .cache() // assignment feeds corpus side, query side, and both re-rank joins
    // corpus side: cell + 8-byte PQ code, never the floats
    val corpus = cells.select(
      col("vec_id") +: col("cell") +: (0 until Sub).map(j => codeCol(j).as(s"code_$j")): _*)
    // query side: cell + the 16×16 ADC lookup table, broadcast
    val qs = cells.filter(col("vec_id") < 10).select(
      col("vec_id").as("query_id") +: col("cell").as("q_cell") +:
        (for (j <- 0 until Sub; k <- 0 until K)
          yield dot(sub(col("embedding"), j), pqCornerCol(k, Dim)).as(s"l_${j}_$k")): _*)
    val adc = (0 until Sub).map { j =>
      (0 until K - 1).foldLeft(Option.empty[Column]) { (acc, k) =>
        val sel = col(s"code_$j") === k
        Some(acc.fold(when(sel, col(s"l_${j}_$k")))(_.when(sel, col(s"l_${j}_$k"))))
      }.get.otherwise(col(s"l_${j}_${K - 1}"))
    }.reduce(_ + _)
    val cand = corpus.join(broadcast(qs),
        col("cell") === col("q_cell") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("q_cell").as("cell"), adc.as("adc_score"))
    val wa = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_score").desc, col("neighbor_id"))
    val short = cand.withColumn("ka", row_number().over(wa))
      .filter(col("ka") <= 20)
      .select(col("query_id"), col("neighbor_id"), col("cell").as("s_cell"))
    val qEmb = cells.filter(col("vec_id") < 10)
      .select(col("vec_id").as("rq_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val rer = short
      .join(broadcast(qEmb), col("query_id") === col("rq_id"))
      .join(cells.alias("ec"), col("neighbor_id") === col("ec.vec_id"))
      .select(col("query_id"), col("neighbor_id"), col("s_cell").as("cell"),
        when(col("q_nrm") * col("ec.nrm") === 0, 0.0)
          .otherwise(dot(col("q_emb"), col("ec.embedding")) / (col("q_nrm") * col("ec.nrm")))
          .as("cos_sim"))
    val wk = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    rer.withColumn("k", row_number().over(wk))
      .filter(col("k") <= 3)
      .orderBy(col("query_id"), col("k"))
  }

  /** Nearest-CLASS-MEAN classification — the centroid complement to
    * s05's kNN (Rocchio / NCM: one prototype per label instead of a
    * per-query neighbor scan): per-label mean embeddings are computed
    * with the SCALED-INTEGER exact-mean spelling s04's k-means update
    * proved engine-identical (floor(v·2²⁰) summed as BIGINT — order-
    * free — then one double division chain), and each query picks the
    * label whose prototype maximizes cosine (ties to the lowest
    * label). Emits predicted vs true label with the winning cosine.
    *
    * Scale shape: prototypes are one explode + two-phase agg (the
    * model is labels×dims — KB-sized at any corpus); classification
    * is a broadcast compare of each query against the tiny prototype
    * table — at 100 TB you classify the FULL corpus this way for the
    * cost of one scan, which is why production label-propagation
    * passes start with NCM before paying for kNN.
    */
  val s11NcmClassify = Q(
    "s11_ncm_classify",
    { val Scale = "1048576.0"
      s"""WITH x AS (
         |  SELECT label, u.i AS dim, e.embedding[u.i] AS v
         |  FROM embeddings e, LATERAL (SELECT unnest(generate_series(1, len(e.embedding))) AS i) u
         |), m AS (
         |  SELECT label, dim,
         |         CAST(sum(CAST(floor(CAST(v AS DOUBLE) * $Scale) AS BIGINT)) AS DOUBLE)
         |           / CAST(count(*) AS DOUBLE) / $Scale AS m
         |  FROM x GROUP BY label, dim
         |), cm AS (
         |  SELECT label AS cand_label, list(m ORDER BY dim) AS cent FROM m GROUP BY label
         |), q AS (
         |  SELECT vec_id, embedding, label AS true_label, ${sqlNorm("embedding")} AS nrm
         |  FROM embeddings WHERE vec_id < 10
         |), scored AS (
         |  SELECT q.vec_id AS query_id, q.true_label, c.cand_label,
         |         CASE WHEN q.nrm * sqrt(${sqlDot("c.cent", "c.cent")}) = 0 THEN 0.0
         |              ELSE ${sqlDot("q.embedding", "c.cent")}
         |                   / (q.nrm * sqrt(${sqlDot("c.cent", "c.cent")})) END AS cos_sim
         |  FROM q CROSS JOIN cm c
         |), ranked AS (
         |  SELECT query_id, true_label, cand_label, cos_sim,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_label) AS r
         |  FROM scored
         |)
         |SELECT query_id, true_label, cand_label AS pred_label, cos_sim AS best_cos
         |FROM ranked WHERE r = 1
         |ORDER BY query_id""".stripMargin }
  ) { (s, d) =>
    import graft.functions.{DoubleVecDot, FloatDoubleVecDot}
    val Scale = 1048576.0
    val emb = Tables.embeddings(s, d)
    val means = emb.select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), (col("pos") + 1).as("dim"))
      .agg((sum(floor(col("v").cast("double") * Scale).cast("long")).cast("double")
        / count(lit(1)).cast("double") / Scale).as("m"))
    val cm = means.groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
      .select(col("label").as("cand_label"), expr("transform(dm, x -> x.m)").as("cent"))
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"),
        col("label").as("true_label"), norm(col("embedding")).as("nrm"))
    val cnrm = sqrt(DoubleVecDot(col("cent"), col("cent")))
    val scored = q.crossJoin(broadcast(cm)) // labels×dims model side — broadcast
      .select(col("query_id"), col("true_label"), col("cand_label"),
        when(col("nrm") * cnrm === 0, 0.0)
          .otherwise(FloatDoubleVecDot(col("embedding"), col("cent")) / (col("nrm") * cnrm))
          .as("cos_sim"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("cand_label"))
    scored.withColumn("r", row_number().over(w))
      .filter(col("r") === 1)
      .select(col("query_id"), col("true_label"),
        col("cand_label").as("pred_label"), col("cos_sim").as("best_cos"))
      .orderBy(col("query_id"))
  }

  /** BM25 ranked retrieval over the corpus inverted index — the
    * LEXICAL member of the search tier next to the embedding ANN
    * family, and the retrieval-based decontamination primitive
    * (rank corpus docs against a benchmark query; high-scoring hits
    * are contamination candidates — the retrieval flavor of t10's
    * verbatim-gram check). Query docs are doc_id < 5; their DISTINCT
    * tokens probe the (doc, term, tf) index; each matched term
    * contributes `idf_bits · tfnorm` where
    *  - `idf_bits = flog2(2N−2df+1) − flog2(2df+1)` is the t15
    *    integer floor-log2 surrogate of the Robertson-Spärck-Jones
    *    idf `ln((N−df+0.5)/(df+0.5))` (negative for df > N/2, like
    *    the real thing — no libm, bit-exact both engines), and
    *  - `tfnorm = tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))` with
    *    k1=1.2, b=0.75 is the standard BM25 saturation written as
    *    PLAIN double arithmetic (multiply/divide only — IEEE
    *    correctly-rounded identically in both engines; `avgdl`
    *    enters as the exact integer ratio `(dl·N)/S`).
    * The per-(query, doc) score sums addends in an ORDERED fold —
    * Spark `aggregate(sort_array(collect_list(struct(term, addend))))`
    * vs DuckDB `list_reduce(list(addend ORDER BY term))`, the
    * FloatVecDot discipline applied to an aggregation — so the
    * double sum is bit-identical, then a per-query top-5 window.
    *
    * Scale shape: the tf/df/dl index is term-partitioned (the
    * inverted index a 100 TB corpus shards by term); the query-term
    * table is tiny and broadcast onto it, so the index never
    * re-shuffles for the probe; per-(qid,doc) agg is two-phase; the
    * top-k is a per-query window over the candidate set only.
    */
  val s12Bm25Retrieval = Q(
    "s12_bm25_retrieval",
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |), tfc AS (
      |  SELECT doc_id, term, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(tk) AS term FROM tok) GROUP BY 1, 2
      |), dfc AS (
      |  SELECT term, count(*) AS df FROM tfc GROUP BY 1
      |), dl AS (
      |  SELECT doc_id, len(tk) AS dl FROM tok
      |), nn AS (
      |  SELECT count(*) AS n, CAST(sum(len(tk)) AS BIGINT) AS s FROM tok
      |), qt AS (
      |  SELECT doc_id AS qid, unnest(list_distinct(tk)) AS term
      |  FROM tok WHERE doc_id < 5
      |), cand AS (
      |  SELECT qt.qid, tfc.doc_id, tfc.term,
      |    ((length(bin(2 * nn.n - 2 * dfc.df + 1)) - 1)
      |      - (length(bin(2 * dfc.df + 1)) - 1))
      |    * ((tfc.tf * 2.2) / (tfc.tf + 1.2 * (0.25 + 0.75 * ((dl.dl * nn.n) / nn.s))))
      |      AS addend
      |  FROM qt JOIN tfc ON qt.term = tfc.term
      |  JOIN dfc ON tfc.term = dfc.term
      |  JOIN dl ON dl.doc_id = tfc.doc_id
      |  CROSS JOIN nn
      |  WHERE tfc.doc_id <> qt.qid
      |), scored AS (
      |  SELECT qid, doc_id, count(*) AS n_terms,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list(addend ORDER BY term)), (acc, x) -> acc + x) AS score
      |  FROM cand GROUP BY qid, doc_id
      |), ranked AS (
      |  SELECT qid, doc_id, n_terms, score,
      |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS k
      |  FROM scored
      |)
      |SELECT qid, doc_id, n_terms, score, k FROM ranked
      |WHERE k <= 5 ORDER BY qid, k""".stripMargin
  ) { (s, d) =>
    val docs = Tables.documents(s, d)
    // spread: tokenize + explode off the single-row-group scan
    // (Tables.spread, guide §2.5 — s19's lexical leg, same rationale)
    val sdocs = Tables.spread(docs.select(col("doc_id"), col("text")))
    // cache the (doc, term, tf) index: it feeds BOTH the df count and
    // the candidate probe join, and without the cache the whole
    // tokenize→explode→groupBy subtree (the query's dominant CPU)
    // executed twice inside one run (r15 verdict item 6 — same-query
    // reuse, the legitimate flavor; Bench/Verify clear caches between
    // queries)
    val tfc = sdocs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .cache()
    val dfc = tfc.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val dl = sdocs.select(col("doc_id"), size(tokens(col("text"))).as("dl"))
    val nn = sdocs.agg(count(lit(1)).as("n"),
      sum(size(tokens(col("text")))).cast("long").as("s"))
    val qt = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"),
        explode(array_distinct(tokens(col("text")))).as("term"))
    val cand = broadcast(qt).join(tfc, Seq("term"))
      .join(dfc, Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(nn))
      .filter(col("doc_id") =!= col("qid"))
      .select(col("qid"), col("doc_id"), col("term"),
        (((length(bin(lit(2) * col("n") - lit(2) * col("df") + 1)) - 1)
          - (length(bin(lit(2) * col("df") + 1)) - 1))
          * expr("(tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * ((dl * n) / s)))"))
          .as("addend"))
    val scored = cand.groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        aggregate(
          sort_array(collect_list(struct(col("term"), col("addend")))),
          lit(0.0), (acc, x) => acc + x.getField("addend")).as("score"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("k", row_number().over(w))
      .filter(col("k") <= 5)
      .orderBy(col("qid"), col("k"))
  }

  /** Johnson-Lindenstrauss RANDOM-PROJECTION dimensionality
    * reduction (Achlioptas JCSS'03 ±1 projections) — the embedding
    * TRANSFORM stage a 100 TB pipeline runs before ANN indexing:
    * 64-dim float vectors project to 16 dims through 16 seeded ±1
    * planes (the same md5-coin construction the LSH tier uses,
    * seed-disjoint at j=100..115), inlined as constant-folded array
    * literals so the whole operator is a pure per-row projection —
    * zero joins, zero shuffle beyond the presentation sort. Each
    * output coordinate is a FloatVecDot sequential fold (bit-exact
    * both engines), emitted as 16 SCALAR columns r0..r15 (not an
    * array — the driver comparator can't sort raw array columns, so
    * scalarizing is what makes every coordinate verifiable), and
    * `norm_ratio = ‖reduced‖ / (4·‖x‖)` reports the JL norm
    * preservation per row (E‖reduced‖² = 16‖x‖² for ±1 planes, so
    * the ratio concentrates near 1 — the sum-of-squares is the same
    * left-to-right `+` chain in both spellings and sqrt is
    * IEEE-correctly-rounded, not libm, so even the ratio
    * hash-matches; a zero input vector is guarded to 0.0 rather
    * than relying on Inf/NaN renderings agreeing).
    */
  val s13RandomProjection = Q(
    "s13_random_projection",
    {
      val planes = (0 until 16).map(j => s"${sqlSeededPlane(100 + j)} AS p$j")
        .mkString(",\n      |    ")
      val dots = (0 until 16).map(j => s"${sqlDot("embedding", s"p$j")} AS r$j")
        .mkString(",\n      |    ")
      val rCols = (0 until 16).map(j => s"r$j").mkString(", ")
      val sumSq = (0 until 16).map(j => s"r$j * r$j").mkString(" + ")
      s"""WITH pl AS (
      |  SELECT $planes
      |), red AS (
      |  SELECT vec_id,
      |    $dots,
      |    ${sqlNorm("embedding")} AS n64
      |  FROM embeddings CROSS JOIN pl
      |)
      |SELECT vec_id, $rCols,
      |  CASE WHEN n64 = 0 THEN 0.0
      |       ELSE sqrt($sumSq) / (4.0 * n64) END AS norm_ratio
      |FROM red ORDER BY vec_id""".stripMargin
    }
  ) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val dots = (0 until 16).map(j =>
      dot(col("embedding"), seededPlaneCol(100 + j)).as(s"r$j"))
    val n64 = norm(col("embedding"))
    val red = emb.select(col("vec_id") +: dots :+ n64.as("n64"): _*)
    val sumSq = (0 until 16).map(j => col(s"r$j") * col(s"r$j")).reduce(_ + _)
    red.select(col("vec_id") +: (0 until 16).map(j => col(s"r$j")) :+
        when(col("n64") === 0, lit(0.0))
          .otherwise(sqrt(sumSq) / (lit(4.0) * col("n64")))
          .as("norm_ratio"): _*)
      .orderBy(col("vec_id"))
  }

  /** Distributed QUALITY-CLASSIFIER TRAINING — the fastText-style
    * linear-filter stage real pipelines train (CCNet/FineWeb score
    * docs with a learned linear model, not only hand rules), as a
    * BATCH PERCEPTRON over integer lexical features: x = (1,
    * n_tokens, n_distinct, stopword-count, n_chars div 16), label
    * y = ±1 from an integer quality rule (type-token ratio ≥ 0.6 and
    * ≥ 20 tokens — the t03 family spelled in cross-multiplied
    * integers), and five synchronous rounds of
    * `w ← w + Σ_misclassified y·x`. EVERYTHING is 64-bit integer
    * arithmetic — margins, gradients, weights — so the training
    * trajectory is bit-identical in both engines (gradient descent
    * on a smooth loss would need libm exp; the perceptron update is
    * the classical integer-exact trainer). Output: the weight vector
    * and misclassification count after every round — the training
    * curve as a 5-row table.
    *
    * Scale shape: each round is ONE two-phase aggregate over the
    * feature table (map-side partial gradient sums) with the 1-row
    * weight vector broadcast onto it — the classic data-parallel
    * synchronous-SGD shape; features are computed once and
    * checkpointed; rounds iterate driver-side like c13/t16.
    */
  val s14PerceptronTrain = Q(
    "s14_perceptron_train",
    {
      val base =
        """WITH f AS (
          |  SELECT
          |    CAST(len(string_split(text, ' ')) AS BIGINT) AS x1,
          |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS x2,
          |    CAST(len(list_filter(string_split(text, ' '),
          |      t -> t IN ('the', 'a', 'of', 'to', 'and'))) AS BIGINT) AS x3,
          |    CAST(length(text) // 16 AS BIGINT) AS x4,
          |    CAST(CASE WHEN len(list_distinct(string_split(text, ' '))) * 10
          |                   >= len(string_split(text, ' ')) * 6
          |               AND len(string_split(text, ' ')) >= 20
          |          THEN 1 ELSE -1 END AS BIGINT) AS y
          |  FROM documents
          |), w0 AS (
          |  SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
          |         CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3,
          |         CAST(0 AS BIGINT) AS w4
          |)""".stripMargin
      val iters = (1 to 5).map { k =>
        s""", m$k AS (
           |  SELECT f.*,
           |    (w.w0 + w.w1 * f.x1 + w.w2 * f.x2 + w.w3 * f.x3 + w.w4 * f.x4) * f.y AS m
           |  FROM f CROSS JOIN w${k - 1} w
           |), g$k AS (
           |  SELECT CAST(count(*) AS BIGINT) AS nmis,
           |    CAST(COALESCE(sum(y), 0) AS BIGINT) AS g0,
           |    CAST(COALESCE(sum(y * x1), 0) AS BIGINT) AS g1,
           |    CAST(COALESCE(sum(y * x2), 0) AS BIGINT) AS g2,
           |    CAST(COALESCE(sum(y * x3), 0) AS BIGINT) AS g3,
           |    CAST(COALESCE(sum(y * x4), 0) AS BIGINT) AS g4
           |  FROM m$k WHERE m <= 0
           |), w$k AS (
           |  SELECT w.w0 + g.g0 AS w0, w.w1 + g.g1 AS w1, w.w2 + g.g2 AS w2,
           |         w.w3 + g.g3 AS w3, w.w4 + g.g4 AS w4, g.nmis AS nmis
           |  FROM w${k - 1} w CROSS JOIN g$k g
           |)""".stripMargin
      }.mkString("\n")
      val unions = (1 to 5).map { k =>
        (if (k == 1) s"SELECT 1 AS round, w0, w1, w2, w3, w4, nmis FROM w1"
         else s"UNION ALL SELECT $k, w0, w1, w2, w3, w4, nmis FROM w$k")
      }.mkString("\n")
      base + "\n" + iters + "\nSELECT * FROM (\n" + unions + "\n) ORDER BY round"
    }
  ) { (s, d) =>
    val tk = tokens(col("text"))
    val stopwords = Seq("the", "a", "of", "to", "and")
    val f = Tables.documents(s, d).select(
      size(tk).cast("long").as("x1"),
      size(array_distinct(tk)).cast("long").as("x2"),
      size(filter(tk, t => t.isin(stopwords.map(x => lit(x)): _*))).cast("long").as("x3"),
      expr("CAST(length(text) div 16 AS BIGINT)").as("x4"),
      when(size(array_distinct(tk)) * 10 >= size(tk) * 6 && size(tk) >= 20, 1L)
        .otherwise(-1L).as("y"))
      .localCheckpoint()
    var w = f.sparkSession.range(1).select(
      lit(0L).as("w0"), lit(0L).as("w1"), lit(0L).as("w2"),
      lit(0L).as("w3"), lit(0L).as("w4"))
    var rounds = Vector.empty[org.apache.spark.sql.DataFrame]
    for (k <- 1 to 5) {
      val g = f.crossJoin(broadcast(w))
        .withColumn("m",
          (col("w0") + col("w1") * col("x1") + col("w2") * col("x2")
            + col("w3") * col("x3") + col("w4") * col("x4")) * col("y"))
        .filter(col("m") <= 0)
        .agg(count(lit(1)).cast("long").as("nmis"),
          coalesce(sum(col("y")), lit(0L)).cast("long").as("g0"),
          coalesce(sum(col("y") * col("x1")), lit(0L)).cast("long").as("g1"),
          coalesce(sum(col("y") * col("x2")), lit(0L)).cast("long").as("g2"),
          coalesce(sum(col("y") * col("x3")), lit(0L)).cast("long").as("g3"),
          coalesce(sum(col("y") * col("x4")), lit(0L)).cast("long").as("g4"))
      w = w.crossJoin(broadcast(g))
        .select((col("w0") + col("g0")).as("w0"), (col("w1") + col("g1")).as("w1"),
          (col("w2") + col("g2")).as("w2"), (col("w3") + col("g3")).as("w3"),
          (col("w4") + col("g4")).as("w4"), col("nmis"))
        .localCheckpoint()
      rounds = rounds :+ w.select(lit(k).as("round"), col("w0"), col("w1"),
        col("w2"), col("w3"), col("w4"), col("nmis"))
      w = w.drop("nmis")
    }
    rounds.reduce(_ union _).orderBy(col("round"))
  }

  /** Maximum-inner-product search (MIPS) via the norm-augmentation
    * reduction (Bachrach et al., RecSys'14; Neyshabur & Srebro,
    * ICML'15): append `sqrt(M² − ‖c‖²)` to every corpus vector
    * (M = max corpus norm) and `0` to every query. All augmented
    * corpus vectors then share norm M — the corpus sits on a sphere —
    * so dot-product, cosine and L2 orderings coincide and any of the
    * s02-s10 cosine/L2 ANN index FAMILIES can serve inner-product
    * retrieval (the retrieval mode recommendation/reranking pipelines
    * need, where vectors are deliberately NOT normalized). Caveat:
    * those indexes as BUILT here are EmbDim=64 artifacts — seeded
    * planes, IVF centroids, s09's 16×4 PQ subspace split — and the
    * dot kernels fold over the shorter operand, so a 65-dim augmented
    * corpus needs the planes/centroids/codebooks rebuilt at dim 65
    * (65 also doesn't split into 16 even PQ subspaces; regroup or pad
    * to 80) before they prune augmented candidates correctly.
    *
    * The oracle verifies the reduction's core identity rather than
    * re-deriving the transform: `⟨[q,0],[c,s]⟩ = ⟨q,c⟩` holds
    * BIT-EXACTLY in IEEE arithmetic (the appended pair contributes
    * `0.0·s = +0.0`, and `acc + 0.0` preserves `acc` under
    * round-to-nearest since the in-order fold seeded at +0.0 never
    * produces −0.0), so the genuinely-augmented Spark scoring must
    * hash-match DuckDB's plain brute-force inner product.
    *
    * Scale shape: M² is one scalar max-aggregate (map-side combine,
    * 8 bytes to the driver); queries are broadcast; the corpus pass
    * is a single scan with per-row augmentation — no shuffle until
    * the per-query top-k window, whose input is |q|·n score rows,
    * same as s01. At 100 TB the augmentation is a per-row kernel
    * fused into the scan, and the sphere property means the
    * bucketed/coarse-quantized indexes (s02/s03/s09) take over the
    * candidate-pruning role unchanged.
    */
  val s15MipsTopk = Q(
    "s15_mips_topk",
    s"""WITH scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         ${sqlDot("q.embedding", "c.embedding")} AS ip
       |  FROM embeddings q JOIN embeddings c
       |    ON q.vec_id < 8 AND c.vec_id <> q.vec_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id, ip,
       |         row_number() OVER (PARTITION BY query_id ORDER BY ip DESC, neighbor_id) AS k
       |  FROM scored
       |)
       |SELECT query_id, neighbor_id, ip, k FROM ranked
       |WHERE k <= 4
       |ORDER BY query_id, k""".stripMargin
  ) { (s, d) =>
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val m2Row = e.agg(max(dot(col("embedding"), col("embedding")))).first()
    val m2 = if (m2Row.isNullAt(0)) 0.0 else m2Row.getDouble(0)
    // sqrt argument is ≥ 0 by construction (m2 is the max of the SAME
    // deterministic kernel over the same rows); greatest() guards the
    // exact-max row against any future kernel change, not fp noise.
    val corpus = e.select(col("vec_id"),
      concat(col("embedding"), array(
        sqrt(greatest(lit(m2) - dot(col("embedding"), col("embedding")), lit(0.0)))
          .cast("float"))).as("aug"))
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"),
        concat(col("embedding"), array(lit(0.0f))).as("q_aug"))
    val scored = corpus.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id").as("query_id"), col("vec_id").as("neighbor_id"),
        dot(col("q_aug"), col("aug")).as("ip"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("ip").desc, col("neighbor_id"))
    scored.withColumn("k", row_number().over(w))
      .filter(col("k") <= 4)
      .orderBy(col("query_id"), col("k"))
  }

  /** MaxSim late-interaction retrieval (Khattab & Zaharia, SIGIR'20 —
    * the ColBERT scoring rule): documents are MULTI-VECTOR (one
    * embedding per token), and relevance is
    * `S(q,d) = Σ_{i∈q} max_{j∈d} ⟨q_i, d_j⟩` — each query token
    * finds its best-matching document token, then the per-token
    * maxima sum. This is the retrieval mode between the single-vector
    * tier (s01-s11: one dot per pair) and full cross-attention; it
    * catches partial/term-level matches a pooled vector averages
    * away. Here consecutive runs of 8 corpus vectors form each
    * multi-vector doc (`vec_id div 8`), the first two docs are the
    * queries, and candidates score brute-force (the s01 exactness
    * baseline; production prunes candidates per query TOKEN with any
    * of s02-s10, then MaxSim-scores the shortlist).
    *
    * Exactness: each token-token dot is the ordered FloatVecDot fold
    * (bit-identical both engines), `max` over doubles is exact and
    * order-independent, and the per-query-token maxima sum in
    * q_tok-sorted order — Spark `aggregate(sort_array(collect_list))`
    * ≡ DuckDB `list_reduce(list(... ORDER BY q_tok))`, s12's
    * aggregation discipline — so every score hash-matches.
    *
    * Scale shape: queries are tiny and broadcast; the corpus-linear
    * term is ONE scan computing |q| dots per corpus vector map-side;
    * the two-phase max/sum aggregates shuffle only (q_tok × doc)
    * keys. No corpus-side self-join anywhere.
    */
  val s16MaxsimTopk = Q(
    "s16_maxsim_topk",
    s"""WITH t AS (
       |  SELECT vec_id // 8 AS mdoc, vec_id % 8 AS tok, embedding FROM embeddings
       |), q AS (
       |  SELECT mdoc AS q_mdoc, tok AS q_tok, embedding AS q_emb FROM t WHERE mdoc < 2
       |), dots AS (
       |  SELECT q.q_mdoc, q.q_tok, t.mdoc AS cand_id,
       |         ${sqlDot("q.q_emb", "t.embedding")} AS dp
       |  FROM q JOIN t ON t.mdoc <> q.q_mdoc
       |), mx AS (
       |  SELECT q_mdoc, q_tok, cand_id, max(dp) AS maxdot
       |  FROM dots GROUP BY q_mdoc, q_tok, cand_id
       |), scored AS (
       |  SELECT q_mdoc AS query_id, cand_id, count(*) AS n_qtok,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list(maxdot ORDER BY q_tok)), (acc, x) -> acc + x) AS score
       |  FROM mx GROUP BY q_mdoc, cand_id
       |), ranked AS (
       |  SELECT query_id, cand_id, n_qtok, score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id) AS k
       |  FROM scored
       |)
       |SELECT query_id, cand_id, n_qtok, score, k FROM ranked
       |WHERE k <= 5 ORDER BY query_id, k""".stripMargin
  ) { (s, d) =>
    val t = Tables.embeddings(s, d)
      .select(expr("vec_id div 8").as("mdoc"), expr("vec_id % 8").as("tok"),
        col("embedding"))
    val q = t.filter(col("mdoc") < 2)
      .select(col("mdoc").as("q_mdoc"), col("tok").as("q_tok"),
        col("embedding").as("q_emb"))
    val dots = t.join(broadcast(q), col("mdoc") =!= col("q_mdoc"))
      .select(col("q_mdoc"), col("q_tok"), col("mdoc").as("cand_id"),
        dot(col("q_emb"), col("embedding")).as("dp"))
    val mx = dots.groupBy(col("q_mdoc"), col("q_tok"), col("cand_id"))
      .agg(max(col("dp")).as("maxdot"))
    val scored = mx.groupBy(col("q_mdoc").as("query_id"), col("cand_id"))
      .agg(count(lit(1)).as("n_qtok"),
        aggregate(
          sort_array(collect_list(struct(col("q_tok"), col("maxdot")))),
          lit(0.0), (acc, x) => acc + x.getField("maxdot")).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("cand_id"))
    scored.withColumn("k", row_number().over(w))
      .filter(col("k") <= 5)
      .orderBy(col("query_id"), col("k"))
  }

  /** Binary (1-bit) quantization with Hamming shortlist + exact
    * re-rank — the third and smallest rung of the quantization
    * ladder (s07/s08 int8 = 4×, s09/s10 PQ = 32×, this = 256×: one
    * SIGN BIT per dimension, 64 dims = one BIGINT per vector), the
    * tier modern vector stores ship as "binary quantization": scan
    * cost is one `popcount(xor)` per candidate — the cheapest
    * distance computable — and recall is bought back by re-ranking a
    * Hamming-top-32 shortlist with exact cosine (s10's refine
    * pattern). Sign-of-component is the 1-bit case of s07's absmax
    * rule; for sign codes, Hamming distance is exactly the s02 LSH
    * disagreement count at 64 planes = identity planes.
    *
    * Exactness: the code is an integer bit-fold (OR of distinct
    * powers — order-independent) split into two 32-bit halves so no
    * engine ever shifts into a BIGINT's sign bit (DuckDB raises on
    * `1 << 63`); Hamming is the sum of the two `bit_count(xor)`
    * halves, and the re-rank cosine is the ordered FloatVecDot
    * fold — every column hash-matches.
    *
    * Scale shape: queries broadcast; the corpus-linear term scans
    * 8-byte codes (not 256-byte floats); only the 32-per-query
    * shortlist touches full vectors. Window top-k per query, no
    * corpus self-join.
    */
  val s17BinaryQuantize = Q(
    "s17_binary_quantize",
    { def code(off: Int) = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(range(0, 32), i -> CASE WHEN embedding[i + ${off + 1}] > 0 " +
        "THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)), (a, b) -> a | b)"
      s"""WITH e AS (
         |  SELECT vec_id, embedding, ${sqlNorm("embedding")} AS nrm,
         |         ${code(0)} AS code_lo, ${code(32)} AS code_hi
         |  FROM embeddings
         |), q AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm,
         |         code_lo AS q_lo, code_hi AS q_hi
         |  FROM e WHERE vec_id < 8
         |), ham AS (
         |  SELECT q.q_id AS query_id, c.vec_id AS neighbor_id,
         |         CAST(bit_count(xor(q.q_lo, c.code_lo))
         |            + bit_count(xor(q.q_hi, c.code_hi)) AS BIGINT) AS hamming,
         |         q.q_emb, q.q_nrm, c.embedding AS c_emb, c.nrm AS c_nrm,
         |         row_number() OVER (PARTITION BY q.q_id
         |           ORDER BY bit_count(xor(q.q_lo, c.code_lo))
         |                  + bit_count(xor(q.q_hi, c.code_hi)), c.vec_id) AS hk
         |  FROM q JOIN e c ON c.vec_id <> q.q_id
         |), rr AS (
         |  SELECT query_id, neighbor_id, hamming,
         |         CASE WHEN q_nrm * c_nrm = 0 THEN 0.0
         |              ELSE ${sqlDot("q_emb", "c_emb")} / (q_nrm * c_nrm) END AS cos_sim
         |  FROM ham WHERE hk <= 32
         |), ranked AS (
         |  SELECT query_id, neighbor_id, hamming, cos_sim,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY cos_sim DESC, neighbor_id) AS k
         |  FROM rr
         |)
         |SELECT query_id, neighbor_id, hamming, cos_sim, k FROM ranked
         |WHERE k <= 5 ORDER BY query_id, k""".stripMargin }
  ) { (s, d) =>
    def codeExpr(off: Int) = expr(s"aggregate(sequence(0, 31), 0L, (acc, i) -> " +
      s"acc | CASE WHEN element_at(embedding, i + ${off + 1}) > 0 " +
      "THEN shiftleft(1L, i) ELSE 0L END)")
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"),
        codeExpr(0).as("code_lo"), codeExpr(32).as("code_hi"))
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("code_lo").as("q_lo"), col("code_hi").as("q_hi"))
    val ham = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id").as("query_id"), col("vec_id").as("neighbor_id"),
        (bit_count(col("q_lo").bitwiseXOR(col("code_lo")))
          + bit_count(col("q_hi").bitwiseXOR(col("code_hi")))).cast("long").as("hamming"),
        col("q_emb"), col("q_nrm"), col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
    val hw = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming"), col("neighbor_id"))
    val rr = ham.withColumn("hk", row_number().over(hw))
      .filter(col("hk") <= 32)
      .select(col("query_id"), col("neighbor_id"), col("hamming"),
        when(col("q_nrm") * col("c_nrm") === 0, 0.0)
          .otherwise(dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")))
          .as("cos_sim"))
    val kw = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    rr.withColumn("k", row_number().over(kw))
      .filter(col("k") <= 5)
      .orderBy(col("query_id"), col("k"))
  }

  /** The five unrolled MMR selection steps of the s18 oracle: step 1
    * ranks by relevance alone (empty-selection penalty = 0); each
    * later step computes every remaining candidate's penalty as the
    * max pairwise cosine to the selected set, scores
    * 0.7·rel − 0.3·penalty, and takes the arg-max (ties by cid).
    */
  private def mmrOracleSteps: String = (2 to 5).map { i =>
    s"""pen$i AS (
       |  SELECT p.query_id, p.ca AS cid, max(p.psim) AS pen
       |  FROM pair p JOIN sel${i - 1} s ON s.query_id = p.query_id AND s.cid = p.cb
       |  GROUP BY p.query_id, p.ca
       |), s$i AS (
       |  SELECT query_id, cid, rel, score, $i AS r FROM (
       |    SELECT c.query_id, c.cid, c.rel, 0.7 * c.rel - 0.3 * n.pen AS score,
       |           row_number() OVER (PARTITION BY c.query_id
       |             ORDER BY 0.7 * c.rel - 0.3 * n.pen DESC, c.cid) AS rn
       |    FROM cand c JOIN pen$i n ON n.query_id = c.query_id AND n.cid = c.cid
       |    WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} s
       |                      WHERE s.query_id = c.query_id AND s.cid = c.cid)
       |  ) WHERE rn = 1
       |), sel$i AS (SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM s$i)""".stripMargin
  }.mkString(", ")

  /** MMR (Maximal Marginal Relevance, Carbonell & Goldstein SIGIR
    * 1998) diversity re-ranking — the context-selection step a
    * retrieval pipeline runs AFTER ANN shortlisting, so the k items
    * handed to a model are relevant AND mutually non-redundant
    * (near-dup passages crowd out coverage otherwise; this is the
    * retrieval-side mirror of the d-tier's corpus dedup). Greedy:
    * pick arg-max 0.7·cos(q,d) − 0.3·max_{s∈sel} cos(d,s), k=5 from
    * the top-12 cosine candidates per query.
    *
    * Scale shape: the corpus is scanned ONCE to build the per-query
    * top-N shortlist (s01's broadcast-query scan + window); the
    * candidate frame (queries × 12 rows) is then eagerly
    * localCheckpoint-ed (d13's pattern) so the five selection steps
    * iterate over a query-bounded frame — per-step joins are all
    * keyed by query_id and the pairwise-sim table is N² per query,
    * never corpus-sized. Both engines run the same five unrolled
    * arg-max steps with the same tie-break, so scores and picks are
    * bit-identical.
    */
  val s18MmrRerank = Q(
    "s18_mmr_rerank",
    s"""WITH e AS (
       |  SELECT vec_id, embedding, ${sqlNorm("embedding")} AS nrm FROM embeddings
       |), cand0 AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS cid, c.embedding AS cemb,
       |         c.nrm AS cnrm,
       |         CASE WHEN q.nrm * c.nrm = 0 THEN 0.0
       |              ELSE ${sqlDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) END AS rel
       |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
       |), cand AS (
       |  SELECT query_id, cid, cemb, cnrm, rel FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY rel DESC, cid) AS rn FROM cand0) WHERE rn <= 12
       |), pair AS (
       |  SELECT a.query_id, a.cid AS ca, b.cid AS cb,
       |         CASE WHEN a.cnrm * b.cnrm = 0 THEN 0.0
       |              ELSE ${sqlDot("a.cemb", "b.cemb")} / (a.cnrm * b.cnrm) END AS psim
       |  FROM cand a JOIN cand b ON a.query_id = b.query_id AND a.cid <> b.cid
       |), s1 AS (
       |  SELECT query_id, cid, rel, score, 1 AS r FROM (
       |    SELECT query_id, cid, rel, 0.7 * rel AS score,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY 0.7 * rel DESC, cid) AS rn FROM cand) WHERE rn = 1
       |), sel1 AS (SELECT * FROM s1), $mmrOracleSteps
       |SELECT query_id, r, cid AS neighbor_id, rel AS cos_sim, score AS mmr_score
       |FROM sel5 ORDER BY query_id, r""".stripMargin
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id").as("query_id"), col("vec_id").as("cid"),
        col("embedding").as("cemb"), col("nrm").as("cnrm"),
        when(col("q_nrm") * col("nrm") === 0, 0.0)
          .otherwise(dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
          .as("rel"))
    val wTop = Window.partitionBy(col("query_id")).orderBy(col("rel").desc, col("cid"))
    // ONE corpus scan ends here: the shortlist is queries × 12 rows,
    // checkpointed so the five iteration steps never re-scan the corpus.
    val cand = scored.withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= 12).drop("rn")
      .localCheckpoint(true)
    val a = cand.select(col("query_id"), col("cid").as("ca"),
      col("cemb").as("aemb"), col("cnrm").as("anrm"))
    val b = cand.select(col("query_id").as("qb"), col("cid").as("cb"),
      col("cemb").as("bemb"), col("cnrm").as("bnrm"))
    val pair = a.join(b, col("query_id") === col("qb") && col("ca") =!= col("cb"))
      .select(col("query_id"), col("ca"), col("cb"),
        when(col("anrm") * col("bnrm") === 0, 0.0)
          .otherwise(dot(col("aemb"), col("bemb")) / (col("anrm") * col("bnrm")))
          .as("psim"))
    val wPick = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("cid"))
    // SHUFFLE RIGHT-SIZING for the 4 selection rounds (the
    // convergedLabels/c13 pattern): every per-round frame is bounded
    // by the query-batch × 12 shortlist, and 32-partition shuffles on
    // it are pure scheduling; partitions derive from the measured
    // shortlist size. Argmax selection is deterministic under any
    // partitioning (score DESC, cid tie-break).
    val mmrParts = math.max(1, math.min(
      cand.sparkSession.sparkContext.defaultParallelism,
      math.ceil(cand.count() / 65536.0).toInt))
    graft.Tables.withShufflePartitions(cand.sparkSession, mmrParts) {
    val s1 = cand.select(col("query_id"), col("cid"), col("rel"),
        (lit(0.7) * col("rel")).as("score"))
      .withColumn("rn", row_number().over(wPick)).filter(col("rn") === 1)
      .drop("rn").withColumn("r", lit(1))
    val sel5 = (2 to 5).foldLeft(s1) { (sel, r) =>
      val pen = pair
        .join(sel.select(col("query_id").as("qs"), col("cid").as("scb")),
          col("query_id") === col("qs") && col("cb") === col("scb"))
        .groupBy(col("query_id"), col("ca").as("cid"))
        .agg(max(col("psim")).as("pen"))
      val remaining = cand.select("query_id", "cid", "rel")
        .join(sel.select("query_id", "cid"), Seq("query_id", "cid"), "left_anti")
      val picked = remaining.join(pen, Seq("query_id", "cid"))
        .select(col("query_id"), col("cid"), col("rel"),
          (lit(0.7) * col("rel") - lit(0.3) * col("pen")).as("score"))
        .withColumn("rn", row_number().over(wPick)).filter(col("rn") === 1)
        .drop("rn").withColumn("r", lit(r))
      // EAGER checkpoint per selection round (the propagation-loop
      // discipline): `sel` is referenced twice by the NEXT round (the
      // penalty join and the anti join), so without materialization
      // the plan doubles per round and rounds 1..r−1 re-execute
      // inside round r — measured as per-round jobs growing 0.18 →
      // 0.32 → 0.75 → 1.80 s plus ~6 s of driver re-analysis at
      // sf0.1. The frame is queries × r rows; the checkpoint is a
      // ≤50-row job.
      sel.unionByName(picked).localCheckpoint(true)
    }
    sel5.select(col("query_id"), col("r"), col("cid").as("neighbor_id"),
        col("rel").as("cos_sim"), col("score").as("mmr_score"))
      .orderBy(col("query_id"), col("r"))
    } // withShufflePartitions(mmrParts)
  }

  /** RECIPROCAL RANK FUSION (Cormack, Clarke & Büttcher SIGIR'09) —
    * the standard hybrid-retrieval combiner: the same five queries
    * (doc 0-4: their text drives s12's BM25 lexical leg, their
    * embedding drives s01's dense cosine leg) retrieve top-10 lists
    * from EACH retriever, and fusion scores every retrieved doc
    * Σ 1/(60 + rank) over the lists it appears in — rank-based, so
    * the two legs' incomparable score scales never matter, which is
    * exactly why production hybrid search ships RRF rather than
    * score interpolation.
    *
    * Scale shape: each leg keeps its own scale story (s01's
    * broadcast-query single corpus scan; s12's broadcast query-term
    * probe into the term-partitioned inverted index); fusion itself
    * is a full-outer equi-join of two (queries × 10)-row frames —
    * bounded by the query count, never corpus-sized. Both engines
    * fuse as coalesce(dense, 0) + coalesce(lex, 0) with the same
    * tie-break, so every fused score is bit-identical.
    */
  val s19RrfFusion = Q(
    "s19_rrf_fusion",
    s"""WITH tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
       |), tfc AS (
       |  SELECT doc_id, term, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(tk) AS term FROM tok) GROUP BY 1, 2
       |), dfc AS (
       |  SELECT term, count(*) AS df FROM tfc GROUP BY 1
       |), dl AS (
       |  SELECT doc_id, len(tk) AS dl FROM tok
       |), nn AS (
       |  SELECT count(*) AS n, CAST(sum(len(tk)) AS BIGINT) AS s FROM tok
       |), qt AS (
       |  SELECT doc_id AS qid, unnest(list_distinct(tk)) AS term
       |  FROM tok WHERE doc_id < 5
       |), cand AS (
       |  SELECT qt.qid, tfc.doc_id, tfc.term,
       |    ((length(bin(2 * nn.n - 2 * dfc.df + 1)) - 1)
       |      - (length(bin(2 * dfc.df + 1)) - 1))
       |    * ((tfc.tf * 2.2) / (tfc.tf + 1.2 * (0.25 + 0.75 * ((dl.dl * nn.n) / nn.s))))
       |      AS addend
       |  FROM qt JOIN tfc ON qt.term = tfc.term
       |  JOIN dfc ON tfc.term = dfc.term
       |  JOIN dl ON dl.doc_id = tfc.doc_id
       |  CROSS JOIN nn
       |  WHERE tfc.doc_id <> qt.qid
       |), lex_scored AS (
       |  SELECT qid, doc_id,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list(addend ORDER BY term)), (acc, x) -> acc + x) AS score
       |  FROM cand GROUP BY qid, doc_id
       |), lex AS (
       |  SELECT qid, doc_id, k AS lk FROM (
       |    SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
       |      ORDER BY score DESC, doc_id) AS k FROM lex_scored) WHERE k <= 10
       |), e AS (
       |  SELECT vec_id, embedding, ${sqlNorm("embedding")} AS nrm FROM embeddings
       |), den0 AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS doc_id,
       |         CASE WHEN q.nrm * c.nrm = 0 THEN 0.0
       |              ELSE ${sqlDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) END AS rel
       |  FROM e q JOIN e c ON q.vec_id < 5 AND c.vec_id <> q.vec_id
       |), den AS (
       |  SELECT qid, doc_id, k AS dk FROM (
       |    SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
       |      ORDER BY rel DESC, doc_id) AS k FROM den0) WHERE k <= 10
       |), fused AS (
       |  SELECT coalesce(d.qid, l.qid) AS query_id,
       |         coalesce(d.doc_id, l.doc_id) AS doc_id,
       |         coalesce(1.0 / (60 + d.dk), 0.0)
       |           + coalesce(1.0 / (60 + l.lk), 0.0) AS rrf_score,
       |         coalesce(d.dk, 0) AS dense_rank, coalesce(l.lk, 0) AS lex_rank
       |  FROM den d FULL JOIN lex l ON d.qid = l.qid AND d.doc_id = l.doc_id
       |)
       |SELECT query_id, rk, doc_id, rrf_score, dense_rank, lex_rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY rrf_score DESC, doc_id) AS rk FROM fused)
       |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin
  ) { (s, d) =>
    // Lexical leg: s12's BM25 pipeline, top-10 per query.
    val docs = Tables.documents(s, d)
    // spread: tokenize + explode (~600 terms/doc) and the per-doc
    // length projection are per-row CPU pinned to the single-row-group
    // scan task (Tables.spread, guide §2.5); count/sum aggregates are
    // order-free, so results are unchanged
    val sdocs = Tables.spread(docs.select(col("doc_id"), col("text")))
    // cache the (doc, term, tf) index — same-query reuse as s12: the
    // df-count branch and the probe join otherwise each re-run the
    // tokenize→explode→groupBy subtree (r15 verdict item 6)
    val tfc = sdocs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .cache()
    val dfc = tfc.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val dl = sdocs.select(col("doc_id"), size(tokens(col("text"))).as("dl"))
    val nn = sdocs.agg(count(lit(1)).as("n"),
      sum(size(tokens(col("text")))).cast("long").as("s"))
    val qt = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"),
        explode(array_distinct(tokens(col("text")))).as("term"))
    val candLex = broadcast(qt).join(tfc, Seq("term"))
      .join(dfc, Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(nn))
      .filter(col("doc_id") =!= col("qid"))
      .select(col("qid"), col("doc_id"), col("term"),
        (((length(bin(lit(2) * col("n") - lit(2) * col("df") + 1)) - 1)
          - (length(bin(lit(2) * col("df") + 1)) - 1))
          * expr("(tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * ((dl * n) / s)))"))
          .as("addend"))
    val lexScored = candLex.groupBy(col("qid"), col("doc_id"))
      .agg(aggregate(
        sort_array(collect_list(struct(col("term"), col("addend")))),
        lit(0.0), (acc, x) => acc + x.getField("addend")).as("score"))
    val wLex = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("doc_id"))
    val lex = lexScored.withColumn("lk", row_number().over(wLex))
      .filter(col("lk") <= 10).select("qid", "doc_id", "lk")
    // Dense leg: s01's broadcast-query corpus scan, top-10 per query.
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val den0 = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("doc_id"),
        when(col("q_nrm") * col("nrm") === 0, 0.0)
          .otherwise(dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
          .as("rel"))
    val wDen = Window.partitionBy(col("qid")).orderBy(col("rel").desc, col("doc_id"))
    val den = den0.withColumn("dk", row_number().over(wDen))
      .filter(col("dk") <= 10).select("qid", "doc_id", "dk")
    // Fusion: full-outer join of two (queries × 10)-row lists.
    val fused = den.join(lex, Seq("qid", "doc_id"), "full")
      .select(col("qid").as("query_id"), col("doc_id"),
        (coalesce(lit(1.0) / (lit(60) + col("dk")), lit(0.0))
          + coalesce(lit(1.0) / (lit(60) + col("lk")), lit(0.0))).as("rrf_score"),
        coalesce(col("dk"), lit(0)).as("dense_rank"),
        coalesce(col("lk"), lit(0)).as("lex_rank"))
    val wF = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
    fused.withColumn("rk", row_number().over(wF))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("rk"), col("doc_id"), col("rrf_score"),
        col("dense_rank"), col("lex_rank"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** INT4 (4-bit) scalar quantization with NIBBLE PACKING — the 8×
    * member completing the compression ladder (s07 int8 = 4×, THIS =
    * 8×, s09 PQ = 32×, s17 binary = 256×): per-vector symmetric
    * quantization to codes in [−7, 7] (s07's floor(x·7/amax + 0.5)
    * rule at 4-bit range), then two codes packed per byte as
    * (hi+8)·16 + (lo+8) — the 64-dim vector becomes 32 bytes, the
    * ACTUAL storage artifact an 8×-compressed store ships, pinned
    * byte-for-byte via `neighbor_packed_md5`. The top-5 cosine search
    * runs over vectors UNPACKED FROM THE PACKED BYTES (b div 16 − 8,
    * b mod 16 − 8, × amax/7), so the pack→unpack identity sits inside
    * the scored path: a nibble-order slip or bias error shifts every
    * score and fails the hash. All pack/unpack arithmetic is integer,
    * dequantization one shared scale multiply, scoring the ordered
    * dot fold — bit-identical across engines (the s07/s08 oracle
    * discipline at half the width). Same scale shape as s01/s08:
    * broadcast query side, ONE corpus-linear scan, per-query top-k
    * window. Int4QuantSpec asserts recall@5 vs the exact s01 ranking.
    */
  val s20Int4Pack = Q(
    "s20_int4_pack",
    s"""WITH base AS (
       |  SELECT vec_id, embedding,
       |         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
       |  FROM embeddings
       |), q4 AS (
       |  SELECT vec_id, amax,
       |         CASE WHEN amax = 0
       |              THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
       |              ELSE list_transform(embedding,
       |                x -> CAST(floor(CAST(x AS DOUBLE) * 7.0 / amax + 0.5) AS BIGINT))
       |         END AS codes
       |  FROM base
       |), pk AS (
       |  SELECT vec_id,
       |         CASE WHEN amax = 0 THEN 0.0 ELSE amax / 7.0 END AS scale,
       |         list_transform(generate_series(0, 31),
       |           i -> (codes[2 * i + 1] + 8) * 16 + (codes[2 * i + 2] + 8)) AS packed
       |  FROM q4
       |), e AS (
       |  SELECT vec_id,
       |         md5(array_to_string(packed, ',')) AS packed_md5,
       |         flatten(list_transform(packed, b ->
       |           [CAST(b // 16 - 8 AS DOUBLE) * scale,
       |            CAST(b % 16 - 8 AS DOUBLE) * scale])) AS xq
       |  FROM pk
       |), n AS (
       |  SELECT vec_id, packed_md5, xq, ${sqlNorm("xq")} AS nrm FROM e
       |), scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         c.packed_md5 AS neighbor_packed_md5,
       |         CASE WHEN q.nrm * c.nrm = 0 THEN 0.0
       |              ELSE ${sqlDot("q.xq", "c.xq")} / (q.nrm * c.nrm) END AS cos_sim
       |  FROM n q JOIN n c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id, neighbor_packed_md5, cos_sim,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY cos_sim DESC, neighbor_id) AS k
       |  FROM scored
       |)
       |SELECT query_id, k, neighbor_id, cos_sim, neighbor_packed_md5 FROM ranked
       |WHERE k <= 5
       |ORDER BY query_id, k""".stripMargin
  ) { (s, d) =>
    import graft.functions.DoubleVecDot
    val base = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        array_max(transform(col("embedding"), x => abs(x.cast("double")))).as("amax"))
    val q4 = base.select(col("vec_id"), col("amax"),
      when(col("amax") === 0, transform(col("embedding"), _ => lit(0L)))
        .otherwise(transform(col("embedding"),
          x => floor(x.cast("double") * 7.0 / col("amax") + 0.5).cast("long")))
        .as("codes"))
    val pk = q4.select(col("vec_id"),
      when(col("amax") === 0, 0.0).otherwise(col("amax") / 7.0).as("scale"),
      expr("transform(sequence(0, 31), i -> " +
        "(element_at(codes, 2 * i + 1) + 8) * 16 + (element_at(codes, 2 * i + 2) + 8))")
        .as("packed"))
    val e = pk.select(col("vec_id"),
      md5(concat_ws(",", transform(col("packed"), v => v.cast("string"))))
        .as("packed_md5"),
      expr("flatten(transform(packed, b -> " +
        "array(CAST(b DIV 16 - 8 AS DOUBLE) * scale, CAST(b % 16 - 8 AS DOUBLE) * scale)))")
        .as("xq"))
    val n = e.select(col("vec_id"), col("packed_md5"), col("xq"),
      sqrt(DoubleVecDot(col("xq"), col("xq"))).as("nrm"))
    val q = n.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("xq").as("q_xq"), col("nrm").as("q_nrm"))
    val scored = n.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id").as("query_id"), col("vec_id").as("neighbor_id"),
        col("packed_md5").as("neighbor_packed_md5"),
        when(col("q_nrm") * col("nrm") === 0, 0.0)
          .otherwise(DoubleVecDot(col("q_xq"), col("xq")) / (col("q_nrm") * col("nrm")))
          .as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("k", row_number().over(w))
      .filter(col("k") <= 5)
      .select(col("query_id"), col("k"), col("neighbor_id"), col("cos_sim"),
        col("neighbor_packed_md5"))
      .orderBy(col("query_id"), col("k"))
  }

  /** FILTERED ANN with predicate-aware ADAPTIVE probing — the
    * metadata-constrained vector search every retrieval stack needs
    * ("nearest neighbors WHERE label = X") and the known failure mode
    * of fixed-nprobe IVF under it: with a selective predicate, the
    * query's top cell may hold fewer than k PASSING vectors, and a
    * fixed probe count silently returns a starved result (the
    * filtered-search problem Qdrant/Vespa/Milvus all special-case).
    * The deterministic fix here: per query, cells are ordered by
    * centroid alignment (s06's probe order) and the probe depth is
    * the SMALLEST prefix whose cumulative count of predicate-passing
    * vectors — from a (cell, label) histogram — reaches k + 1
    * (self-match headroom), falling back to all 8 cells when the
    * label is rarer than that everywhere. Candidates then pay the
    * exact cosine only inside the chosen cells AND the label filter.
    *
    * Scale shape: the (cell, label) histogram is one tiny two-key
    * partial agg (8 × |labels| rows); probe planning runs entirely on
    * query-side frames (queries × 8 rows) and broadcasts; the corpus
    * pays ONE cell-pruned, label-filtered scan — exactly the fraction
    * of the data the predicate requires, never a fixed 1/8.
    */
  val s21FilteredAnn = Q(
    "s21_filtered_ann",
    { val unpiv = (0 until 8).map(j =>
        s"SELECT vec_id, embedding, nrm, $j AS pcell, d$j AS pd FROM ctr WHERE vec_id < 10")
        .mkString("\n  UNION ALL ")
      s"""WITH $sqlCtrCells, lab AS (
         |  SELECT c.vec_id, c.embedding, c.nrm, c.cell, e.label
         |  FROM cells c JOIN embeddings e ON c.vec_id = e.vec_id
         |), cellcnt AS (
         |  SELECT cell, label AS clabel, count(*) AS n FROM lab GROUP BY cell, label
         |), qd AS (
         |  $unpiv
         |), qorder AS (
         |  SELECT q.vec_id, q.embedding, q.nrm, e.label, q.pcell,
         |         row_number() OVER (PARTITION BY q.vec_id ORDER BY q.pd DESC, q.pcell) AS probe
         |  FROM qd q JOIN embeddings e ON q.vec_id = e.vec_id
         |), budget AS (
         |  SELECT o.vec_id, o.probe,
         |         sum(coalesce(cc.n, 0)) OVER (PARTITION BY o.vec_id ORDER BY o.probe
         |                                      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM qorder o LEFT JOIN cellcnt cc ON cc.cell = o.pcell AND cc.clabel = o.label
         |), depth AS (
         |  SELECT vec_id, coalesce(min(CASE WHEN cum >= 4 THEN probe END), 8) AS n_probe
         |  FROM budget GROUP BY vec_id
         |), probes AS (
         |  SELECT o.vec_id, o.embedding, o.nrm, o.label, o.pcell, dp.n_probe
         |  FROM qorder o JOIN depth dp ON o.vec_id = dp.vec_id AND o.probe <= dp.n_probe
         |), scored AS (
         |  SELECT q.vec_id AS query_id, q.label AS q_label,
         |         CAST(q.n_probe AS BIGINT) AS n_probe,
         |         c.vec_id AS neighbor_id,
         |         CASE WHEN q.nrm * c.nrm = 0 THEN 0.0
         |              ELSE ${sqlDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) END AS cos_sim
         |  FROM probes q JOIN lab c
         |    ON c.cell = q.pcell AND c.label = q.label AND c.vec_id <> q.vec_id
         |), ranked AS (
         |  SELECT query_id, q_label, n_probe, neighbor_id, cos_sim,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS k
         |  FROM scored
         |)
         |SELECT query_id, q_label, n_probe, neighbor_id, cos_sim, k FROM ranked
         |WHERE k <= 3
         |ORDER BY query_id, k""".stripMargin }
  ) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val withDots = emb.select(col("vec_id") +: col("embedding") +: col("label") +:
        norm(col("embedding")).as("nrm") +:
        (0 until 8).map(j =>
          dot(col("embedding"), seededPlaneCol(CentroidSeedBase + j)).as(s"d$j")): _*)
      .cache() // assignment subtree feeds the corpus cells AND the query probes
    val cells = withDots.select(col("vec_id"), col("embedding"), col("label"),
      col("nrm"), cellExpr.as("cell"))
    val cellcnt = cells.groupBy(col("cell"), col("label").as("clabel"))
      .agg(count(lit(1)).as("n"))
    val wq = Window.partitionBy(col("vec_id")).orderBy(col("pd").desc, col("pcell"))
    val qorder = withDots.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"), col("label"), col("nrm"),
        posexplode(array((0 until 8).map(j => col(s"d$j")): _*)).as(Seq("pcell", "pd")))
      .withColumn("probe", row_number().over(wq))
    val wcum = Window.partitionBy(col("vec_id")).orderBy(col("probe"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val depth = qorder
      .join(cellcnt, col("pcell") === col("cell") && col("label") === col("clabel"), "left")
      .withColumn("cum", sum(coalesce(col("n"), lit(0L))).over(wcum))
      .groupBy(col("vec_id"))
      .agg(coalesce(min(when(col("cum") >= 4, col("probe"))), lit(8)).as("n_probe"))
    val probes = qorder.join(depth, Seq("vec_id")).filter(col("probe") <= col("n_probe"))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("label").as("q_label"),
        col("pcell"), col("n_probe"))
    val scored = cells.join(broadcast(probes),
        col("cell") === col("pcell") && col("label") === col("q_label")
          && col("vec_id") =!= col("q_id"))
      .select(col("q_id").as("query_id"), col("q_label"),
        col("n_probe").cast("long").as("n_probe"),
        col("vec_id").as("neighbor_id"),
        when(col("q_nrm") * col("nrm") === 0, 0.0)
          .otherwise(dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
          .as("cos_sim"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("k", row_number().over(w))
      .filter(col("k") <= 3)
      .select(col("query_id"), col("q_label"), col("n_probe"), col("neighbor_id"),
        col("cos_sim"), col("k"))
      .orderBy(col("query_id"), col("k"))
  }

  /** CORPUS kNN GRAPH + mutual-kNN edges — the corpus→corpus
    * construction (every vector is a query) where s01-s21 are
    * query→corpus searches: the kNN graph is the substrate of
    * graph-based dedup/clustering (d07's label propagation runs over
    * exactly such an edge set), kNN-graph-based ANN indexes
    * (HNSW/NN-Descent build from it), and SemDeDup-style curation at
    * corpus granularity. Candidates come from s03's IVF cells — each
    * vector's top-3 by exact cosine among its OWN cell's members —
    * and each directed edge carries the MUTUAL flag (reverse edge
    * also in the graph): mutual-kNN is the classic noise-robust
    * subgraph clustering keeps.
    *
    * Scale shape: the within-cell self-join is the honest big-big
    * form — BOTH sides corpus-sized, so no broadcast: ONE cell-keyed
    * shuffle co-partitions them and the per-cell quadratic is bounded
    * by the occupancy knob, which since round 11 is DERIVED INSIDE
    * THE QUERY: cells = max(8, ceil(n / 256)) from a corpus count
    * ([[AnnKmeans.derivedK]] / [[AnnKmeans.sqlDerivedK]] — the same
    * count in both spellings), over s04's trained k-means cells.
    * Since round 12 the k-means TRAINING under that derived knob is
    * sample-bounded (vec_id < min(64·k, 65536) in both spellings —
    * [[AnnKmeans.trainBound]]): full-corpus Lloyd at k ∝ n was an
    * O(n²/256) indexing term; the sample cap makes training linear
    * and leaves one full-corpus n·k assignment pass. The
    * registered spelling IS the scale-safe configuration — no human
    * sets k ([[knnGraphParam]] remains for fixed-knob decade
    * pairings, ScaleProbe's s22_wide_k64/k256). The candidate pairs are
    * consumed by q57's MERGEABLE top-k aggregator IN THE JOIN'S OWN
    * STAGE — a row_number window here would shuffle and sort the
    * full within-cell pair set (occupancy × n rows — the d11 lesson
    * says that is the term that kills the decade), while
    * TopKByValue keeps ≤3 (cos, dst) pairs per src per partition, so
    * only edge-sized data ever crosses a shuffle. Downstream is all
    * edge-sized (3n rows): the posexplode and one edges⋈edges
    * equi-join for the mutual flag. KnnGraphSpec pins mutual
    * symmetry, cell containment, per-vector completeness, and the
    * no-Window/ObjectHashAggregate plan.
    */
  val s22KnnGraph = Q(
    "s22_knn_graph",
    { s"""WITH ${AnnKmeans.sqlFinCtesK(AnnKmeans.sqlDerivedK)}, scored AS (
         |  SELECT a.vec_id AS src_id, b.vec_id AS dst_id, a.cell,
         |         CASE WHEN a.nrm * b.nrm = 0 THEN 0.0
         |              ELSE ${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) END AS cos_sim
         |  FROM fin a JOIN fin b ON a.cell = b.cell AND b.vec_id <> a.vec_id
         |), edges AS (
         |  SELECT src_id, dst_id, cell, cos_sim,
         |         row_number() OVER (PARTITION BY src_id ORDER BY cos_sim DESC, dst_id) AS k
         |  FROM scored
         |  QUALIFY k <= 3
         |)
         |SELECT e.src_id, e.dst_id, e.cell, e.cos_sim, e.k,
         |       CASE WHEN r.src_id IS NOT NULL THEN 1 ELSE 0 END AS mutual
         |FROM edges e LEFT JOIN edges r ON e.src_id = r.dst_id AND e.dst_id = r.src_id
         |ORDER BY e.src_id, e.k""".stripMargin }
  ) { (s, d) =>
    // pass the CACHED frame itself — a column-reordering select would
    // defeat knnGraphFrom's unpersist (CacheManager's non-cascade
    // sameResult match needs the exact cached plan; review r11)
    knnGraphFrom(AnnKmeans.trainedFinParam(s, d, AnnKmeans.derivedK(s, d)))
  }

  /** s22's graph construction over any (vec_id, embedding, nrm, cell)
    * assignment frame — shared by the registered query (s03's 8
    * seeded cells) and [[knnGraphParam]] (trained cells at k ∝ n).
    */
  private def knnGraphFrom(cells: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val scored = knnScored(cells)
    // the edge set feeds both sides of the mutual join — the eager
    // checkpoint cuts the self-join recompute (and is why the spec's
    // plan pin inspects [[knnEdges]], whose aggregate this
    // materializes away)
    val edges = knnEdges(scored).localCheckpoint()
    // the checkpoint just materialized everything downstream of the
    // cell assignment — release the caller's cache so a library
    // caller doesn't depend on Verify's between-query clearCache
    cells.unpersist(blocking = false)
    val rev = edges.select(col("src_id").as("r_src"), col("dst_id").as("r_dst"))
    edges.join(rev, col("src_id") === col("r_dst") && col("dst_id") === col("r_src"), "left")
      .select(col("src_id"), col("dst_id"), col("cell"), col("cos_sim"), col("k"),
        when(col("r_src").isNotNull, 1).otherwise(0).as("mutual"))
      .orderBy(col("src_id"), col("k"))
  }

  /** The within-cell candidate self-join with exact cosine — one
    * cell-keyed shuffle co-partitioning the corpus against itself.
    */
  private def knnScored(cells: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val a = cells.select(col("vec_id").as("src_id"), col("embedding").as("a_emb"),
      col("nrm").as("a_nrm"), col("cell"))
    val b = cells.select(col("vec_id").as("dst_id"), col("embedding").as("b_emb"),
      col("nrm").as("b_nrm"), col("cell").as("b_cell"))
    a.join(b, col("cell") === col("b_cell") && col("dst_id") =!= col("src_id"))
      .select(col("src_id"), col("dst_id"), col("cell"),
        when(col("a_nrm") * col("b_nrm") === 0, 0.0)
          .otherwise(dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")))
          .as("cos_sim"))
  }

  /** q57's mergeable-summary plan over the scored candidate pairs:
    * partial top-3 per src INSIDE the join stage, ≤3 (cos, dst)
    * pairs per src per partition across the shuffle — never the full
    * within-cell pair set (tie-break (cos DESC, dst ASC) = the
    * oracle window's; q57 proved the two plans row-identical).
    * KnnGraphSpec pins this plan (ObjectHashAggregate, no Window).
    */
  private[graft] def knnEdges(scored: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val topk = udaf(graft.functions.TopKByValue(3))
    scored
      .groupBy(col("src_id"), col("cell"))
      .agg(topk(col("cos_sim"), col("dst_id")).as("top"))
      .select(col("src_id"), col("cell"), posexplode(col("top")).as(Seq("k0", "p")))
      .select(col("src_id"), col("p._2").as("dst_id"), col("cell"),
        col("p._1").as("cos_sim"), (col("k0") + 1).cast("int").as("k"))
  }

  /** The scored within-cell candidate pairs of the REGISTERED s22
    * (trained cells at the derived knob) — the spec's plan-pin entry
    * point. CALLER CONTRACT: the trained assignment underneath is
    * cached and this probe cannot release it (unlike the registered
    * s22/s23, which unpersist after their checkpoint) — probe/spec
    * callers must `spark.catalog.clearCache()` when done, or the
    * cached copy lives until JVM exit (round-11 advice).
    */
  private[graft] def knnScoredProbe(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    knnScored(AnnKmeans.trainedFinParam(s, d, AnnKmeans.derivedK(s, d)))

  /** s22 at the PRODUCTION knob — trained k-means cells
    * ([[AnnKmeans.trainedFinParam]], the d11/s04 machinery with the
    * k-independent ArgmaxDot assignment) at k ∝ corpus size, keeping
    * per-cell occupancy (and so pairs-per-vector) constant across
    * decades: the total candidate count is occupancy × n — LINEAR in
    * the corpus. Probe-only (ScaleProbe s22_wide_k64 at sf1,
    * s22_wide_k256 at sf10), like d11's wide twins: the oracle
    * corpus is too small for wide cells to rank nontrivially.
    */
  private[graft] def knnGraphParam(s: org.apache.spark.sql.SparkSession,
      d: String, k: Int): org.apache.spark.sql.DataFrame =
    knnGraphFrom(AnnKmeans.trainedFinParam(s, d, k))

  /** The number of unrolled greedy steps s23 runs — a CAP, not a
    * truncation: the walk's cosine strictly increases on every move,
    * so it reaches its local optimum in at most (path length) steps
    * and the Spark side `require`s a fixpoint by step [[GraphAnnSteps]]
    * (a non-converged walk fails loudly instead of returning a
    * plausible mid-walk node). Within-cell top-3 graphs at the
    * derived ~256 occupancy converge in a handful of steps.
    */
  private val GraphAnnSteps = 12

  /** GRAPH-BASED ANN SEARCH — the HNSW/NSW-family search primitive
    * run over the REGISTERED s22 graph (trained cells at the derived
    * knob, q57-aggregated top-3 out-edges): each query enters its own
    * IVF cell at the cell's minimum-id member (the coarse-quantizer +
    * graph-refinement hybrid production vector stores run — IVF picks
    * the region, the graph walk climbs it) and greedily moves to its
    * best-scoring out-neighbor while that strictly improves the
    * query-cosine, stopping at the local optimum. Every step is
    * deterministic (strict improvement + (cos DESC, dst ASC)
    * tie-break; strict increase also makes cycles impossible), so the
    * DuckDB oracle replays the IDENTICAL walk as an unrolled CTE
    * chain over the same edge set and the hash gate pins entry
    * choice, every hop, and the stopping rule bit-exactly.
    *
    * Scale shape: the adjacency is edge-sized (3n rows, built once by
    * s22's mergeable-aggregate plan and localCheckpoint-ed); each of
    * the ≤[[GraphAnnSteps]] steps joins it against the BROADCAST
    * query-frontier (query-batch-sized, never corpus-sized), so a
    * step costs one adjacency scan and zero shuffles of corpus data —
    * the Spark spelling of graph-ANN's O(degree × hops) per query,
    * amortized over the query batch. (A serving deployment keeps the
    * same adjacency in a point-lookup store; the WALK and its
    * verification are what this query pins.) The walk state is
    * re-checkpointed every few steps so the unrolled lineage stays
    * flat (the s18 discipline).
    */
  val s23GraphAnn = Q(
    "s23_graph_ann",
    { val cos = (q: String, e: String, qn: String, en: String) =>
        s"CASE WHEN $qn * $en = 0 THEN 0.0 ELSE ${sqlDot(q, e)} / ($qn * $en) END"
      val steps = (1 to GraphAnnSteps).map { i =>
        s"""w$i AS (
           |  SELECT query_id, q_emb, q_nrm, cell, entry_id,
           |    CASE WHEN cand IS NOT NULL AND cand > sc THEN dst_id ELSE node END AS node,
           |    CASE WHEN cand IS NOT NULL AND cand > sc THEN cand ELSE sc END AS sc,
           |    CASE WHEN cand IS NOT NULL AND cand > sc THEN moves + 1 ELSE moves END AS moves
           |  FROM (
           |    SELECT w.query_id, w.q_emb, w.q_nrm, w.cell, w.entry_id, w.node, w.sc,
           |           w.moves, a.dst_id,
           |           ${cos("w.q_emb", "a.dst_emb", "w.q_nrm", "a.dst_nrm")} AS cand
           |    FROM w${i - 1} w LEFT JOIN adj a ON a.src_id = w.node
           |  ) QUALIFY row_number() OVER (PARTITION BY query_id
           |              ORDER BY cand DESC NULLS LAST, dst_id) = 1
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${AnnKmeans.sqlFinCtesK(AnnKmeans.sqlDerivedK)}, scored AS (
         |  SELECT a.vec_id AS src_id, b.vec_id AS dst_id,
         |         ${cos("a.embedding", "b.embedding", "a.nrm", "b.nrm")} AS cos_sim
         |  FROM fin a JOIN fin b ON a.cell = b.cell AND b.vec_id <> a.vec_id
         |), edges AS (
         |  SELECT src_id, dst_id,
         |         row_number() OVER (PARTITION BY src_id ORDER BY cos_sim DESC, dst_id) AS k
         |  FROM scored
         |  QUALIFY k <= 3
         |), adj AS MATERIALIZED (
         |  SELECT e.src_id, e.dst_id, f.embedding AS dst_emb, f.nrm AS dst_nrm
         |  FROM edges e JOIN fin f ON f.vec_id = e.dst_id
         |), qs AS (
         |  SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm, cell
         |  FROM fin WHERE vec_id >= 10 AND vec_id < 20
         |), ent AS (
         |  SELECT cell, min(vec_id) AS entry_id FROM fin GROUP BY cell
         |), w0 AS (
         |  SELECT q.query_id, q.q_emb, q.q_nrm, q.cell, ent.entry_id,
         |         ent.entry_id AS node,
         |         ${cos("q.q_emb", "f.embedding", "q.q_nrm", "f.nrm")} AS sc,
         |         0 AS moves
         |  FROM qs q JOIN ent ON ent.cell = q.cell
         |  JOIN fin f ON f.vec_id = ent.entry_id
         |),
         |$steps
         |SELECT query_id, cell, CAST(entry_id AS BIGINT) AS entry_id,
         |  CAST(node AS BIGINT) AS best_id, sc AS cos_sim,
         |  CAST(moves AS BIGINT) AS n_moves
         |FROM w$GraphAnnSteps ORDER BY query_id""".stripMargin }
  ) { (s, d) =>
    // no reordering select: fin IS the cached plan, so the unpersist
    // below genuinely releases it (review r11 — a projection defeats
    // CacheManager's sameResult match)
    val fin = AnnKmeans.trainedFinParam(s, d, AnnKmeans.derivedK(s, d))
    val adj = knnEdges(knnScored(fin)).select(col("src_id"), col("dst_id"))
      .join(fin.select(col("vec_id").as("dst_id"), col("embedding").as("dst_emb"),
        col("nrm").as("dst_nrm")), Seq("dst_id"))
      .select(col("src_id"), col("dst_id"), col("dst_emb"), col("dst_nrm"))
      .localCheckpoint()
    // queries 10..19: vec_id < 10 overlaps the k-means seeds, which
    // are their own cells' min-id ENTRY points — every walk would
    // start at cos 1.0 and move zero steps (vacuous)
    val queries = fin.filter(col("vec_id") >= 10 && col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("cell"))
    val entries = fin.groupBy(col("cell")).agg(min(col("vec_id")).as("entry_id"))
      .join(fin.select(col("vec_id").as("entry_id"), col("embedding").as("e_emb"),
        col("nrm").as("e_nrm")), Seq("entry_id"))
    def cosOf(qe: org.apache.spark.sql.Column, qn: org.apache.spark.sql.Column,
        e: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
      when(qn * n === 0, 0.0).otherwise(dot(qe, e) / (qn * n))
    // SHUFFLE RIGHT-SIZING for the 12-step walk (the convergedLabels/
    // c13 pattern): every per-step frame is query-batch- or
    // edge-sized, and 32-partition shuffles on them are pure
    // scheduling; partitions derive from the measured adjacency size.
    // The walk is deterministic under any partitioning (strict
    // improvement + total-order tie-break).
    val nAdj = adj.count()
    val walkParts = math.max(1, math.min(s.sparkContext.defaultParallelism,
      math.ceil(nAdj / 65536.0).toInt))
    graft.Tables.withShufflePartitions(s, walkParts) {
    var st = queries.join(entries, Seq("cell"))
      .select(col("query_id"), col("q_emb"), col("q_nrm"), col("cell"),
        col("entry_id"), col("entry_id").as("node"),
        cosOf(col("q_emb"), col("q_nrm"), col("e_emb"), col("e_nrm")).as("sc"),
        lit(0L).as("moves"))
      .localCheckpoint() // everything upstream of the walk materialized
    fin.unpersist(blocking = false)
    def step(state: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      // inner join against the BROADCAST frontier scores each current
      // node's ≤3 out-edges; the best candidate per query then
      // left-joins back onto the (query-sized) state, so a node with
      // no out-edges keeps its state — the small side is never the
      // preserved side of an outer join against corpus data
      val frontier = state.select(col("query_id").as("f_qid"), col("q_emb").as("f_qe"),
        col("q_nrm").as("f_qn"), col("node").as("f_node"))
      val best = adj.join(broadcast(frontier), col("src_id") === col("f_node"))
        .withColumn("cand", cosOf(col("f_qe"), col("f_qn"), col("dst_emb"), col("dst_nrm")))
        .withColumn("rn", row_number().over(Window.partitionBy(col("f_qid"))
          .orderBy(col("cand").desc_nulls_last, col("dst_id"))))
        .filter(col("rn") === 1)
        .select(col("f_qid").as("query_id"), col("dst_id"), col("cand"))
      val improving = col("cand").isNotNull && col("cand") > col("sc")
      state.join(best, Seq("query_id"), "left")
        .select(col("query_id"), col("q_emb"), col("q_nrm"), col("cell"),
          col("entry_id"),
          when(improving, col("dst_id")).otherwise(col("node")).as("node"),
          when(improving, col("cand")).otherwise(col("sc")).as("sc"),
          when(improving, col("moves") + 1L).otherwise(col("moves")).as("moves"))
    }
    for (i <- 1 to GraphAnnSteps) {
      // checkpoint EVERY step (r15 optimization): `step` references
      // its input twice (frontier broadcast + the state join), so an
      // un-checkpointed step re-executes everything since the last
      // checkpoint on BOTH paths — 2^k duplication between the old
      // every-4-steps barriers (the convergedLabels eager-checkpoint
      // rationale). The frame is query-batch-sized (10 rows); one
      // materialization per step is noise next to the duplication.
      st = step(st).localCheckpoint()
    }
    // fixpoint gate: one more probe step must move nobody — a walk
    // still improving past the cap fails loudly, never returns a
    // plausible mid-walk node (the d07 convergence discipline; the
    // frame is query-batch-sized, so this collect is model-sized)
    val probe = step(st)
    val moved = probe.join(st.select(col("query_id"), col("moves").as("m0")), Seq("query_id"))
      .filter(col("moves") > col("m0")).count()
    require(moved == 0, s"s23: $moved walks still improving after $GraphAnnSteps steps")
    st.select(col("query_id"), col("cell"), col("entry_id").cast("long").as("entry_id"),
      col("node").cast("long").as("best_id"), col("sc").as("cos_sim"),
      col("moves").cast("long").as("n_moves"))
      .orderBy(col("query_id"))
    } // withShufflePartitions(walkParts)
  }

  def all: Seq[Q] = Seq(s01CosineTopk, s02AnnLsh, s03AnnIvf, s05KnnClassify,
    s06AnnMultiprobe, s07QuantizeInt8, s08DequantTopk, s09AnnPq, s10AnnIvfPq,
    s11NcmClassify, s12Bm25Retrieval, s13RandomProjection, s14PerceptronTrain,
    s15MipsTopk, s16MaxsimTopk, s17BinaryQuantize, s18MmrRerank, s19RrfFusion,
    s20Int4Pack, s21FilteredAnn, s22KnnGraph, s23GraphAnn)
}
