package graft.operators

import graft.{Artifact, Q, Tables}
import graft.functions.TextVec._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The end-to-end corpus-curation pipeline, as ONE declarative query:
  * quality-filter → exact-dedup (canonical keeper) → deterministic
  * split assignment (c01), extended with the near-dup collapse stage
  * (c02) — the real production order for a training corpus. Each
  * stage is an operator the inventory already verifies in isolation
  * (t03's quality formula, d01's min-id keeper, d03's banded LSH
  * pairs, d07's label propagation, p03's hash bands), chained the
  * way a training-data pipeline actually runs them. Catalyst fuses
  * the quality projection and filter into the scan; exact dedup is
  * the one content-hash shuffle; the near-dup stage adds only banded
  * equi-joins (never a cartesian); split assignment is per-row again.
  *
  * Stage order is part of the contract: dedup runs AMONG
  * quality-passing docs (filter-then-dedup), so a low-quality copy
  * can't shadow a passing duplicate; near-dup collapse runs AMONG
  * exact keepers, so its candidate space is already linear in
  * distinct content.
  */
object Curation {

  /** t03's quality score (paired spellings, identical IEEE ops). */
  private val sqlToks = "string_split(text, ' ')"
  private val sqlQuality = {
    val stop = s"len(list_filter($sqlToks, t -> t IN ('the', 'a', 'of', 'to', 'and')))"
    s"""0.4 * least(CAST(len($sqlToks) AS DOUBLE) / 40.0, 1.0)
       |    + 0.4 * (CAST(len(list_distinct($sqlToks)) AS DOUBLE) / len($sqlToks))
       |    + 0.2 * (CAST($stop AS DOUBLE) / len($sqlToks))""".stripMargin
  }
  // the one-pass QualityScore kernel: bit-identical to the lambda
  // spelling above (which stays as the DuckDB oracle), ~4× cheaper —
  // the lambda form re-split the text per HOF reference once
  // CollapseProject inlined it, 5.5 s of c02's 8 s at sf0.1
  private[operators] def sparkQuality: Column =
    graft.functions.QualityScore(tokens(col("text")))

  /** p03's deterministic 90/5/5 split (md5-keyed: reproducible under
    * any partitioning, unlike rand()/TABLESAMPLE).
    */
  private def sqlSplit(idExpr: String) =
    s"""CASE WHEN substr(md5(CAST($idExpr AS VARCHAR)), 1, 4) < 'e666' THEN 'train'
       |            WHEN substr(md5(CAST($idExpr AS VARCHAR)), 1, 4) < 'f333' THEN 'val'
       |            ELSE 'test' END""".stripMargin
  private def sparkSplit: Column = {
    val key = substring(md5(col("doc_id").cast("string")), 1, 4)
    when(key < "e666", "train").when(key < "f333", "val").otherwise("test")
  }

  val c01Curate = Q(
    "c01_curate",
    s"""WITH q AS (
       |  SELECT doc_id, lang, md5(text) AS content_hash,
       |         $sqlQuality AS quality
       |  FROM documents
       |), keepers AS (
       |  SELECT doc_id, lang, quality,
       |         row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rn
       |  FROM q WHERE quality >= 0.5
       |)
       |SELECT doc_id, lang,
       |       ${sqlSplit("doc_id")} AS split,
       |       quality
       |FROM keepers WHERE rn = 1
       |ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    val w = Window.partitionBy(col("content_hash")).orderBy(col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), md5(col("text")).as("content_hash"),
        sparkQuality.as("quality"))
      .filter(col("quality") >= 0.5)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), sparkSplit.as("split"), col("quality"))
      .orderBy(col("doc_id"))
  }

  /** Round budget for c02's near-dup component collapse. The text
    * near-dup graph (Jaccard ≥ 0.9 over token sets, after exact
    * keepers collapse) has much shorter chains than d07's embedding
    * graph, but the 10× scale probe found 4 rounds (reach ~2^4) one
    * hop short on the sf1 corpus; 12 rounds give reach ≫ any observed
    * chain — margin that is FREE since propagateLabels exits at the
    * fixpoint — and the runtime convergence probe fails loudly if a
    * corpus ever exhausts it.
    */
  val C02Rounds = 12

  /** Shared DuckDB CTE chain for the near-dup curation pipeline —
    * quality filter → exact keeper → MinHash-LSH near-dup component
    * keeper — ending in `kept(doc_id, lang, quality)`. c02 appends
    * the split projection; c04 inserts the decontamination stage
    * first.
    */
  private def sqlNearDupKeptCtes: String =
    s"""q AS (
         |  SELECT doc_id, lang, text, $sqlQuality AS quality FROM documents
         |), keepers AS (
         |  SELECT doc_id, lang, quality, text FROM (
         |    SELECT doc_id, lang, quality, text,
         |           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |    FROM q WHERE quality >= 0.5
         |  ) WHERE rn = 1
         |), ${sqlNearDupComponentCtes(Seq("lang", "quality"))}""".stripMargin

  /** The near-dup component-keeper CTE chain (identical-set collapse
    * → MinHash bands → verified Jaccard ≥ 0.9 edges → label
    * propagation → min-id component keeper), parameterized by the
    * columns carried through — expects a prior CTE
    * `keepers(doc_id, carry…, text)` and ends in
    * `kept(doc_id, carry…)`. Shared by the c02/c04/c07 quality
    * pipeline (carry = lang, quality) and c24's crawl pipeline
    * (carry = source, text).
    */
  private def sqlNearDupComponentCtes(carry: Seq[String]): String = {
    val cs = carry.mkString(", ")
    val dcs = carry.map("d." + _).mkString(", ")
    val kcs = carry.map("k." + _).mkString(", ")
    val ts = "list_sort(list_distinct(string_split(text, ' ')))"
    val mhs = (0 until 8).map(i => s"${sqlMinhash(i, "ts")} AS mh$i").mkString(",\n    ")
    val bandsSql = (0 until 2).map(i =>
      s"SELECT rep_id, ts, $i AS band, md5(mh${4 * i} || mh${4 * i + 1} || mh${4 * i + 2} || mh${4 * i + 3}) AS h FROM sig")
      .mkString("\n  UNION ALL ")
    val rounds = (1 to C02Rounds).map(i =>
      s"m$i AS MATERIALIZED (SELECT g.src AS node_id, min(l.label) AS label " +
        s"FROM g JOIN l${i - 1} l ON g.dst = l.node_id GROUP BY g.src),\n  " +
        s"l$i AS (SELECT a.node_id, b.label FROM m$i a JOIN m$i b ON a.label = b.node_id)")
      .mkString(",\n  ")
    s"""ksets AS (
         |  SELECT doc_id, $cs, $ts AS ts FROM keepers
         |), sets AS MATERIALIZED (
         |  SELECT md5(array_to_string(ts, ' ')) AS set_hash, min(doc_id) AS rep_id,
         |         any_value(ts) AS ts
         |  FROM ksets
         |  GROUP BY md5(array_to_string(ts, ' '))
         |), doc_reps AS (
         |  SELECT k.doc_id, $kcs, s.rep_id
         |  FROM (SELECT doc_id, $cs, md5(array_to_string(ts, ' ')) AS set_hash
         |        FROM ksets) k
         |  JOIN sets s ON k.set_hash = s.set_hash
         |), sig AS (
         |  SELECT rep_id, ts, $mhs FROM sets
         |), bands AS (
         |  $bandsSql
         |), edges AS MATERIALIZED (
         |  SELECT DISTINCT a.rep_id AS e_src, b.rep_id AS e_dst
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.h = b.h AND a.rep_id < b.rep_id
         |  WHERE len(a.ts) * 10 >= len(b.ts) * 9 AND len(b.ts) * 10 >= len(a.ts) * 9
         |    AND ${sqlJaccard("a.ts", "b.ts")} >= 0.9
         |), sym AS (
         |  SELECT e_src AS src, e_dst AS dst FROM edges
         |  UNION ALL
         |  SELECT e_dst AS src, e_src AS dst FROM edges
         |), nodes AS (
         |  SELECT DISTINCT src FROM sym
         |), g AS MATERIALIZED (
         |  SELECT src, dst FROM sym
         |  UNION ALL
         |  SELECT src, src AS dst FROM nodes
         |), l0 AS (
         |  SELECT src AS node_id, src AS label FROM nodes
         |),
         |  $rounds,
         |labels AS (
         |  SELECT node_id AS rep_id, label FROM l$C02Rounds
         |), kept AS (
         |  SELECT d.doc_id, $dcs
         |  FROM doc_reps d LEFT JOIN labels l ON d.rep_id = l.rep_id
         |  WHERE d.doc_id = coalesce(l.label, d.rep_id)
         |)""".stripMargin
  }

  /** Quality-scored docs (`doc_id, lang, text, content_hash,
    * quality`), already filtered to quality ≥ 0.5 — the pipeline's
    * first stage, shared by [[nearDupKept]] and the c07 funnel.
    */
  private def qualityDocs(s: SparkSession, d: String): DataFrame =
    // spread (r16, guide §2.5): the quality kernel + per-doc md5 ran
    // on the single-row-group scan's one task before the exact-dedup
    // window — the kernel probe put stage-1 (this projection + the
    // window) at 1.7 s of the 3.9 s kept-manifest build. Conditional
    // no-op at any real multi-split scale; quality/md5 are per-row,
    // so results are partitioning-free.
    graft.Tables.spread(Tables.documents(s, d))
      .select(col("doc_id"), col("lang"), col("text"),
        md5(col("text")).as("content_hash"), sparkQuality.as("quality"))
      .filter(col("quality") >= 0.5)

  /** Exact-dedup keepers (min-doc_id per content hash) over
    * [[qualityDocs]] — the pipeline's second stage.
    */
  private def exactKeepers(quality: DataFrame): DataFrame = {
    val wExact = Window.partitionBy(col("content_hash")).orderBy(col("doc_id"))
    quality
      .withColumn("rn", row_number().over(wExact))
      .filter(col("rn") === 1)
  }

  /** Spark side of [[sqlNearDupKeptCtes]]: the kept docs
    * `(doc_id, lang, quality)` after quality filter → exact-dedup
    * keeper → near-dup component keeper. `probeName` labels the
    * runtime convergence probe's failure message.
    *
    * The manifest is a [[graft.Artifact]] (round-14 verdict item 5):
    * five family queries (c02/c04/c05/c06/c07) consume this exact
    * frame, and each used to rebuild the whole
    * signature→band→label-propagation kernel from scratch — a real
    * pipeline computes the kept manifest ONCE per corpus snapshot and
    * every downstream stage reads it. Min-id keepers and converged
    * component minima are unique, so the manifest is deterministic.
    */
  private val keptManifest = Artifact[String]("neardup_kept")
  private[graft] val keptKernelBuildSec = keptManifest.buildNanos
  private def nearDupKept(s: SparkSession, d: String,
      probeName: String): DataFrame = {
    val path = keptManifest.memo(d, "documents") {
      val out = StreamReplay.tempReplayDir("c02kept").resolve("kept").toString
      nearDupKeptFrom(exactKeepers(qualityDocs(s, d)), probeName)
        .write.mode("overwrite").parquet(out)
      out
    }
    s.read.schema("doc_id BIGINT, lang STRING, quality DOUBLE").parquet(path)
  }

  /** Near-dup collapse applied to an already-built exact-keeper frame
    * (round-4 advice: c07 caches quality/keepers for its funnel
    * counts, so the collapse must accept them instead of silently
    * rebuilding the first two stages from scratch).
    */
  private def nearDupKeptFrom(keepers: DataFrame,
      probeName: String): DataFrame =
    nearDupComponentFrom(keepers, Seq("lang", "quality"), probeName)

  /** Spark side of [[sqlNearDupComponentCtes]]: the component-keeper
    * collapse over an exact-keeper frame `(doc_id, carry…, text)`,
    * returning `(doc_id, carry…)` — one row per connected component
    * of the verified Jaccard ≥ 0.9 graph, keeper = min doc_id.
    *
    * Round-13 shape (the family's ~6 s shared constant, cut): the
    * MinHash signatures live as extra columns on the `sets` frame
    * (one cache + one materialization instead of the old sets/sig
    * pair), and the keeper test inverts: instead of joining every doc
    * to its rep (the old doc_reps set_hash join) and filtering
    * doc_id = keeper(rep), it derives the KEPT-ID SET — for each
    * distinct token set, coalesce(component label, rep_id); every
    * such keeper id IS a doc_id (rep_id = min doc_id of its group,
    * label = min rep_id of its component), and a doc survives iff its
    * doc_id is in that set (its own group's keeper is then itself:
    * labels are converged component minima). One tiny distinct + a
    * semi-join on doc_id replaces two wide joins over the doc list.
    */
  private def nearDupComponentFrom(keepers: DataFrame, carry: Seq[String],
      probeName: String): DataFrame = {
    // spreadHeavy: the tokenize+sort+md5 projection below is the
    // kernel's dominant per-row CPU (~19M digest ops at sf0.1) and
    // ran on the exact-dedup window's AQE-coalesced single task
    // (guide §2.5; the unconditional variant because keepers sits
    // downstream of the window exchange — see spreadHeavy's Scaladoc)
    val ksets = graft.Tables.spreadHeavy(keepers)
      .select(col("doc_id") +: carry.map(col) :+
        array_sort(tokenSet(col("text"))).as("ts"): _*)
      .withColumn("set_hash", md5(concat_ws(" ", col("ts"))))
      .cache() // upstream-stage work feeds BOTH sets and the semi-join
    val sigs8 = graft.functions.MinHashSigs(col("ts"), 8)
    // spreadHeavy before the signature projection: 8 minhash passes
    // over every distinct token set are the next-dominant CPU and the
    // set_hash groupBy's output is AQE-coalesced to ~one task
    val sets = graft.Tables.spreadHeavy(ksets.groupBy(col("set_hash"))
        .agg(min(col("doc_id")).as("rep_id"), first(col("ts")).as("ts")))
      .select(col("rep_id") +: col("ts") +:
        (0 until 8).map(i => element_at(sigs8, i + 1).as(s"mh$i")): _*)
      .cache() // keeper-id derivation AND both band-join sides
    val bandArr = array((0 until 2).map(i =>
      md5(concat(col(s"mh${4 * i}"), col(s"mh${4 * i + 1}"),
        col(s"mh${4 * i + 2}"), col(s"mh${4 * i + 3}")))): _*)
    // Length-bucketed band join (round-13 skew fix): short documents
    // share 4-minhash band values easily — the sf0.1 corpus has a
    // 1,387-set bucket putting ~10⁶ candidate pairs (of 2.0M total)
    // on ONE join key/task. A verified pair must also pass the 0.9
    // length-ratio prefilter, so adding floor(log_{10/9}(|ts|)) to
    // the join key — with one side fanned to its {B−1, B, B+1}
    // neighborhood, which covers every ratio-passing pair exactly
    // once per band — shatters those buckets by length at a constant
    // 3× fan-out on one (tiny) side. Candidates become a superset of
    // ratio-passing same-band pairs; the unchanged post-join filters
    // keep the verified edge set bit-identical to the oracle's.
    // The double-precision bucket is safe at the 10/9 boundary for
    // every |ts| ≤ 2^26 (NearDupBucketSpec proves it exhaustively);
    // the guard fails loudly on a set past that bound (a single
    // document with 67M DISTINCT tokens) instead of risking a
    // dropped candidate.
    def lenBucket(ts: Column): Column = {
      // greatest(n, 1): log(·, 0) is NULL (not an error) under Spark,
      // so an EMPTY token set would silently drop out of the band
      // join instead of failing the fail-loud guard below. Empty sets
      // collapse to one rep and so can never form a pair anyway, but
      // bucket them explicitly at 0 rather than rely on that — the
      // guard's intent is no silent row loss.
      val n = greatest(size(ts), lit(1))
      when(n <= lit(1 << 26),
        floor(log(10.0 / 9.0, n.cast("double"))).cast("int"))
        .otherwise(raise_error(concat(
          lit("near-dup length bucket out of proven range: |ts|="),
          n.cast("string"))).cast("int"))
    }
    val bands = sets.select(col("rep_id"), col("ts"),
      posexplode(bandArr).as(Seq("band", "h")))
      .withColumn("lb", lenBucket(col("ts")))
    val bandsFanned = bands
      .withColumn("lb", explode(array(col("lb") - 1, col("lb"), col("lb") + 1)))
    val edges = bands.alias("a")
      .join(bandsFanned.alias("b"),
        col("a.band") === col("b.band") && col("a.h") === col("b.h")
          && col("a.lb") === col("b.lb")
          && col("a.rep_id") < col("b.rep_id"))
      .filter(size(col("a.ts")) * 10 >= size(col("b.ts")) * 9
        && size(col("b.ts")) * 10 >= size(col("a.ts")) * 9)
      .select(col("a.rep_id").as("id_a"), col("b.rep_id").as("id_b"),
        graft.functions.SortedArrayJaccard(col("a.ts"), col("b.ts")).as("jaccard"))
      .filter(col("jaccard") >= 0.9)
      .select(col("id_a"), col("id_b"))
      .distinct()
      .cache() // referenced 3× by the propagation graph
    val labels = Dedup.convergedLabels(edges, C02Rounds, probeName)
    val keptIds = sets.select(col("rep_id")).alias("s")
      .join(labels.alias("l"), col("s.rep_id") === col("l.vec_id"), "left")
      .select(coalesce(col("l.label"), col("s.rep_id")).as("doc_id"))
      .distinct()
    ksets.join(keptIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id") +: carry.map(col): _*)
  }

  /** c01 + the near-dup collapse stage: quality-filter → exact-dedup
    * keeper → MinHash-LSH near-dup *cluster* keeper (one doc per
    * connected component of the Jaccard ≥ 0.9 graph, d03's banded
    * candidate generation + d07's label propagation) → deterministic
    * split. A near-identical copy (trailing whitespace, one token
    * changed) survives c01's exact dedup but is collapsed here.
    *
    * Scale shape: identical token sets collapse first (groupBy), so
    * the band join runs over distinct sets; candidates come from a
    * banded equi-join verified inline; the component collapse is
    * O(rounds) equi-joins on the (tiny) edge set; the final keeper
    * test is a broadcast-sized left join back to the doc list. No
    * cartesian anywhere (pinned in PlanSpec).
    */
  val c02CurateNearDup = Q(
    "c02_curate_neardup",
    s"""WITH $sqlNearDupKeptCtes
       |SELECT doc_id, lang, ${sqlSplit("doc_id")} AS split, quality
       |FROM kept
       |ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    nearDupKept(s, d, "c02_curate_neardup")
      .select(col("doc_id"), col("lang"), sparkSplit.as("split"), col("quality"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB CTEs appended after [[sqlNearDupKeptCtes]] for the
    * decontamination stage, ending in `clean(doc_id, lang, quality)`
    * — the kept set minus the benchmark sample and every doc sharing
    * a verbatim 8-gram with it. c04 appends the split projection;
    * c05 inserts the mixture rebalance first.
    */
  private def sqlDecontamCleanCtes: String =
    s"""kept_grams AS (
       |  SELECT k.doc_id, unnest(${sqlGrams8("string_split(dd.text, ' ')")}) AS gram
       |  FROM kept k JOIN documents dd ON k.doc_id = dd.doc_id
       |), bench_grams AS MATERIALIZED (
       |  SELECT DISTINCT unnest(${sqlGrams8("string_split(text, ' ')")}) AS gram
       |  FROM documents
       |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '0ccd'
       |), contaminated AS (
       |  SELECT DISTINCT kg.doc_id
       |  FROM kept_grams kg JOIN bench_grams b ON kg.gram = b.gram
       |), clean AS (
       |  SELECT doc_id, lang, quality
       |  FROM kept
       |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) >= '0ccd'
       |    AND doc_id NOT IN (SELECT doc_id FROM contaminated)
       |)""".stripMargin

  /** Spark side of [[sqlDecontamCleanCtes]]: [[nearDupKept]] minus
    * the benchmark sample and its 8-gram contamination set.
    */
  private def decontamKept(s: SparkSession, d: String,
      probeName: String): DataFrame =
    // localCheckpoint (EAGER), not cache: the decontam/mixture stages
    // downstream contain broadcast exchanges, and broadcast jobs run
    // on their own threads — with a lazy cache they race the main job
    // into rebuilding this whole chain before the cache fills (the
    // round-4 bench showed c05 at 22.4 s vs c04's 8.8 s from exactly
    // this). Eager materialization here makes every later branch read
    // the checkpointed blocks.
    decontamFrom(s, d, nearDupKept(s, d, probeName).localCheckpoint())

  /** Decontamination stage applied to an already-materialized kept
    * set (callers cache `kept`; c07 reuses its frame for the funnel
    * counts instead of rebuilding the whole near-dup chain).
    */
  private def decontamFrom(s: SparkSession, d: String,
      kept: DataFrame): DataFrame = {
    val docs = Tables.documents(s, d)
    val isBench = substring(md5(col("doc_id").cast("string")), 1, 4) < "0ccd"
    // NOT spread (r16 honest negative): an A/B of spread(benchGrams) +
    // spreadHeavy(keptGrams) read c04 0.75→1.15, c05 1.20→1.38 — the
    // two gram projections are too small at this corpus for the extra
    // exchanges' stage overhead to amortize (the m31/m32 lesson).
    // Reverted; the family's r16 gains come from the early-exit
    // jaccard kernel inside the shared near-dup build instead.
    val benchGrams = docs.filter(isBench)
      .select(explode(grams8(tokens(col("text")))).as("gram"))
      .distinct()
    val keptGrams = kept.select(col("doc_id"))
      .join(docs.select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"), explode(grams8(tokens(col("text")))).as("gram"))
    val contaminated = keptGrams
      .join(broadcast(benchGrams), "gram")
      .select(col("doc_id")).distinct()
    kept.filter(!isBench)
      .join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** c02 + the DECONTAMINATION stage: after the near-dup component
    * keeper, drop (a) the benchmark docs themselves (p01's
    * deterministic 5% md5 sample, standing in for the held-out eval
    * set — eval data never trains) and (b) any kept doc sharing a
    * verbatim 8-gram with a benchmark doc (t10's overlap test).
    * Quality-filter → exact-dedup → near-dup collapse → decontam →
    * split: the full pre-training curation order.
    *
    * Scale shape: adds to c02 only per-row gram projections and one
    * BROADCAST join against the (small-by-definition) benchmark gram
    * set — the corpus stream never shuffles for the contamination
    * test, and the keeper set anti-joins a contaminated-id set that
    * is at most benchmark-sized per gram bucket.
    */
  val c04CurateDecontam = Q(
    "c04_curate_decontam",
    s"""WITH $sqlNearDupKeptCtes,
       |$sqlDecontamCleanCtes
       |SELECT doc_id, lang, ${sqlSplit("doc_id")} AS split, quality
       |FROM clean
       |ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    decontamKept(s, d, "c04_curate_decontam")
      .select(col("doc_id"), col("lang"), sparkSplit.as("split"), col("quality"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB CTEs appended after the decontam chain for the mixture
    * stage, ending in `manifest(doc_id, lang, source, split,
    * quality)`. c05 emits it; c06 packs its train split.
    */
  private def sqlMixtureManifestCtes: String =
    s"""srcd AS (
       |  SELECT c.doc_id, c.lang, c.quality, dd.source
       |  FROM clean c JOIN documents dd ON c.doc_id = dd.doc_id
       |), src AS (
       |  SELECT source,
       |         CAST(TRY_CAST(substr(source, 4) AS INTEGER) % 4 + 1 AS BIGINT) AS weight,
       |         count(*) AS n_total
       |  FROM srcd
       |  WHERE TRY_CAST(substr(source, 4) AS INTEGER) IS NOT NULL
       |  GROUP BY 1, 2
       |), tot AS (SELECT CAST(sum(weight) AS BIGINT) AS tw FROM src),
       |cap AS (SELECT CAST(min(n_total * tw // weight) AS BIGINT) AS dfinal FROM src, tot),
       |quota AS (
       |  SELECT source, CAST((weight * dfinal) // tw AS BIGINT) AS quota
       |  FROM src, tot, cap
       |), ranked AS (
       |  SELECT doc_id, lang, quality, source,
       |         row_number() OVER (PARTITION BY source
       |           ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 4), doc_id) AS rk
       |  FROM srcd
       |), manifest AS (
       |  SELECT r.doc_id, r.lang, r.source, ${sqlSplit("r.doc_id")} AS split, r.quality
       |  FROM ranked r JOIN quota q ON r.source = q.source AND r.rk <= q.quota
       |)""".stripMargin

  /** The COMPLETE pre-training pipeline: c04 + the domain-mixture
    * rebalance (p04's integer-exact quota math) between
    * decontamination and split — quality → exact dedup → near-dup
    * collapse → decontam → mixture → split, each stage an operator
    * the inventory verifies in isolation. Emits the final per-doc
    * training manifest (doc_id, lang, source, split, quality).
    *
    * Scale shape: adds to c04 one tiny per-source agg, a
    * rank-within-source window over the (already heavily reduced)
    * clean set, and a broadcast of the ≤|sources|-row quota table.
    * Mixture runs AFTER decontam so quotas are filled from admissible
    * docs only — rebalancing before dropping contaminated docs would
    * under-fill the affected sources' shares.
    */
  val c05CurateMixture = Q(
    "c05_curate_mixture",
    s"""WITH $sqlNearDupKeptCtes,
       |$sqlDecontamCleanCtes,
       |$sqlMixtureManifestCtes
       |SELECT doc_id, lang, source, split, quality
       |FROM manifest
       |ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    mixedManifest(s, d, "c05_curate_mixture").orderBy(col("doc_id"))
  }

  /** The last yard of the pipeline: c05's manifest, TRAIN split only,
    * packed into 512-token training sequences (c03's per-(lang,
    * md5-shard) running-sum packing, applied to the curated+mixed
    * corpus instead of the raw one) — manifest in, sequence
    * coordinates out, which is exactly the artifact a training run
    * consumes. Quality/dedup/decontam/mixture decide WHAT trains;
    * this decides WHERE each surviving doc lands.
    *
    * Scale shape: everything c05 costs, plus one broadcast-sized
    * join back to documents for token counts and one keyed
    * (lang, shard) window — no global sort, parallelism = shard
    * count, the same knob as c03.
    */
  val c06CuratePack = Q(
    "c06_curate_pack",
    s"""WITH $sqlNearDupKeptCtes,
       |$sqlDecontamCleanCtes,
       |$sqlMixtureManifestCtes,
       |t AS (
       |  SELECT m.doc_id, m.lang,
       |         substr(md5(CAST(m.doc_id AS VARCHAR)), 1, 1) AS shard,
       |         len(string_split(dd.text, ' ')) AS n_tok
       |  FROM manifest m JOIN documents dd ON m.doc_id = dd.doc_id
       |  WHERE m.split = 'train'
       |), cum AS (
       |  SELECT doc_id, lang, shard, n_tok,
       |         CAST(sum(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
       |                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |  FROM t
       |)
       |SELECT doc_id, lang, shard, n_tok,
       |       (cum - n_tok) // 512 AS seq_start,
       |       (cum - 1) // 512 AS seq_end,
       |       (cum - n_tok) % 512 AS offset_in_seq
       |FROM cum ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    val w = Window.partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    mixedManifest(s, d, "c06_curate_pack")
      .filter(col("split") === "train")
      .join(Tables.documents(s, d).select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"), col("lang"),
        substring(md5(col("doc_id").cast("string")), 1, 1).as("shard"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .select(col("doc_id"), col("lang"), col("shard"), col("n_tok"),
        expr("(cum - n_tok) div 512").as("seq_start"),
        expr("(cum - 1) div 512").as("seq_end"),
        ((col("cum") - col("n_tok")) % 512).as("offset_in_seq"))
      .orderBy(col("doc_id"))
  }

  /** Spark side of the full manifest — c04's decontaminated set run
    * through the p04 mixture quotas, with split assigned:
    * `(doc_id, lang, source, split, quality)`. Shared by c05 (emits
    * it) and c06 (packs its train split).
    */
  private def mixedManifest(s: SparkSession, d: String,
      probeName: String): DataFrame =
    manifestFrom(
      decontamKept(s, d, probeName)
        .join(Tables.documents(s, d).select(col("doc_id"), col("source")), "doc_id")
        // eager, because the quota path broadcasts tot/cap/quota: each
        // broadcast job would otherwise race this (lazily cached)
        // frame and re-run the chain per broadcast (see decontamKept)
        .localCheckpoint()) // feeds the per-source agg AND the ranked stream

  /** Mixture stage applied to an already-materialized clean set with
    * its `source` column joined in (callers cache `clean`).
    */
  private def manifestFrom(clean: DataFrame): DataFrame = {
    val src = clean
      .withColumn("weight",
        (expr("TRY_CAST(substring(source, 4) AS INT)") % 4 + 1).cast("long"))
      // src<N> id contract, enforced identically in both engines:
      // non-parsing sources get NULL weight and are EXPLICITLY
      // excluded from the mixture (see Sampling.p04 doc)
      .filter(col("weight").isNotNull)
      .groupBy(col("source"), col("weight"))
      .agg(count(lit(1)).as("n_total"))
    // tw/dfinal are corpus-wide scalars over the PER-SOURCE aggregate
    // — a frame bounded by the source count (small by the src<N>
    // contract), so two single-partition windows over it compute both
    // in the quota projection itself. Round 12 spelled this as two
    // scalar aggs crossJoined back through broadcasts: three extra
    // eager broadcast jobs per query for ≤|sources| rows of math.
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val quota = src
      .withColumn("tw", sum(col("weight")).over(wAll))
      .withColumn("dfinal", min(expr("n_total * tw DIV weight")).over(wAll))
      .select(col("source"), expr("(weight * dfinal) DIV tw").as("quota"))
    val wRank = Window.partitionBy(col("source"))
      .orderBy(substring(md5(col("doc_id").cast("string")), 1, 4), col("doc_id"))
    clean.withColumn("rk", row_number().over(wRank))
      .join(broadcast(quota), "source")
      .filter(col("rk") <= col("quota"))
      .select(col("doc_id"), col("lang"), col("source"),
        sparkSplit.as("split"), col("quality"))
  }

  /** Sequence packing — the step between a curated corpus and a
    * training run: concatenate documents in a deterministic order
    * and split the token stream into fixed-budget training sequences
    * (GPT-style packing: documents may straddle a sequence
    * boundary). Emits, per document, the half-open range of
    * sequences it lands in and its token offset within the first.
    *
    * Scale shape: packing is a running sum, which is inherently
    * sequential — so production packers shard first and pack within
    * shards. Here the window partitions by (lang, 16 md5 shards):
    * each shard packs independently (one bounded-width window per
    * shard, no global sort), so the plan is one keyed shuffle and
    * parallelism grows with the shard count, the knob a 100 TB run
    * turns up. Sequence ids are per-shard, exactly like per-shard
    * training files. All arithmetic is integer (BIGINT in both
    * engines — DuckDB's HUGEINT sum is pinned back to BIGINT), so
    * the oracle hash is exact.
    */
  val c03PackSequences = Q(
    "c03_pack_sequences",
    """WITH t AS (
      |  SELECT doc_id, lang,
      |         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
      |         len(string_split(text, ' ')) AS n_tok
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, lang, shard, n_tok,
      |         CAST(sum(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
      |                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM t
      |)
      |SELECT doc_id, lang, shard, n_tok,
      |       (cum - n_tok) // 512 AS seq_start,
      |       (cum - 1) // 512 AS seq_end,
      |       (cum - n_tok) % 512 AS offset_in_seq
      |FROM c ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    val w = Window.partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        substring(md5(col("doc_id").cast("string")), 1, 1).as("shard"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .select(col("doc_id"), col("lang"), col("shard"), col("n_tok"),
        expr("(cum - n_tok) div 512").as("seq_start"),
        expr("(cum - 1) div 512").as("seq_end"),
        ((col("cum") - col("n_tok")) % 512).as("offset_in_seq"))
      .orderBy(col("doc_id"))
  }

  /** The curation FUNNEL report — per-stage survivor counts through
    * the full pipeline (raw → quality → exact dedup → near-dup
    * collapse → decontam → mixture). This is the observability
    * artifact every production curation run ships next to its
    * manifest: the one-glance answer to "where did my corpus go?",
    * and the regression tripwire when a stage suddenly keeps 0 or
    * 100% of its input. Stage keys are prefixed 1..6 so the report
    * orders pipeline-wise with a unique sort key.
    *
    * Scale shape: each count is a partial-agg over a stage the
    * pipeline already computes (the heavy frames are cached once and
    * counted, not rebuilt); the report itself is 6 rows.
    */
  val c07CurationFunnel = Q(
    "c07_curation_funnel",
    s"""WITH $sqlNearDupKeptCtes,
       |$sqlDecontamCleanCtes,
       |$sqlMixtureManifestCtes
       |SELECT stage, n_docs FROM (
       |  SELECT '1_raw' AS stage, count(*) AS n_docs FROM documents
       |  UNION ALL SELECT '2_quality', count(*) FROM q WHERE quality >= 0.5
       |  UNION ALL SELECT '3_exact_dedup', count(*) FROM keepers
       |  UNION ALL SELECT '4_near_dup', count(*) FROM kept
       |  UNION ALL SELECT '5_decontam', count(*) FROM clean
       |  UNION ALL SELECT '6_mixture', count(*) FROM manifest
       |)
       |ORDER BY stage""".stripMargin
  ) { (s, d) =>
    def stageCount(stage: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs")).select(lit(stage).as("stage"), col("n_docs"))
    val docs = Tables.documents(s, d)
    // localCheckpoint (eager) at every counted stage: the six count
    // branches of the union are INDEPENDENT stages the scheduler runs
    // concurrently, so lazy caches race (see decontamKept); and each
    // stage feeds the next through nearDupKeptFrom/decontamFrom/
    // manifestFrom, so the funnel computes its pipeline exactly once
    // (round-4 advice: nearDupKept used to rebuild quality+keepers
    // internally, executing stages 2-3 twice per funnel run).
    val quality = qualityDocs(s, d).localCheckpoint()
    val keepers = exactKeepers(quality).localCheckpoint()
    // the kept manifest comes from the SHARED memoized artifact (its
    // rows are deterministic, so the funnel counts stay consistent
    // with the stage frames computed above for counting)
    val kept = nearDupKept(s, d, "c07_curation_funnel").localCheckpoint()
    val clean = decontamFrom(s, d, kept)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .localCheckpoint() // counted AND fed to the mixture stage
    val manifest = manifestFrom(clean)
    stageCount("1_raw", docs)
      .union(stageCount("2_quality", quality))
      .union(stageCount("3_exact_dedup", keepers))
      .union(stageCount("4_near_dup", kept))
      .union(stageCount("5_decontam", clean))
      .union(stageCount("6_mixture", manifest))
      .orderBy(col("stage"))
  }

  /** Overlapping CHUNKING — the retrieval-ingestion primitive (c03
    * packs for training; this chunks for RAG): every document splits
    * into 128-token windows on a 96-token stride (32-token overlap,
    * so a fact straddling a boundary appears whole in some chunk),
    * emitting per chunk its coordinates and the md5 of its joined
    * text — exactly the (id, span, content-hash) triple an embedding
    * indexer consumes. Chunk k starts at 96k for every k with
    * 96k < n_tokens, so short docs yield one chunk and the tail chunk
    * simply truncates.
    *
    * Scale shape: a pure map-side 1→N explode (like m03's frame
    * sampling) — zero shuffle before the presentation sort; chunk
    * counts are per-row arithmetic in both engines, so the oracle is
    * exact including every chunk's content hash.
    */
  val c08ChunkOverlap = Q(
    "c08_chunk_overlap",
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk,
      |         len(string_split(text, ' ')) AS n
      |  FROM documents
      |), x AS (
      |  SELECT doc_id, n, unnest(generate_series(0, (n - 1) // 96)) AS k
      |  FROM t
      |), c AS (
      |  SELECT x.doc_id, x.k AS chunk_idx,
      |         x.k * 96 AS tok_start,
      |         least(x.k * 96 + 128, x.n) AS tok_end
      |  FROM x
      |)
      |SELECT c.doc_id AS doc_id, c.chunk_idx, c.tok_start, c.tok_end,
      |       c.tok_end - c.tok_start AS n_tok,
      |       md5(array_to_string(t.tk[c.tok_start + 1 : c.tok_end], ' ')) AS chunk_md5
      |FROM c JOIN t ON c.doc_id = t.doc_id
      |ORDER BY c.doc_id, c.chunk_idx""".stripMargin
  ) { (s, d) =>
    chunkFrame(Tables.documents(s, d)).orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** c08's chunk projection as a reusable frame transform — a pure
    * per-row 1→N explode, so it applies unchanged to a STREAMING
    * DataFrame (q77 replays it micro-batched and hash-matches this
    * exact batch spelling).
    */
  private[graft] def chunkFrame(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val tk = tokens(col("text"))
    docs
      .select(col("doc_id"), tk.as("tk"), size(tk).cast("long").as("n"))
      // chunk-count contract: `(n - 1) div 96` relies on n >= 1, which
      // `split` guarantees (a non-null string never splits to an empty
      // array — "" yields [""], so every doc has at least one token).
      // If a future tokenizer COULD produce n = 0, both engines would
      // agree anyway — Spark sequence(0, (0-1) div 96 = 0) and DuckDB
      // generate_series(0, 0) each emit k = 0, i.e. one empty chunk
      // with chunk_md5 = md5('') — but that one-empty-chunk row is a
      // contract decision to make THEN, not an accident to inherit:
      // add a `size(tk) >= 1` filter in BOTH spellings if it's wrong.
      .select(col("doc_id"), col("tk"), col("n"),
        explode(sequence(lit(0L), expr("(n - 1) div 96"))).as("k"))
      .select(col("doc_id"), col("k").as("chunk_idx"),
        (col("k") * 96).as("tok_start"),
        least(col("k") * 96 + 128, col("n")).as("tok_end"),
        (least(col("k") * 96 + 128, col("n")) - col("k") * 96).as("n_tok"),
        md5(concat_ws(" ",
          slice(col("tk"), (col("k") * 96 + 1).cast("int"),
            (least(col("k") * 96 + 128, col("n")) - col("k") * 96).cast("int"))))
          .as("chunk_md5"))
  }

  /** INCREMENTAL ingest — the daily-shard gate a production corpus
    * runs when new data arrives (the batch mirror of q76's streaming
    * decontamination guard): sources src0/src1 play the incoming
    * shard, everything else the standing corpus, and every incoming
    * doc gets a verdict in contract precedence — quality floor first,
    * then exact-content membership in the corpus (md5 join), then
    * verbatim-span overlap (a d09 winnow fingerprint shared with ANY
    * corpus doc), else accepted. Only the accepted docs would merge.
    *
    * Scale shape: three linear passes — the corpus hash set is one
    * distinct projection feeding an equi-join (at 100 TB you put
    * d10's bloom pre-filter in front of it so only candidate hashes
    * reach the join); the fingerprint compare is a winnow-thinned
    * equi-join (~2/(w+1) fingerprints per token, corpus side
    * distinct); no pairwise work anywhere, and the incoming shard —
    * the small side — is what flows through every join.
    */
  val c09IncrementalIngest = Q(
    "c09_incremental_ingest",
    { val gs = sqlGramHashes16("string_split(text, ' ')")
      s"""WITH base AS (
         |  SELECT doc_id, source, text, $sqlQuality AS quality FROM documents
         |), inc AS (
         |  SELECT * FROM base WHERE source IN ('src0', 'src1')
         |), corp AS (
         |  SELECT * FROM base WHERE source NOT IN ('src0', 'src1')
         |), corp_hash AS (
         |  SELECT DISTINCT md5(text) AS h FROM corp
         |), g_inc AS (
         |  SELECT doc_id, $gs AS gs FROM inc WHERE quality >= 0.5
         |), f_inc AS (
         |  SELECT doc_id, ${sqlWinnowOfGs("gs")} AS fps FROM g_inc
         |), x_inc AS (
         |  SELECT doc_id, unnest(fps) AS fp FROM f_inc
         |), g_corp AS (
         |  SELECT doc_id, $gs AS gs FROM corp
         |), f_corp AS (
         |  SELECT doc_id, ${sqlWinnowOfGs("gs")} AS fps FROM g_corp
         |), x_corp AS (
         |  SELECT DISTINCT unnest(fps) AS fp FROM f_corp
         |), nd AS (
         |  SELECT DISTINCT i.doc_id FROM x_inc i JOIN x_corp c ON i.fp = c.fp
         |)
         |SELECT i.doc_id, i.source, i.quality,
         |       CASE WHEN i.quality < 0.5 THEN 'rejected_quality'
         |            WHEN ch.h IS NOT NULL THEN 'rejected_exact'
         |            WHEN nd.doc_id IS NOT NULL THEN 'rejected_neardup'
         |            ELSE 'accepted' END AS verdict
         |FROM inc i
         |LEFT JOIN corp_hash ch ON md5(i.text) = ch.h
         |LEFT JOIN nd ON i.doc_id = nd.doc_id
         |ORDER BY i.doc_id""".stripMargin }
  ) { (s, d) =>
    val shard = Seq("src0", "src1")
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("text"), sparkQuality.as("quality"))
      .cache() // feeds the shard side and both corpus projections
    val inc = base.filter(col("source").isin(shard: _*))
    val corp = base.filter(!col("source").isin(shard: _*))
    val corpHash = corp.select(md5(col("text")).as("h")).distinct()
    val xInc = inc.filter(col("quality") >= 0.5)
      .select(col("doc_id"), explode(winnow16(tokens(col("text")))).as("fp"))
    val xCorp = corp.select(explode(winnow16(tokens(col("text")))).as("fp")).distinct()
    val nd = xInc.join(xCorp, Seq("fp"))
      .select(col("doc_id")).distinct()
      .withColumn("nd_hit", lit(1))
    inc.withColumn("h_inc", md5(col("text")))
      .join(corpHash, col("h_inc") === col("h"), "left")
      .join(nd, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("quality"),
        when(col("quality") < 0.5, "rejected_quality")
          .when(col("h").isNotNull, "rejected_exact")
          .when(col("nd_hit").isNotNull, "rejected_neardup")
          .otherwise("accepted").as("verdict"))
      .orderBy(col("doc_id"))
  }

  /** CHUNK-level dedup — c08's chunks through d01's keeper rule: in
    * a retrieval-ingestion pipeline the embedding pass is the cost
    * center, so byte-identical chunks (boilerplate headers, shared
    * quotes, duplicated docs chunked on aligned strides) collapse to
    * one representative BEFORE any vector is computed. Keeper = the
    * lexicographically first (doc_id, chunk_idx) per chunk md5;
    * emits the full dedup manifest — every distinct chunk with its
    * keeper coordinates, multiplicity, and distinct-doc count (the
    * manifest IS the embedding work-list; n_copies > 1 rows are the
    * compute saved).
    *
    * Scale shape: c08's map-side explode feeds ONE shuffle on the
    * chunk hash (16-byte digests move, chunk text does not — the
    * md5 is computed inside the explode projection), then a
    * presentation sort.
    */
  val c10ChunkDedup = Q(
    "c10_chunk_dedup",
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk,
      |         len(string_split(text, ' ')) AS n
      |  FROM documents
      |), x AS (
      |  SELECT doc_id, n, tk, unnest(generate_series(0, (n - 1) // 96)) AS k
      |  FROM t
      |), c AS (
      |  SELECT doc_id, k AS chunk_idx,
      |         md5(array_to_string(tk[k * 96 + 1 : least(k * 96 + 128, n)], ' ')) AS chunk_md5
      |  FROM x
      |), r AS (
      |  SELECT chunk_md5, doc_id, chunk_idx,
      |         row_number() OVER (PARTITION BY chunk_md5 ORDER BY doc_id, chunk_idx) AS rn
      |  FROM c
      |)
      |SELECT chunk_md5, min(doc_id) AS keep_doc,
      |       min(CASE WHEN rn = 1 THEN chunk_idx END) AS keep_idx,
      |       count(*) AS n_copies, count(DISTINCT doc_id) AS n_docs
      |FROM r
      |GROUP BY chunk_md5
      |ORDER BY n_copies DESC, chunk_md5""".stripMargin
  ) { (s, d) =>
    val tk = tokens(col("text"))
    val chunks = Tables.documents(s, d)
      .select(col("doc_id"), tk.as("tk"), size(tk).cast("long").as("n"))
      .select(col("doc_id"), col("tk"), col("n"),
        explode(sequence(lit(0L), expr("(n - 1) div 96"))).as("k"))
      .select(col("doc_id"), col("k").as("chunk_idx"),
        md5(concat_ws(" ",
          slice(col("tk"), (col("k") * 96 + 1).cast("int"),
            (least(col("k") * 96 + 128, col("n")) - col("k") * 96).cast("int"))))
          .as("chunk_md5"))
    val w = Window.partitionBy(col("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))
    chunks
      .withColumn("rn", row_number().over(w))
      .groupBy(col("chunk_md5"))
      .agg(min(col("doc_id")).as("keep_doc"),
        min(when(col("rn") === 1, col("chunk_idx"))).as("keep_idx"),
        count(lit(1)).as("n_copies"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_copies").desc, col("chunk_md5"))
  }

  /** GZIP round-trip through the JDK's real Deflate codec
    * (`java.util.zip`). */
  private def gzipBytes(raw: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(raw.length / 2 + 32)
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(raw); gz.close()
    bos.toByteArray
  }

  /** Zstandard round-trip through zstd-jni — NOT a new dependency:
    * the jar ships inside every Spark runtime because it backs
    * `spark.io.compression.codec=zstd` (Spark's own shuffle/event-log
    * compression), so any cluster that runs this library already
    * carries it.
    */
  private def zstdBytes(raw: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(raw.length / 2 + 32)
    val zs = new com.github.luben.zstd.ZstdOutputStream(bos, 3)
    zs.write(raw); zs.close()
    bos.toByteArray
  }

  /** Content-sniffing decompressor: routes on the codec's own magic
    * bytes (gzip `1F 8B`, zstd frame `28 B5 2F FD`) exactly like the
    * media tier's SniffingDecoder, and fails loudly on anything else
    * — a compressed corpus with an unexpected codec must never
    * silently pass garbage downstream.
    */
  private def decompress(id: Long, b: Array[Byte]): (String, Array[Byte]) = {
    def drain(in: java.io.InputStream): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(b.length * 3 + 32)
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      in.close(); out.toByteArray
    }
    if (b.length >= 2 && (b(0) & 0xff) == 0x1f && (b(1) & 0xff) == 0x8b)
      ("gzip", drain(new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(b))))
    else if (b.length >= 4 && (b(0) & 0xff) == 0x28 && (b(1) & 0xff) == 0xb5 &&
        (b(2) & 0xff) == 0x2f && (b(3) & 0xff) == 0xfd)
      ("zstd", drain(new com.github.luben.zstd.ZstdInputStream(
        new java.io.ByteArrayInputStream(b))))
    else throw new IllegalArgumentException(
      s"doc_id=$id: unrecognized compression magic")
  }

  /** COMPRESSED-CORPUS INGEST — the stage every real training
    * pipeline runs FIRST: corpora arrive as gzip/zstd blobs (WET
    * dumps, .jsonl.zst shards), and the engine must decompress
    * per-partition, where the bytes are, before any curation logic
    * sees text. Per-partition synth compresses each document's text
    * through the REAL codecs (JDK Deflate for even ids, zstd-jni —
    * Spark's own bundled compressor — for odd), then the ingest
    * stage content-sniffs the magic bytes and decompresses; the
    * output stats (byte length, md5, token count) are computed from
    * the DECODED text and hash-compared to the oracle's computation
    * over the plaintext column — any decode corruption (truncation,
    * charset, codec mix-up) flips the md5 and fails the hash.
    *
    * Scale shape: both stages are pure per-partition maps — at 100 TB
    * the compressed blobs live in parquet binary columns and the
    * decompression runs map-side with zero shuffle, exactly this
    * plumbing. Compressed sizes are deliberately NOT in the output:
    * they are implementation-defined per codec version (never
    * oracle-comparable), and nothing downstream should depend on
    * them.
    */
  val c11CompressedIngest = Q(
    "c11_compressed_ingest",
    """SELECT doc_id,
      |  CASE WHEN doc_id % 2 = 0 THEN 'gzip' ELSE 'zstd' END AS codec,
      |  octet_length(CAST(text AS BLOB)) AS n_raw,
      |  md5(text) AS content_hash,
      |  len(string_split(text, ' ')) AS n_tokens
      |FROM documents ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    // spread: the gzip/zstd encode+decode chain is pure per-row CPU
    // pinned to the single-row-group scan task (Tables.spread, §2.5)
    val packed = Tables.spread(
        Tables.documents(s, d).select(col("doc_id"), col("text")))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val raw = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        (id, if (id % 2 == 0) gzipBytes(raw) else zstdBytes(raw))
      })
    val decoded = packed.mapPartitions(_.map { case (id, blob) =>
      val (codec, raw) = decompress(id, blob)
      (id, codec, new String(raw, java.nio.charset.StandardCharsets.UTF_8))
    }).toDF("doc_id", "codec", "text")
    decoded
      .select(col("doc_id"), col("codec"),
        octet_length(col("text").cast("binary")).as("n_raw"),
        md5(col("text").cast("binary")).as("content_hash"),
        size(graft.functions.TextVec.tokens(col("text"))).cast("long").as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** WARC-SHARD INGEST — the actual CommonCrawl pipeline, end to end
    * through three REAL parsers composed: per-partition synth wraps
    * each document in a genuine two-record WARC shard (a `warcinfo`
    * preamble — so the consumer must filter by WARC-Type rather than
    * assume record 0 — then a `response` record whose payload is a
    * full HTTP/1.1 200 message carrying the t14 HTML page around the
    * escaped document text, every Content-Length byte-exact over
    * UTF-8); the ingest stage then runs `WarcIngest.parseRecords`
    * (strictly length-driven record walk), `parseHttp` (status line
    * + headers + body bytes), and `HtmlExtract.extract` (structural
    * HTML parse) to recover the visible text. The oracle predicts
    * target URI, HTTP status, title, and the md5 of the ORIGINAL
    * text — so WARC→HTTP→HTML→text must be the exact identity over
    * the whole corpus; any header mis-parse, byte/char length
    * confusion, or record mis-framing flips a column and fails the
    * hash.
    *
    * Scale shape: a crawl shard is the canonical "many records in
    * one blob" input; the parse is a pure per-partition map over
    * shard bytes (zero shuffle), exactly how a 100 TB crawl ingests
    * — parallelism comes from the shard count, and nothing but the
    * extracted text ever leaves the mapper.
    */
  val c12WarcIngest = Q(
    "c12_warc_ingest",
    """SELECT doc_id,
      |  'https://example.com/doc/' || CAST(doc_id AS VARCHAR) AS target_uri,
      |  CAST(200 AS BIGINT) AS http_status,
      |  'Doc ' || CAST(doc_id AS VARCHAR) AS title,
      |  md5(text) AS content_hash
      |FROM documents ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    import graft.functions.{HtmlExtract, WarcIngest}
    // spread: per-row codec chain off the single-row-group scan
    // (Tables.spread, guide §2.5)
    val extracted = Tables.spread(Tables.documents(s, d)
        .select(col("doc_id"), col("text"))).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val uri = s"https://example.com/doc/$id"
        val shard = WarcIngest.warcinfoRecord(s"software: graft-synth\r\n") ++
          WarcIngest.responseRecord(uri,
            WarcIngest.httpResponse(TextAnalysis.htmlOf(id, text)))
        val resp = WarcIngest.parseRecords(shard)
          .find(_.headers.get("warc-type").contains("response"))
          .getOrElse(throw new IllegalArgumentException(
            s"doc_id=$id: shard has no response record"))
        val http = WarcIngest.parseHttp(resp.payload)
        val page = new String(http.body, java.nio.charset.StandardCharsets.UTF_8)
        val e = HtmlExtract.extract(page)
        (id, resp.headers("warc-target-uri"), http.status.toLong, e.title, e.text)
      }).toDF("doc_id", "target_uri", "http_status", "title", "body")
    extracted
      .select(col("doc_id"), col("target_uri"), col("http_status"), col("title"),
        md5(col("body").cast("binary")).as("content_hash"))
      .orderBy(col("doc_id"))
  }

  /** ZIP-ARCHIVE corpus ingest — the ARCHIVE layer above c11's
    * per-blob compression: corpora (Gutenberg dumps, dataset
    * releases) ship as .zip files of many members. Per-partition
    * synth packs each doc's UTF-8 bytes into a genuine stored-method
    * ZIP of 1 + doc_id mod 3 members (split at arbitrary byte
    * boundaries — the parser reassembles BYTES before decoding, so
    * even a mid-UTF-8-sequence split round-trips), with a real
    * central directory, real tracked local-header offsets, and a
    * REAL per-member CRC-32; `functions/ZipIngest.parse` re-walks
    * the EOCD → central directory → declared offsets → CRC chain
    * and fails loudly on any inconsistency (ZipIngestSpec pins the
    * corruption modes). The oracle predicts member count, the
    * algebraic byte length `octet_length(text) + 88·members + 22`
    * (stored members, 6-char names), and md5 of the reassembled
    * text — so pack → archive-walk → verify → unpack is the exact
    * identity over the whole corpus. Zero-shuffle per-partition map.
    */
  val c14ZipIngest = Q(
    "c14_zip_ingest",
    """SELECT doc_id,
      |  CAST(1 + doc_id % 3 AS BIGINT) AS n_members,
      |  octet_length(CAST(text AS BLOB)) + (1 + doc_id % 3) * 88 + 22 AS n_bytes,
      |  md5(text) AS content_hash
      |FROM documents ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    import graft.functions.ZipIngest
    // spread: per-row codec chain off the single-row-group scan
    // (Tables.spread, guide §2.5)
    val unpacked = Tables.spread(Tables.documents(s, d)
        .select(col("doc_id"), col("text"))).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val k = (1 + id % 3).toInt
        val members = (0 until k).map { i =>
          val from = (bytes.length.toLong * i / k).toInt
          val until = (bytes.length.toLong * (i + 1) / k).toInt
          (s"m$i.txt", java.util.Arrays.copyOfRange(bytes, from, until))
        }
        val archive = ZipIngest.build(members)
        val parsed = ZipIngest.parse(archive)
        (id, parsed.nMembers.toLong, archive.length.toLong,
          new String(parsed.body, java.nio.charset.StandardCharsets.UTF_8))
      }).toDF("doc_id", "n_members", "n_bytes", "body")
    unpacked
      .select(col("doc_id"), col("n_members"), col("n_bytes"),
        md5(col("body").cast("binary")).as("content_hash"))
      .orderBy(col("doc_id"))
  }

  /** WEBDATASET-SHARD INGEST — TAR is the de-facto container for
    * multimodal LLM training shards (WebDataset: member families
    * `<id>.txt` / `<id>.json` / `<id>.jpg` in one tarball), and this
    * is that pipeline stage: per-partition synth packs each doc as a
    * genuine two-member ustar archive (`<id>.txt` = the UTF-8 text,
    * `<id>.json` = its metadata record), `functions/TarIngest.parse`
    * re-walks the 512-byte block structure verifying the REAL header
    * checksum on every member (unsigned byte sum with the checksum
    * field as spaces — a flipped header byte fails loudly) and the
    * two-zero-block terminator, and the metadata member round-trips
    * through Spark's own JSON path (`get_json_object`). The oracle
    * predicts member count, the algebraic 512-padded byte length
    * (building the SAME json string to measure, so no digit
    * counting), md5 of the text member, and the json-extracted
    * doc_id — pack → walk → verify → extract is the exact identity.
    * Zero-shuffle per-partition map.
    */
  val c15TarIngest = Q(
    "c15_tar_ingest",
    """SELECT doc_id,
      |  CAST(2 AS BIGINT) AS n_members,
      |  2048 + 512 * ((octet_length(CAST(text AS BLOB)) + 511) // 512)
      |    + 512 * ((octet_length(CAST(
      |        '{"doc_id":' || CAST(doc_id AS VARCHAR) || ',"lang":"' || lang
      |          || '","source":"' || source || '"}' AS BLOB)) + 511) // 512)
      |    AS n_bytes,
      |  md5(text) AS content_hash,
      |  doc_id AS meta_doc_id
      |FROM documents ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    import graft.functions.TarIngest
    // spread: per-row codec chain off the single-row-group scan
    // (Tables.spread, guide §2.5)
    val unpacked = Tables.spread(Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("lang"), col("source")))
      .as[(Long, String, String, String)]
      .mapPartitions(_.map { case (id, text, lang, source) =>
        val json = s"""{"doc_id":$id,"lang":"$lang","source":"$source"}"""
        val shard = TarIngest.build(Seq(
          s"$id.txt" -> text.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          s"$id.json" -> json.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        val members = TarIngest.parse(shard)
        require(members.length == 2 && members.head.name == s"$id.txt",
          s"doc_id=$id: unexpected member layout")
        (id, members.length.toLong, shard.length.toLong,
          new String(members.head.data, java.nio.charset.StandardCharsets.UTF_8),
          new String(members(1).data, java.nio.charset.StandardCharsets.UTF_8))
      }).toDF("doc_id", "n_members", "n_bytes", "body", "meta")
    unpacked
      .select(col("doc_id"), col("n_members"), col("n_bytes"),
        md5(col("body").cast("binary")).as("content_hash"),
        get_json_object(col("meta"), "$.doc_id").cast("long").as("meta_doc_id"))
      .orderBy(col("doc_id"))
  }

  /** DOMAIN RANKING over the corpus link graph — the web-curation
    * stage CommonCrawl-scale pipelines run to weight sources
    * (harmonic centrality in CC's own ranking; PageRank here): a
    * damped fixed-iteration PageRank over the domain graph derived
    * from the documents table (each doc links its source domain to
    * up to three deterministic targets with a stride keyed to the
    * domain class, so out-degrees vary; one domain class emits no
    * links at all — a genuine dangling node, so the dangling-mass
    * redistribution path is exercised, not just present). Everything is FIXED-POINT INTEGER arithmetic — ranks in
    * micro-units, contributions `r div outdeg`, damping
    * `(85 · mass) div 100`, dangling mass `dang div n` — so both
    * engines compute bit-identical BIGINTs with zero float-sum order
    * dependence (the q04 recursive-loop discipline applied to an
    * iterative GRAPH aggregate; mass leaks to floor rounding are
    * deterministic and identical in both).
    *
    * Scale shape: the real web graph is ~10⁷ registrable domains —
    * the edge list is built once (one DISTINCT shuffle) and reused
    * across iterations via eager localCheckpoint (the d07 fixpoint
    * discipline: lineage cut per hop, no exponential replan); each
    * of the 6 iterations is one ranks⋈edges equi-join plus one
    * dst-keyed partial agg — ranks is domain-sized (broadcastable in
    * production; spelled as an equi-join here so the shape holds for
    * a host-level graph too), and the dangling/node-count scalars
    * ride 1-row broadcasts. Driver never sees a row.
    */
  val c13DomainRank = Q(
    "c13_domain_rank",
    {
      val base =
        """WITH links AS (
          |  SELECT DISTINCT source AS src,
          |    'src' || CAST((doc_id + j * (1 + (doc_id % 20) % 4)) % 20 AS VARCHAR) AS dst
          |  FROM documents CROSS JOIN (VALUES (1), (2), (3)) AS js(j)
          |  WHERE (doc_id % 20) <> 19 AND ((doc_id % 20) + j) % 4 <> 0
          |), edges AS (
          |  SELECT src, dst FROM links WHERE src <> dst
          |), nodes AS (
          |  SELECT DISTINCT v FROM (
          |    SELECT src AS v FROM edges UNION SELECT dst FROM edges
          |    UNION SELECT source FROM documents)
          |), od AS (
          |  SELECT n.v, COALESCE(o.c, 0) AS outdeg FROM nodes n
          |  LEFT JOIN (SELECT src, count(*) AS c FROM edges GROUP BY src) o
          |    ON n.v = o.src
          |), idt AS (
          |  SELECT n.v, COALESCE(i.c, 0) AS indeg FROM nodes n
          |  LEFT JOIN (SELECT dst, count(*) AS c FROM edges GROUP BY dst) i
          |    ON n.v = i.dst
          |), nn AS (SELECT count(*) AS n FROM nodes
          |), it0 AS (SELECT v, CAST(1000000 AS BIGINT) AS r FROM nodes)""".stripMargin
      val iters = (1 to 6).map { k =>
        s""", c$k AS (
           |  SELECT e.dst AS v, SUM(p.r // od.outdeg) AS s
           |  FROM edges e JOIN it${k - 1} p ON e.src = p.v
           |  JOIN od ON od.v = e.src
           |  GROUP BY e.dst
           |), d$k AS (
           |  SELECT COALESCE(SUM(p.r), 0) AS dang FROM it${k - 1} p
           |  JOIN od ON od.v = p.v WHERE od.outdeg = 0
           |), it$k AS (
           |  SELECT nd.v, CAST(150000 +
           |    (85 * (COALESCE(c$k.s, 0) + d$k.dang // nn.n)) // 100 AS BIGINT) AS r
           |  FROM nodes nd LEFT JOIN c$k ON nd.v = c$k.v
           |  CROSS JOIN d$k CROSS JOIN nn
           |)""".stripMargin
      }.mkString("\n")
      base + "\n" + iters +
        """
          |SELECT it6.v AS domain, it6.r AS rank_scaled,
          |  od.outdeg AS out_deg, idt.indeg AS in_deg
          |FROM it6 JOIN od ON od.v = it6.v JOIN idt ON idt.v = it6.v
          |ORDER BY rank_scaled DESC, domain""".stripMargin
    }
  ) { (s, d) =>
    val docs = Tables.documents(s, d)
    val edges = docs
      .select(col("source").as("src"),
        explode(array(lit(1), lit(2), lit(3))).as("j"), col("doc_id"))
      .filter(col("doc_id") % 20 =!= 19 && (col("doc_id") % 20 + col("j")) % 4 =!= 0)
      .select(col("src"),
        concat(lit("src"),
          ((col("doc_id") + col("j") * (lit(1) + (col("doc_id") % 20) % 4)) % 20)
            .cast("string")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint()
    // SHUFFLE RIGHT-SIZING for the 6-round power iteration (r15
    // optimization; the convergedLabels round-14 pattern via
    // Tables.withShufflePartitions): every per-iteration frame is
    // DOMAIN-graph-sized, and at the session's 32 partitions each of
    // the ~5 chained stages per round paid 32 tasks of pure
    // scheduling for a handful of rows (measured 3.24 s at sf0.1, all
    // overhead). Partitions derive from the measured edge count (one
    // per 64 k edges, saturating at session parallelism) — a web-scale
    // host graph keeps full parallelism, the fixture's 20-domain graph
    // runs 1-task stages. Partitioning never changes the integer rank
    // algebra; results are bit-identical.
    val nEdges = edges.count()
    val rankParts = math.max(1, math.min(s.sparkContext.defaultParallelism,
      math.ceil(nEdges / 65536.0).toInt))
    Tables.withShufflePartitions(s, rankParts) {
    val nodes = edges.select(col("src").as("v"))
      .union(edges.select(col("dst")))
      .union(docs.select(col("source")))
      .distinct().localCheckpoint()
    val od = nodes
      .join(edges.groupBy(col("src")).agg(count(lit(1)).as("c")),
        nodes("v") === col("src"), "left")
      .select(col("v"), coalesce(col("c"), lit(0L)).as("outdeg"))
      .localCheckpoint()
    val idt = nodes
      .join(edges.groupBy(col("dst")).agg(count(lit(1)).as("c")),
        nodes("v") === col("dst"), "left")
      .select(col("v"), coalesce(col("c"), lit(0L)).as("indeg"))
    // edge list pre-joined with its out-degree once — static across
    // all iterations
    val ewd = edges
      .join(od.withColumnRenamed("v", "ov"), col("src") === col("ov"))
      .select(col("src"), col("dst"), col("outdeg"))
      .localCheckpoint()
    val nn = nodes.agg(count(lit(1)).as("n"))
    var ranks = nodes.select(col("v"), lit(1000000L).as("r"))
    for (_ <- 1 to 6) {
      val contrib = ewd.join(ranks, ewd("src") === ranks("v"))
        .groupBy(col("dst"))
        .agg(sum(expr("r div outdeg")).as("s_contrib"))
      val dang = ranks
        .join(od.filter(col("outdeg") === 0), Seq("v"))
        .agg(coalesce(sum(col("r")), lit(0L)).as("dang"))
      ranks = nodes
        .join(contrib, nodes("v") === contrib("dst"), "left")
        .crossJoin(broadcast(dang)).crossJoin(broadcast(nn))
        .select(col("v"),
          expr("CAST(150000 + (85 * (COALESCE(s_contrib, CAST(0 AS BIGINT))" +
            " + dang div n)) div 100 AS BIGINT)").as("r"))
        .localCheckpoint()
    }
    ranks.join(od, Seq("v")).join(idt, Seq("v"))
      .select(col("v").as("domain"), col("r").as("rank_scaled"),
        col("outdeg").as("out_deg"), col("indeg").as("in_deg"))
      .orderBy(col("rank_scaled").desc, col("domain"))
    } // withShufflePartitions(rankParts)
  }

  /** URL canonicalization + URL-level dedup (the crawl-frontier
    * stage BEFORE any content stage runs — CommonCrawl-scale
    * pipelines dedup by canonical URL first because it needs no
    * content fetch at all): per-partition synth derives each doc's
    * messy-but-equivalent raw URL (scheme case cycling HTTP/http/Http,
    * upper-cased host, an explicit default :80 port on one residue
    * class, `/a/./b<k>/../c/` dot-segments, unsorted query params, a
    * fragment) and [[graft.functions.UrlCanon]] normalizes it with
    * the REAL RFC 3986 machinery — §5.2.4 remove_dot_segments as the
    * verbatim loop, §6.2.2.1 case normalization, §6.2.3 default-port
    * strip, stable query-param sort, fragment drop. Canonical URLs
    * then collapse d01-style (min-doc_id keeper + multiplicity per
    * URL) — the synth's residue classes (host mod 10, port mod 3,
    * page mod 50, param mod 5, lcm 150) guarantee genuine
    * multi-copy groups at every sf. The DuckDB oracle predicts the
    * CANONICAL string algebraically from the same residues, so any
    * wrong normalization step (a kept fragment, an unsorted param,
    * an unresolved `..`) changes the key and fails the hash.
    *
    * Scale shape: canonicalization is a pure per-partition map
    * (zero shuffle); the collapse is ONE digest-keyed groupBy — the
    * d01 cost model at URL granularity.
    */
  val c16UrlCanonical = Q(
    "c16_url_canonical",
    """WITH u AS (
      |  SELECT doc_id,
      |    'http://www.site' || (doc_id % 10) || '.com' ||
      |    CASE WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END ||
      |    '/a/c/page' || (doc_id % 50) || '.HTML?a=' || (doc_id % 5) || '&z=1'
      |      AS canon_url,
      |    'www.site' || (doc_id % 10) || '.com' AS host,
      |    'site' || (doc_id % 10) || '.com' AS domain
      |  FROM documents
      |)
      |SELECT canon_url, any_value(host) AS host, any_value(domain) AS domain,
      |       min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM u GROUP BY canon_url
      |ORDER BY keep_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    import graft.functions.UrlCanon
    // spread: per-row codec chain off the single-row-group scan
    // (Tables.spread, guide §2.5)
    Tables.spread(Tables.documents(s, d)
        .select(col("doc_id"))).as[Long]
      .mapPartitions(_.map { id =>
        val scheme = (id % 3) match {
          case 0 => "HTTP"; case 1 => "http"; case _ => "Http"
        }
        val port = (id % 3) match {
          case 0 => ":80"; case 1 => ":8080"; case _ => ""
        }
        val raw = s"$scheme://WWW.Site${id % 10}.COM$port" +
          s"/a/./b${id % 5}/../c/page${id % 50}.HTML?z=1&a=${id % 5}#sec$id"
        val canon = UrlCanon.canonicalize(raw)
        val host = UrlCanon.hostOf(canon)
        (id, canon, host, UrlCanon.registeredDomain(host))
      })
      .toDF("doc_id", "canon_url", "host", "domain")
      .groupBy(col("canon_url"))
      .agg(first(col("host")).as("host"), first(col("domain")).as("domain"),
        min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id"))
  }

  /** Robots-rule URL filtering with the REAL RFC 9309 precedence —
    * the crawl-side companion to c16's canonicalization (a frontier
    * canonicalizes, then consults the host's robots rules before
    * fetching): per-host allow/disallow PATH-PREFIX rules, and for
    * each URL the MOST SPECIFIC (longest) matching rule wins, with
    * ALLOW winning exact length ties (§2.2.2 of the RFC — both
    * clauses implemented, not just "first match"); a URL matching no
    * rule is allowed by default. The synthesized rule tables exercise
    * all three clauses for real: hosts ≡0 (mod 3) carry only an
    * irrelevant rule (default-allow path), other hosts layer
    * `/a/` (deny) < `/a/c/` (flips per host) < `/a/c/page1` (flips
    * back, and matches page1/page10..page19 — genuine PREFIX
    * semantics, not whole segments), and hosts ≡2 (mod 3) add a
    * duplicate-length `/a/c/` allow so the tie-break genuinely fires.
    *
    * Scale shape: the rule table is robots-sized and broadcast; the
    * match is an equi-join on host with the prefix test as an inline
    * predicate (never a cartesian); precedence is one per-URL window
    * over the handful of matched rules.
    */
  val c17RobotsFilter = Q(
    "c17_robots_filter",
    """WITH hosts AS (
      |  SELECT unnest(range(10)) AS k
      |), rules AS (
      |  SELECT 'www.site' || k || '.com' AS host, '/x/' AS prefix,
      |         0 AS allow, 0 AS rule_id FROM hosts WHERE k % 3 = 0
      |  UNION ALL SELECT 'www.site' || k || '.com', '/a/', 0, 0
      |    FROM hosts WHERE k % 3 <> 0
      |  UNION ALL SELECT 'www.site' || k || '.com', '/a/c/', CAST(k % 2 AS INTEGER), 1
      |    FROM hosts WHERE k % 3 <> 0
      |  UNION ALL SELECT 'www.site' || k || '.com', '/a/c/page1', CAST(1 - k % 2 AS INTEGER), 2
      |    FROM hosts WHERE k % 3 <> 0
      |  UNION ALL SELECT 'www.site' || k || '.com', '/a/c/', 1, 3
      |    FROM hosts WHERE k % 3 = 2
      |), urls AS (
      |  SELECT doc_id,
      |         'www.site' || (doc_id % 10) || '.com' AS host,
      |         '/a/c/page' || (doc_id % 50) || '.HTML' AS path
      |  FROM documents
      |), matched AS (
      |  SELECT u.doc_id, u.host, u.path, r.prefix, r.allow,
      |         row_number() OVER (PARTITION BY u.doc_id
      |           ORDER BY length(r.prefix) DESC, r.allow DESC, r.rule_id) AS rk
      |  FROM urls u LEFT JOIN rules r
      |    ON u.host = r.host AND substr(u.path, 1, length(r.prefix)) = r.prefix
      |)
      |SELECT doc_id, host, path,
      |       COALESCE(prefix, '') AS matched_prefix,
      |       CAST(COALESCE(allow, 1) AS INTEGER) AS allowed
      |FROM matched WHERE rk = 1
      |ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    import graft.functions.UrlCanon
    val rules = (0 until 10).flatMap { k =>
      val host = s"www.site$k.com"
      if (k % 3 == 0) Seq((host, "/x/", 0, 0))
      else {
        val base = Seq((host, "/a/", 0, 0), (host, "/a/c/", k % 2, 1),
          (host, "/a/c/page1", 1 - k % 2, 2))
        if (k % 3 == 2) base :+ ((host, "/a/c/", 1, 3)) else base
      }
    }.toDF("r_host", "prefix", "allow", "rule_id")
    // the real frontier order: canonicalize (c16's stage), then match
    // host+path against the broadcast rule table
    // spread: per-row codec chain off the single-row-group scan
    // (Tables.spread, guide §2.5)
    val urls = Tables.spread(Tables.documents(s, d)
        .select(col("doc_id"))).as[Long]
      .mapPartitions(_.map { id =>
        val scheme = (id % 3) match {
          case 0 => "HTTP"; case 1 => "http"; case _ => "Http"
        }
        val port = (id % 3) match {
          case 0 => ":80"; case 1 => ":8080"; case _ => ""
        }
        val raw = s"$scheme://WWW.Site${id % 10}.COM$port" +
          s"/a/./b${id % 5}/../c/page${id % 50}.HTML?z=1&a=${id % 5}#sec$id"
        val canon = UrlCanon.canonicalize(raw)
        (id, UrlCanon.hostOf(canon), UrlCanon.pathOf(canon))
      })
      .toDF("doc_id", "host", "path")
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(length(col("prefix")).desc, col("allow").desc, col("rule_id"))
    urls
      .join(broadcast(rules),
        col("host") === col("r_host")
          && expr("substr(path, 1, length(prefix)) = prefix"),
        "left")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("host"), col("path"),
        coalesce(col("prefix"), lit("")).as("matched_prefix"),
        coalesce(col("allow"), lit(1)).cast("int").as("allowed"))
      .orderBy(col("doc_id"))
  }

  /** WebDataset shard WRITER — the SINK side of c15's TAR ingest
    * (every other archive query READS; a training pipeline's last
    * step is writing the curated corpus back out as TAR shards, the
    * WebDataset layout multimodal loaders stream): docs group into
    * deterministic 10-doc shards (`doc_id div 10`), each shard packs
    * into a GENUINE multi-member ustar archive via `TarIngest.build`
    * (real octal fields, real per-member header checksums, the
    * 1024-byte terminator) with members in ascending doc_id order —
    * and the writer IMMEDIATELY re-parses its own output with
    * `TarIngest.parse` (the checksum-verifying reader), requiring
    * member names and count to round-trip; the emitted text digest
    * is computed from the RE-PARSED bytes, so the oracle's
    * prediction (from the original docs) transitively verifies
    * write → checksum → read as the exact identity. `n_bytes` is the
    * 512-block algebra (header + padded data per member + the
    * terminator), predicted independently by the oracle — a writer
    * that mis-pads or drops the terminator fails the hash.
    *
    * Scale shape: ONE shard-keyed shuffle (the groupBy), then each
    * shard builds independently — parallelism = shard count, the
    * c03 packing model applied to the container layer.
    */
  val c18ShardPack = Q(
    "c18_shard_pack",
    """SELECT doc_id // 10 AS shard_id, count(*) AS n_members,
      |  CAST(1024 + sum(512 + ((strlen(text) + 511) // 512) * 512) AS BIGINT)
      |    AS n_bytes,
      |  md5(string_agg(text, chr(10) ORDER BY doc_id)) AS texts_md5,
      |  CAST(sum(strlen(text)) AS BIGINT) AS total_chars
      |FROM documents
      |GROUP BY 1
      |ORDER BY shard_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    import graft.functions.TarIngest
    Tables.documents(s, d)
      .select(expr("doc_id div 10").as("shard_id"), col("doc_id"), col("text"))
      .groupBy(col("shard_id"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("text")))).as("members"))
      .as[(Long, Seq[(Long, String)])]
      .map { case (shardId, members) =>
        val shard = TarIngest.build(members.map { case (id, t) =>
          (s"$id.txt", t.getBytes("UTF-8"))
        })
        val parsed = TarIngest.parse(shard) // checksum-verifying round-trip
        require(parsed.length == members.length,
          s"shard $shardId: wrote ${members.length} members, read back ${parsed.length}")
        require(parsed.map(_.name) == members.map(m => s"${m._1}.txt"),
          s"shard $shardId: member names did not round-trip")
        val texts = parsed.map(m => new String(m.data, "UTF-8"))
        (shardId, members.length.toLong, shard.length.toLong,
          texts.mkString("\n"), parsed.map(_.data.length.toLong).sum)
      }
      .toDF("shard_id", "n_members", "n_bytes", "texts", "total_chars")
      .select(col("shard_id"), col("n_members"), col("n_bytes"),
        md5(col("texts")).as("texts_md5"), col("total_chars"))
      .orderBy(col("shard_id"))
  }

  /** FUZZY (near-duplicate) DECONTAMINATION — the paraphrase gap c04
    * leaves open: c04 drops docs sharing a VERBATIM 8-gram with a
    * benchmark doc, but a lightly reworded benchmark item shares no
    * verbatim 8-gram while still leaking the answer (the
    * contamination mode the Llama/GPT data cards decontaminate with
    * n-gram-overlap THRESHOLDS rather than exact matches). c19 flags
    * corpus docs whose 3-word-shingle Jaccard against any benchmark
    * doc clears 0.5: d13's banding machinery (MinHash-8 over
    * order-sensitive shingles, 2 bands of 4) generates candidates,
    * exact set intersection verifies them — band recall for J ≥ 0.5
    * at r=4 is 1−(1−J⁴)² ≥ 12%, and planted near-dups sit far above
    * the threshold where recall ≈ 1; the verify step is exact, so
    * precision is 1 by construction.
    *
    * 100 TB shape: the benchmark side is small BY DEFINITION, so its
    * banded signatures BROADCAST and the corpus stream never
    * shuffles for the join; candidates are bounded by true band
    * collisions (never corpus×bench); the exact verify runs only on
    * candidates. Integer-exact oracle: intersection/union sizes are
    * list arithmetic in both engines, the Jaccard double one shared
    * IEEE division, the 0.5 threshold spelled 2·inter ≥ union in
    * integers.
    */
  val c19FuzzyDecontam = Q(
    "c19_fuzzy_decontam",
    { val mhs = (0 until 8).map(i => s"${sqlMinhash(i, "ts")} AS mh$i").mkString(",\n    ")
      s"""WITH base AS (
         |  SELECT doc_id,
         |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '0ccd' AS is_bench,
         |    string_split(text, ' ') AS tk
         |  FROM documents
         |), sh AS (
         |  SELECT doc_id, is_bench,
         |    CASE WHEN len(tk) >= 3
         |         THEN list_transform(generate_series(1, len(tk) - 2),
         |                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
         |         ELSE tk END AS ts
         |  FROM base
         |), gsets AS (
         |  SELECT doc_id, is_bench, list_sort(list_distinct(ts)) AS gs,
         |    $mhs
         |  FROM sh
         |), bands AS (
         |  SELECT doc_id, is_bench, gs, 0 AS band,
         |         md5(mh0 || mh1 || mh2 || mh3) AS h FROM gsets
         |  UNION ALL
         |  SELECT doc_id, is_bench, gs, 1 AS band,
         |         md5(mh4 || mh5 || mh6 || mh7) AS h FROM gsets
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS bench_id,
         |         a.gs AS gs_a, b.gs AS gs_b
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.h = b.h
         |  WHERE NOT a.is_bench AND b.is_bench
         |)
         |SELECT doc_id, bench_id,
         |  CAST(len(list_intersect(gs_a, gs_b)) AS BIGINT) AS inter,
         |  CAST(len(gs_a) + len(gs_b) - len(list_intersect(gs_a, gs_b)) AS BIGINT) AS uni,
         |  CAST(len(list_intersect(gs_a, gs_b)) AS DOUBLE)
         |    / (len(gs_a) + len(gs_b) - len(list_intersect(gs_a, gs_b))) AS jaccard
         |FROM cand
         |WHERE 2 * len(list_intersect(gs_a, gs_b))
         |      >= len(gs_a) + len(gs_b) - len(list_intersect(gs_a, gs_b))
         |ORDER BY doc_id, bench_id""".stripMargin }
  ) { (s, d) =>
    val isBench = substring(md5(col("doc_id").cast("string")), 1, 4) < "0ccd"
    val tk = split(col("text"), " ")
    val shingles = when(size(tk) >= 3, graft.functions.WordGrams(tk, 3)).otherwise(tk)
    val sigs8 = graft.functions.MinHashSigs(shingles, 8)
    val sig = Tables.documents(s, d).select(
      col("doc_id") +: isBench.as("is_bench") +:
        array_sort(array_distinct(shingles)).as("gs") +:
        (0 until 8).map(i => element_at(sigs8, i + 1).as(s"mh$i")): _*)
    val bandArr = array((0 until 2).map(i =>
      md5(concat(col(s"mh${4 * i}"), col(s"mh${4 * i + 1}"),
        col(s"mh${4 * i + 2}"), col(s"mh${4 * i + 3}")))): _*)
    val bands = sig.select(col("doc_id"), col("is_bench"), col("gs"),
      posexplode(bandArr).as(Seq("band", "h")))
    // benchmark side broadcast: small by definition, so the corpus
    // stream joins without shuffling
    val cand = bands.filter(!col("is_bench")).alias("a")
      .join(broadcast(bands.filter(col("is_bench")).alias("b")),
        col("a.band") === col("b.band") && col("a.h") === col("b.h"))
      .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("bench_id"),
        col("a.gs").as("gs_a"), col("b.gs").as("gs_b"))
      .distinct() // a pair can collide in both bands
    val inter = size(array_intersect(col("gs_a"), col("gs_b")))
    val uni = size(col("gs_a")) + size(col("gs_b")) - inter
    cand
      .filter(lit(2) * inter >= uni)
      .select(col("doc_id"), col("bench_id"),
        inter.cast("long").as("inter"), uni.cast("long").as("uni"),
        (inter.cast("double") / uni).as("jaccard"))
      .orderBy(col("doc_id"), col("bench_id"))
  }

  /** CHARSET SNIFF + TRANSCODE ([[graft.functions.CharsetCodec]]) —
    * the step between "bytes from the wire" and "UTF-8 text in a
    * column" every crawl pipeline runs first (origin servers pick the
    * encoding; HTTP headers lie, so production sniffs the bytes). Each
    * document synthesizes its wire payload in a doc_id-determined
    * encoding — plain UTF-8, UTF-16LE/BE with BOM, BOM'd UTF-8, or
    * Latin-1 with a high byte appended (text+'©', which is NOT valid
    * UTF-8, forcing the fallback branch) — and the codec must sniff
    * it back by BOM inspection plus a full RFC 3629 UTF-8 validation
    * DFA (overlongs, surrogates, >U+10FFFF all rejected), then decode
    * through the hand-rolled per-branch transcoders (no lenient JDK
    * decoder that would mask a sniff bug with U+FFFD). The oracle
    * pins BOTH sides algebraically: `detected` and `n_payload` follow
    * from the id rule in closed form (the corpus is ASCII — the
    * synthesis REQUIREs it loudly), and `text_md5` proves the decoded
    * text is byte-identical to the original (with the Latin-1 branch's
    * appended '©' spelled chr(169) in DuckDB). Per-row encode + sniff
    * + decode, zero shuffle — embarrassingly parallel at 100 TB.
    */
  val c20CharsetSniff = Q(
    "c20_charset_sniff",
    """SELECT doc_id,
      |  CASE doc_id % 5
      |    WHEN 1 THEN 'utf-16le' WHEN 2 THEN 'utf-16be'
      |    WHEN 3 THEN 'utf-8-bom' WHEN 4 THEN 'latin-1'
      |    ELSE 'utf-8' END AS detected,
      |  CAST(CASE doc_id % 5
      |    WHEN 1 THEN 2 * strlen(text) + 2 WHEN 2 THEN 2 * strlen(text) + 2
      |    WHEN 3 THEN strlen(text) + 3 WHEN 4 THEN strlen(text) + 1
      |    ELSE strlen(text) END AS BIGINT) AS n_payload,
      |  CASE WHEN doc_id % 5 = 4 THEN md5(text || chr(169)) ELSE md5(text) END
      |    AS text_md5
      |FROM documents ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    import graft.functions.CharsetCodec
    // spread: per-row codec chain off the single-row-group scan
    // (Tables.spread, guide §2.5)
    Tables.spread(Tables.documents(s, d)
        .select(col("doc_id"), col("text"))).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        // the n_payload closed form in the oracle assumes an ASCII
        // corpus (1 UTF-8 byte and 1 UTF-16 unit per char) — enforce
        // the precondition loudly rather than drift silently
        require(text.forall(_ < 0x80), s"doc_id=$id: non-ASCII corpus text")
        val payload: Array[Byte] = (id % 5) match {
          case 1 => CharsetCodec.encodeUtf16(text, littleEndian = true, bom = true)
          case 2 => CharsetCodec.encodeUtf16(text, littleEndian = false, bom = true)
          case 3 =>
            Array(0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++
              text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          case 4 => CharsetCodec.encodeLatin1(text + "©")
          case _ => text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        }
        val (decoded, detected) = CharsetCodec.decode(payload)
        (id, detected, payload.length.toLong, decoded)
      })
      .toDF("doc_id", "detected", "n_payload", "decoded")
      .select(col("doc_id"), col("detected"), col("n_payload"),
        md5(col("decoded")).as("text_md5"))
      .orderBy(col("doc_id"))
  }

  /** CONTENT-DEFINED CHUNKING — c08 cuts every 96 tokens by POSITION,
    * which a one-token insertion shifts for the whole document tail
    * (every downstream chunk hash changes); content-defined cutting
    * (Muthitacharoen et al. SOSP'01 LBFS; Xia et al. ATC'16 FastCDC)
    * decides each boundary from CONTENT — here, a token is a cut
    * point iff its md5 ≡ 0 (mod 16), giving E[chunk] = 16 tokens —
    * so an edit perturbs only the chunk containing it and chunk-hash
    * dedup (c10) keeps matching everything else. That boundary
    * self-synchronization is why backup/CAS systems and corpus-delta
    * pipelines chunk this way. (Production CDC adds min/max bounds
    * via the sequential gear scan; the unbounded cut rule keeps both
    * engines' spellings identical — the same 1/16 cut rate governs.)
    * The whole derivation is per-row higher-order algebra — cut
    * positions via zip_with+filter over the ONCE-built token array
    * (each lambda touches only its own element: the CollapseProject
    * trap needs per-element re-access of the outer array, which this
    * spelling never does), spans from the cut-edge list, one
    * explode — ZERO shuffle before the presentation sort.
    */
  val c21CdcChunking = Q(
    "c21_cdc_chunking",
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk,
      |         len(string_split(text, ' ')) AS n
      |  FROM documents
      |), cu AS (
      |  SELECT doc_id, tk, n,
      |    list_filter(list_transform(generate_series(1, n),
      |      i -> CASE WHEN ('0x' || substr(md5(tk[i]), 1, 15))::UBIGINT::BIGINT % 16 = 0
      |                THEN i ELSE -1 END), p -> p >= 0) AS cuts
      |  FROM t
      |), ed AS (
      |  SELECT doc_id, tk,
      |    list_sort(list_distinct([0] || cuts || [n])) AS edges
      |  FROM cu
      |), x AS (
      |  SELECT doc_id, tk, edges,
      |    unnest(generate_series(0, len(edges) - 2)) AS k
      |  FROM ed
      |)
      |SELECT doc_id, k AS chunk_idx,
      |  CAST(edges[k + 1] AS BIGINT) AS tok_start,
      |  CAST(edges[k + 2] AS BIGINT) AS tok_end,
      |  CAST(edges[k + 2] - edges[k + 1] AS BIGINT) AS n_tok,
      |  md5(array_to_string(tk[edges[k + 1] + 1 : edges[k + 2]], ' ')) AS chunk_md5
      |FROM x
      |ORDER BY doc_id, chunk_idx""".stripMargin
  ) { (s, d) =>
    val tk = tokens(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"), tk.as("tk"), size(tk).cast("long").as("n"))
      .withColumn("cuts",
        expr("""filter(zip_with(tk, sequence(1L, n),
                  (t, i) -> IF(CAST(conv(substr(md5(t), 1, 15), 16, 10) AS BIGINT) % 16 = 0,
                               i, CAST(-1 AS BIGINT))),
                  p -> p >= 0)"""))
      .withColumn("edges",
        expr("array_sort(array_distinct(concat(array(CAST(0 AS BIGINT)), cuts, array(n))))"))
      .select(col("doc_id"), col("tk"), col("edges"),
        explode(expr("sequence(0L, size(edges) - 2)")).as("k"))
      .select(col("doc_id"), col("k").as("chunk_idx"),
        expr("element_at(edges, CAST(k + 1 AS INT))").as("tok_start"),
        expr("element_at(edges, CAST(k + 2 AS INT))").as("tok_end"),
        expr("element_at(edges, CAST(k + 2 AS INT)) - element_at(edges, CAST(k + 1 AS INT))")
          .as("n_tok"),
        md5(expr("""concat_ws(' ',
            slice(tk, CAST(element_at(edges, CAST(k + 1 AS INT)) + 1 AS INT),
                  CAST(element_at(edges, CAST(k + 2 AS INT))
                       - element_at(edges, CAST(k + 1 AS INT)) AS INT)))"""))
          .as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** SPAN-LEVEL DECONTAMINATION SCRUB — c04 and c19 DROP whole
    * documents that touch the benchmark; the operation Lee et al.
    * (ACL 2022, "Deduplicating Training Data Makes Language Models
    * Better") actually recommend — and what Llama/GPT data cards
    * describe for long documents — is surgical: EXCISE the verbatim
    * overlap and keep the rest. This query rewrites each contaminated
    * document: d15's positional-gram diagonal islands (8-grams,
    * runs ≥ 12 tokens) locate every maximal verbatim run shared with
    * a benchmark doc (c04's deterministic 5% md5 sample), overlapping
    * runs from different benchmark docs merge into covered-position
    * intervals, the covered tokens are cut, and the remaining tokens
    * reassemble in order. Emits only the docs that were scrubbed:
    * merged span count, tokens cut, and the rebuilt text (empty when
    * a doc is covered entirely).
    *
    * Scale shape: positional grams are a per-row explode; the
    * candidate join is corpus-scan × BROADCAST benchmark-position
    * grams (benchmarks are small by definition — the corpus never
    * shuffles to discover contamination); the island merge shuffles
    * only matched positions on (doc_id, bench_id, diagonal); the
    * rebuild shuffles only SCRUBBED docs (a left-semi cut before the
    * token explode). Nothing is ever corpus-quadratic.
    */
  val c22SpanScrub = Q(
    "c22_span_scrub",
    """WITH tokd AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk,
      |         len(string_split(text, ' ')) AS n,
      |         substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '0ccd' AS is_bench
      |  FROM documents
      |), gr AS (
      |  SELECT doc_id, is_bench, p.i AS pos, p.g AS g
      |  FROM (
      |    SELECT doc_id, is_bench,
      |      unnest(list_transform(generate_series(1, n - 7),
      |        i -> {'i': i, 'g': array_to_string(tk[i : i + 7], ' ')})) AS p
      |    FROM tokd WHERE n >= 8
      |  )
      |), mt AS (
      |  SELECT c.doc_id, c.pos, b.doc_id AS bench_id, c.pos - b.pos AS d
      |  FROM gr c JOIN gr b ON c.g = b.g AND b.is_bench AND NOT c.is_bench
      |), isl AS (
      |  SELECT doc_id, bench_id, d, pos,
      |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id, bench_id, d ORDER BY pos) = 1
      |         THEN 0 ELSE 1 END AS boundary
      |  FROM mt
      |), num AS (
      |  SELECT doc_id, bench_id, d, pos,
      |    sum(boundary) OVER (PARTITION BY doc_id, bench_id, d ORDER BY pos
      |                        ROWS UNBOUNDED PRECEDING) AS island
      |  FROM isl
      |), sp AS (
      |  SELECT doc_id, min(pos) AS start_p, max(pos) - min(pos) + 8 AS span_len
      |  FROM num GROUP BY doc_id, bench_id, d, island
      |  HAVING max(pos) - min(pos) + 8 >= 12
      |), cov AS (
      |  SELECT DISTINCT doc_id, unnest(generate_series(start_p, start_p + span_len - 1)) AS pos
      |  FROM sp
      |), cb AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) = 1
      |         THEN 0 ELSE 1 END AS b
      |  FROM cov
      |), agg AS (
      |  SELECT doc_id, count(*) AS cut_tokens, sum(b) AS n_spans
      |  FROM cb GROUP BY doc_id
      |), toks AS (
      |  SELECT doc_id, p.i AS pos, p.tok
      |  FROM (
      |    SELECT doc_id,
      |      unnest(list_transform(generate_series(1, n), i -> {'i': i, 'tok': tk[i]})) AS p
      |    FROM tokd WHERE doc_id IN (SELECT doc_id FROM agg)
      |  )
      |), keep AS (
      |  SELECT t.doc_id, t.pos, t.tok
      |  FROM toks t LEFT JOIN cov ON t.doc_id = cov.doc_id AND t.pos = cov.pos
      |  WHERE cov.doc_id IS NULL
      |), rebuilt AS (
      |  SELECT doc_id, array_to_string(list(tok ORDER BY pos), ' ') AS clean_text
      |  FROM keep GROUP BY doc_id
      |)
      |SELECT a.doc_id,
      |  CAST(a.n_spans AS BIGINT) AS n_spans,
      |  CAST(a.cut_tokens AS BIGINT) AS cut_tokens,
      |  coalesce(r.clean_text, '') AS clean_text
      |FROM agg a LEFT JOIN rebuilt r ON a.doc_id = r.doc_id
      |ORDER BY a.doc_id""".stripMargin
  ) { (s, d) =>
    val docs = Tables.documents(s, d)
    val isBench = substring(md5(col("doc_id").cast("string")), 1, 4) < "0ccd"
    val gr = docs
      .select(col("doc_id"), isBench.as("is_bench"),
        posexplode(graft.functions.WordGramsMulti(tokens(col("text")), 8))
          .as(Seq("pos0", "g")))
      .select(col("doc_id"), col("is_bench"),
        (col("pos0") + 1).cast("long").as("pos"), col("g"))
    val bench = gr.filter(col("is_bench"))
      .select(col("g"), col("doc_id").as("bench_id"), col("pos").as("bpos"))
    val corp = gr.filter(!col("is_bench"))
      .select(col("g"), col("doc_id"), col("pos"))
    val mt = corp.join(broadcast(bench), Seq("g"))
      .select(col("doc_id"), col("bench_id"), col("pos"),
        (col("pos") - col("bpos")).as("d"))
    val ord = Window.partitionBy(col("doc_id"), col("bench_id"), col("d"))
      .orderBy(col("pos"))
    val sp = mt
      .withColumn("boundary",
        when(col("pos") - lag(col("pos"), 1).over(ord) === 1, 0L).otherwise(1L))
      .withColumn("island",
        sum(col("boundary")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("bench_id"), col("d"), col("island"))
      .agg(min(col("pos")).as("start_p"),
        (max(col("pos")) - min(col("pos")) + 8).as("span_len"))
      .filter(col("span_len") >= 12)
    // covered positions feed the count agg, the rebuild anti-join,
    // and the scrubbed-id semi-join — materialize ONCE (eager), so
    // the gram join never re-runs per consumer
    val cov = sp
      .select(col("doc_id"),
        explode(sequence(col("start_p"), col("start_p") + col("span_len") - 1))
          .as("pos"))
      .distinct()
      .localCheckpoint()
    val covOrd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val agg = cov
      .withColumn("b",
        when(col("pos") - lag(col("pos"), 1).over(covOrd) === 1, 0L).otherwise(1L))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("cut_tokens"), sum(col("b")).as("n_spans"))
    val toks = docs
      .join(agg.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos0", "tok")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"), col("tok"))
    val rebuilt = toks
      .join(cov, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("clean_text"))
    agg.join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans").cast("long").as("n_spans"),
        col("cut_tokens").cast("long").as("cut_tokens"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** SMALL-FILE COMPACTION — the lakehouse maintenance operation
    * (Delta OPTIMIZE / Iceberg rewrite_data_files / Hudi clustering)
    * that every long-running ingest pipeline needs: streaming and
    * incremental writers (q73-q88's per-trigger file sets, c09's
    * daily shards) leave a table shattered into files far below the
    * scan-efficient size, and the fix is a content-preserving
    * rewrite into ceil(bytes / target) bin-packed files. The query
    * runs the WHOLE maintenance cycle on a real on-disk copy:
    * fragment the documents table into 64 parquet files (the debt a
    * month of micro-batches accrues), measure actual on-disk bytes,
    * rewrite at a 128 MiB file target, `require` the rewrite really
    * collapsed the file count, and emit per-source row counts + an
    * order-free content digest (xor-fold of a 60-bit md5 prefix over
    * doc_id:text — the d07 fingerprint idiom, overflow-free under
    * ANSI) READ FROM THE COMPACTED COPY. The oracle computes the
    * same digest from the ORIGINAL table, so the hash gate proves
    * the maintenance op is bit-losslessly content-preserving — the
    * only correctness property compaction has.
    *
    * Scale shape: both writes are one shuffle each (the rewrite's
    * repartition IS the bin-pack); the digest is a two-phase agg.
    * At 100 TB the same rewrite runs per partition/prefix —
    * [[compactPrefix]] is that unit of work (Hadoop `FileSystem`
    * listing, so the same code runs against hdfs://, s3a://, or
    * file:// prefixes) and [[compactPerPrefix]] drives it across a
    * hive-partitioned table's prefixes independently (probe +
    * CompactionSpec); file-count evidence is spec/probe territory
    * (no oracle can see a directory listing).
    */
  val c23Compact = Q(
    "c23_compact",
    """SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
      |  bit_xor(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 15) AS BIGINT)) AS content_xor
      |FROM documents GROUP BY source ORDER BY source""".stripMargin
  ) { (s, d) =>
    val base = StreamReplay.tempReplayDir("c23")
    val frag = base.resolve("frag").toString
    val comp = base.resolve("compact").toString
    Tables.documents(s, d).repartition(64)
      .write.mode("overwrite").parquet(frag)
    compactPrefix(s, frag, comp)
    Tables.parquet(s, comp)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(CAST(conv(substr(md5(CAST(doc_id AS STRING) || ':' || text), 1, 15), 16, 10) AS BIGINT))")
          .as("content_xor"))
      .orderBy(col("source"))
  }

  /** ONE PREFIX's compaction cycle — the 100 TB unit of work: list
    * the prefix's part files through the Hadoop [[org.apache.hadoop.fs.FileSystem]]
    * of the path's OWN scheme (java.io.File only ever worked on the
    * local demo, and its listFiles() returns null instead of an error
    * — round-11 advice; FileSystem.listStatus throws a
    * FileNotFoundException naming the path), bin-pack rewrite at
    * `targetBytes` per file, and require the collapse exactly when
    * the pack target is below the fragment count (past that, packing
    * — not count reduction — is the correct outcome). Returns
    * (filesBefore, binPackTarget, filesAfter).
    */
  private[graft] def compactPrefix(s: org.apache.spark.sql.SparkSession,
      frag: String, comp: String,
      targetBytes: Long = 128L * 1024 * 1024): (Int, Int, Int) = {
    val fragPath = new org.apache.hadoop.fs.Path(frag)
    val fs = fragPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    def partFiles(p: org.apache.hadoop.fs.Path) =
      fs.listStatus(p).filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
    val before = partFiles(fragPath)
    require(before.nonEmpty, s"c23: no part files under $frag")
    // metadata-only sizing: the listing already carries the lengths
    val nOut = math.max(1L,
      (before.map(_.getLen).sum + targetBytes - 1) / targetBytes).toInt
    Tables.parquet(s, frag).repartition(nOut)
      .write.mode("overwrite").parquet(comp)
    val after = partFiles(new org.apache.hadoop.fs.Path(comp)).length
    if (nOut < before.length)
      require(after < before.length,
        s"compaction did not collapse files under $frag: $after vs ${before.length}")
    (before.length, nOut, after)
  }

  /** PER-PREFIX compaction over a hive-partitioned table — the shape
    * the Scaladoc promises at 100 TB: fragment the documents table
    * into `source=…` prefixes, compact EACH prefix independently
    * ([[compactPrefix]] per directory, its own collapse `require`
    * each), and prove per-prefix bit-losslessness by digesting every
    * compacted prefix against the original table's same-source slice.
    * Returns one row per prefix:
    * (prefix, files_before, files_after, n_rows, digest_ok).
    */
  private[graft] def compactPerPrefix(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val base = StreamReplay.tempReplayDir("c23px")
    val frag = base.resolve("frag").toString
    val comp = base.resolve("compact").toString
    val docs = Tables.documents(s, d)
    docs.repartition(16)
      .write.mode("overwrite").partitionBy("source").parquet(frag)
    val fragPath = new org.apache.hadoop.fs.Path(frag)
    val fs = fragPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val prefixes = fs.listStatus(fragPath)
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("source=")).sorted
    require(prefixes.length >= 2,
      s"per-prefix probe needs >=2 prefixes, got ${prefixes.toSeq}")
    val digestCol = expr(
      "bit_xor(CAST(conv(substr(md5(CAST(doc_id AS STRING) || ':' || text), 1, 15), 16, 10) AS BIGINT))")
    val origDigests = docs
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_rows"), digestCol.as("content_xor"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val rows = prefixes.map { p =>
      val (nb, _, na) = compactPrefix(s, s"$frag/$p", s"$comp/$p")
      val src = p.stripPrefix("source=")
      val got = Tables.parquet(s, s"$comp/$p")
        .agg(count(lit(1)).as("n_rows"), digestCol.as("content_xor"))
        .head()
      val ok = origDigests(src) == ((got.getLong(0), got.getLong(1)))
      (p, nb, na, got.getLong(0), ok)
    }
    rows.toSeq
      .toDF("prefix", "files_before", "files_after", "n_rows", "digest_ok")
      .orderBy(col("prefix"))
  }

  /** TRANSACTION-LOG SNAPSHOT READS WITH TIME TRAVEL — the table
    * format underneath every 100 TB lakehouse corpus (Delta Lake,
    * Armbrust et al. VLDB 2020; Iceberg): the table IS an ordered
    * log of add/remove FILE actions, and reading version v means
    * replaying commits 0..v into a live-file set and scanning those
    * files. This query builds a real one — data files written as
    * parquet (16 hive buckets + one compaction-style rewrite file),
    * commits as JSON-lines action files under `_log/` — then reads
    * EVERY version back through the log-replay path: list the log
    * through the Hadoop FileSystem, `require` the commit sequence
    * gapless, fold add/remove into the live set (add of a live path
    * or remove of a dead one fails loudly), scan exactly the live
    * files per version. The oracle predicts each version's content
    * algebraically (live buckets are doc_id residues), so the hash
    * gate proves log replay ∘ file scan ≡ the declarative predicate
    * — including that v2's REMOVE actually removed (buckets 3,7
    * gone) and v3's rewrite file restored bucket 3's exact content.
    *
    * Scale shape: the LOG is metadata (file actions, never data) —
    * the one driver-side collect here is the same metadata-sized
    * read every Delta client performs; each snapshot is one scan
    * over its live files, and data never moves except through those
    * scans. Commit layout: v0 adds buckets 0-7, v1 adds 8-15, v2
    * removes 3 and 7, v3 adds the bucket-3 rewrite.
    */
  val c25TxlogSnapshot = Q(
    "c25_txlog_snapshot",
    """WITH v AS (SELECT CAST(unnest(generate_series(0, 3)) AS BIGINT) AS version),
      |live AS (
      |  SELECT v.version, d.doc_id, d.text
      |  FROM v JOIN documents d ON (
      |    CASE CAST(v.version AS INT)
      |      WHEN 0 THEN d.doc_id % 16 <= 7
      |      WHEN 1 THEN TRUE
      |      WHEN 2 THEN d.doc_id % 16 NOT IN (3, 7)
      |      ELSE d.doc_id % 16 <> 7 END)
      |)
      |SELECT version, CAST(count(*) AS BIGINT) AS n_docs,
      |  bit_xor(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 15) AS BIGINT)) AS content_xor,
      |  CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
      |FROM live GROUP BY version ORDER BY version""".stripMargin
  ) { (s, d) =>
    val (files, actions, nCommits) = txlogTable(s, d, "c25")
    val live = scala.collection.mutable.LinkedHashSet.empty[String]
    val snapshots = (0 until nCommits).map { v =>
      actions.filter(_._1 == v).foreach {
        case (_, "add", p) =>
          require(live.add(p), s"commit $v re-adds live file $p")
        case (_, "remove", p) =>
          require(live.remove(p), s"commit $v removes unknown file $p")
        case (_, a, p) => sys.error(s"commit $v: unknown action $a on $p")
      }
      Tables.parquet(s, live.toSeq.map(p => s"$files/$p"): _*)
        .agg(count(lit(1)).as("n_docs"), txlogDigest.as("content_xor"),
          sum(col("doc_id")).as("sum_doc_id"))
        .select(lit(v.toLong).as("version"), col("n_docs"),
          col("content_xor"), col("sum_doc_id"))
    }
    snapshots.reduce(_ union _)
      .filter(col("n_docs") > 0) // an empty version is absent in both spellings
      .orderBy(col("version"))
  }

  /** The c23/c25 order-free content digest over (doc_id, text). */
  private def txlogDigest: Column = expr(
    "bit_xor(CAST(conv(substr(md5(CAST(doc_id AS STRING) || ':' || text), 1, 15), 16, 10) AS BIGINT))")

  /** MERGE INTO the transaction-log table (copy-on-write) — the
    * WRITE side that completes the lakehouse triangle (c25 time
    * travel, c26 incremental reads, c23 compaction; THIS is Delta's
    * MERGE / Iceberg's copy-on-write row-level change): a CDC-style
    * changes feed (inserts keyed into bucket 1, updates of bucket 5,
    * a full delete of bucket 9) applies to the standing table by
    * REWRITING exactly the affected bucket files — immutable data
    * files, so the merge is remove(old bucket files) + add(rewritten
    * files) in one new commit — and the post-merge snapshot is read
    * back through the same log-replay path c25 pins. The oracle
    * spells the merged table declaratively (MERGE semantics as
    * anti-join + projection + union), so the hash gate proves
    * COW-rewrite ∘ commit ∘ log-replay ≡ the row-level MERGE — and
    * since the digest covers every live bucket, it also proves the
    * rewrite touched NOTHING outside the affected buckets.
    *
    * Scale shape: the rewrite scans and writes only the affected
    * buckets (cost ∝ touched partitions, the COW contract); the
    * commit is metadata; the final snapshot is one scan. Updates read
    * the TABLE's own live files (a real MERGE joins its own table),
    * inserts come from the external feed.
    */
  val c27TxlogMerge = Q(
    "c27_txlog_merge",
    """WITH live AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 16 <> 7
      |), merged AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 16 = 5 THEN 'upd:' || text ELSE text END AS text
      |  FROM live WHERE doc_id % 16 <> 9
      |  UNION ALL
      |  SELECT doc_id + 16000000, 'ins:' || text
      |  FROM documents WHERE doc_id % 16 = 1
      |)
      |SELECT doc_id % 16 AS bucket, CAST(count(*) AS BIGINT) AS n_docs,
      |  bit_xor(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 15) AS BIGINT)) AS content_xor,
      |  CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
      |FROM merged GROUP BY 1 ORDER BY bucket""".stripMargin
  ) { (s, d) =>
    val (files, actions, nCommits) = txlogTable(s, d, "c27")
    // replay the existing log to the current live set (c25's fold)
    val live = scala.collection.mutable.LinkedHashSet.empty[String]
    (0 until nCommits).foreach { v =>
      actions.filter(_._1 == v).foreach {
        case (_, "add", p) => require(live.add(p), s"commit $v re-adds $p")
        case (_, "remove", p) => require(live.remove(p), s"commit $v removes unknown $p")
        case (_, a, p) => sys.error(s"commit $v: unknown action $a on $p")
      }
    }
    val liveDf = Tables.parquet(s, live.toSeq.map(p => s"$files/$p"): _*)
      .select(col("doc_id"), col("text"))
    // COW rewrite of the affected buckets ONLY:
    //  bucket 1 <- its live rows + the inserts ((id + 16M) % 16 == 1)
    //  bucket 5 <- its live rows with the update projection applied
    //  bucket 9 <- fully deleted: no rewrite file at all
    val inserts = Tables.documents(s, d)
      .filter(col("doc_id") % 16 === 1)
      .select((col("doc_id") + 16000000L).as("doc_id"),
        concat(lit("ins:"), col("text")).as("text"))
    liveDf.filter(col("doc_id") % 16 === 1).unionByName(inserts)
      .write.mode("overwrite").parquet(s"$files/merge_b1")
    liveDf.filter(col("doc_id") % 16 === 5)
      .select(col("doc_id"), concat(lit("upd:"), col("text")).as("text"))
      .write.mode("overwrite").parquet(s"$files/merge_b5")
    // commit v4: remove the affected live bucket files, add the
    // rewrites (an empty rewrite is a legal parquet dir; absent
    // buckets in tiny fixtures simply have nothing to remove)
    val removes = Seq("bucket=1", "bucket=5", "bucket=9").filter(live.contains)
    val commitJson = (removes.map(p => s"""{"action":"remove","path":"$p"}""") ++
      Seq("merge_b1", "merge_b5").map(p => s"""{"action":"add","path":"$p"}"""))
      .mkString("\n")
    val logDir = java.nio.file.Paths.get(files).getParent.resolve("_log")
    java.nio.file.Files.write(logDir.resolve(f"$nCommits%08d.json"),
      commitJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    removes.foreach(p => require(live.remove(p), s"merge removes unknown $p"))
    Seq("merge_b1", "merge_b5").foreach(p =>
      require(live.add(p), s"merge re-adds live $p"))
    // the post-merge snapshot, read back from the committed files
    Tables.parquet(s, live.toSeq.map(p => s"$files/$p"): _*)
      .select(col("doc_id"), col("text"))
      .groupBy((col("doc_id") % 16).as("bucket"))
      .agg(count(lit(1)).as("n_docs"), txlogDigest.as("content_xor"),
        sum(col("doc_id")).as("sum_doc_id"))
      .orderBy(col("bucket"))
  }

  /** OPTIMISTIC CONCURRENCY over the transaction log (c30 — the ACID
    * multi-writer pillar next to c25 time travel, c26 incremental,
    * c27 COW, c28 MOR, c29 schema evolution; Delta's
    * ConcurrentModificationException protocol / Iceberg's commit
    * retry): two writers prepare transactions from the SAME snapshot,
    * race one commit slot, and the loser RESOLVES — the commit
    * primitive is an atomic create (write-temp + hard-link publish,
    * put-if-absent — see [[tryCommit]]; POSIX rename silently
    * replaces, i.e. last-writer-wins, so the filesystem arbitrates
    * exactly one winner per version only through link(2)'s EEXIST),
    * and the loser re-reads the commits it lost to,
    * validates non-overlap (its removed files still live, its touched
    * file set disjoint from the winners'), and retries at the next
    * version. A TRUE conflict (both touch one file) must ABORT
    * loudly, never last-writer-win — TxlogConcurrencySpec pins that
    * branch; the registered query `require`s the race actually
    * happened (writer B's first attempt MUST lose — deterministic,
    * because A commits between B's snapshot and B's attempt).
    *
    * The oracle spells the merged end state declaratively, so the
    * hash gate proves race ∘ conflict-resolution ∘ replay ≡ the
    * serial application of both transactions — the serializability
    * contract, at file granularity, that makes concurrent ingest +
    * compaction safe on a shared 100 TB table. Commit cost is
    * metadata (one atomic rename per attempt); validation reads only
    * the lost commits' action lists.
    */
  val c30TxlogOptimisticConcurrency = Q(
    "c30_txlog_concurrency",
    """WITH live AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 16 <> 7
      |), merged AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 16 = 2 THEN 'a:' || text ELSE text END AS text
      |  FROM live WHERE doc_id % 16 <> 9
      |  UNION ALL
      |  SELECT doc_id + 16000000 AS doc_id, 'b:' || text AS text
      |  FROM documents WHERE doc_id % 16 = 9
      |)
      |SELECT doc_id % 16 AS bucket, CAST(count(*) AS BIGINT) AS n_docs,
      |  bit_xor(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 15) AS BIGINT)) AS content_xor,
      |  CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
      |FROM merged GROUP BY 1 ORDER BY bucket""".stripMargin
  ) { (s, d) =>
    val (files, actions, nCommits) = txlogTable(s, d, "c30")
    val logDir = java.nio.file.Paths.get(files).getParent.resolve("_log")
    // both writers snapshot the SAME stale version (the c25 fold)
    val live = scala.collection.mutable.LinkedHashSet.empty[String]
    (0 until nCommits).foreach { v =>
      actions.filter(_._1 == v).foreach {
        case (_, "add", p) => require(live.add(p), s"commit $v re-adds $p")
        case (_, "remove", p) => require(live.remove(p), s"commit $v removes unknown $p")
        case (_, a, p) => sys.error(s"commit $v: unknown action $a on $p")
      }
    }
    val snapshot = live.toSet
    val liveDf = Tables.parquet(s, live.toSeq.map(p => s"$files/$p"): _*)
      .select(col("doc_id"), col("text"))
    // writer A prepares: update bucket 2 ('a:' prefix) — COW rewrite
    liveDf.filter(col("doc_id") % 16 === 2)
      .select(col("doc_id"), concat(lit("a:"), col("text")).as("text"))
      .write.mode("overwrite").parquet(s"$files/wa_b2")
    val txA = TxActions(
      removes = Seq("bucket=2").filter(snapshot), adds = Seq("wa_b2"))
    // writer B prepares FROM THE SAME SNAPSHOT: delete bucket 9,
    // insert re-keyed 'b:' rows
    Tables.documents(s, d).filter(col("doc_id") % 16 === 9)
      .select((col("doc_id") + 16000000L).as("doc_id"),
        concat(lit("b:"), col("text")).as("text"))
      .write.mode("overwrite").parquet(s"$files/wb_ins")
    val txB = TxActions(
      removes = Seq("bucket=9").filter(snapshot), adds = Seq("wb_ins"))
    // the race: A lands version nCommits first; B attempts the SAME
    // version (it prepared against the stale snapshot), MUST lose,
    // and resolves per the non-overlap rule
    require(tryCommit(logDir, nCommits, txA), "writer A lost an empty slot")
    require(!tryCommit(logDir, nCommits, txB),
      "writer B won a slot writer A already committed — the atomic-create " +
        "primitive is broken")
    val committedAt = resolveAndRetry(s, logDir, nCommits, txB)
    require(committedAt == nCommits + 1, s"B landed at $committedAt")
    // final state, replayed from the log alone
    txA.apply(live); txB.apply(live)
    Tables.parquet(s, live.toSeq.map(p => s"$files/$p"): _*)
      .select(col("doc_id"), col("text"))
      .groupBy((col("doc_id") % 16).as("bucket"))
      .agg(count(lit(1)).as("n_docs"), txlogDigest.as("content_xor"),
        sum(col("doc_id")).as("sum_doc_id"))
      .orderBy(col("bucket"))
  }

  /** TRANSACTION-LOG CHECKPOINTS + PER-FILE COLUMN STATS (c31 — the
    * 100 TB scan lever on top of c25-c30; Delta's `_last_checkpoint`
    * protocol, Armbrust et al. VLDB 2020 §3.2; Iceberg manifests):
    * two independent O(commits)→O(1) cuts that every mature
    * lakehouse makes, exercised here against a 26-commit log.
    *
    *  1. CHECKPOINTS: without them, EVERY snapshot read replays the
    *     whole commit log from v0 — with a streaming writer landing
    *     one commit per trigger (q94), that is driver work growing
    *     without bound. The builder writes a checkpoint manifest
    *     every `CkptInterval` commits (the fold's live set, WITH each
    *     file's stats, materialized as JSON lines) plus a
    *     `_last_checkpoint` pointer; the reader then constructs the
    *     latest snapshot from ONE checkpoint + the commit tail — the
    *     query `require`s the tail it replayed is shorter than the
    *     interval, and that the checkpointed fold is IDENTICAL to a
    *     full from-v0 replay (the equivalence the oracle also proves
    *     end-to-end: the oracle is unchanged declarative algebra, so
    *     hash-match means checkpointed replay ≡ full replay ≡ the
    *     predicate).
    *
    *  2. PER-FILE MIN/MAX STATS → DATA SKIPPING: add actions carry
    *     `(min_doc_id, max_doc_id, n_rows)`, so a point/range
    *     predicate prunes files at the LOG level — before any footer
    *     is opened, let alone scanned. The table is 24 doc_id-range
    *     segments (+ one remove pair and one rewrite, so the live set
    *     is a genuine fold, not a listing); the `doc_id BETWEEN`
    *     predicate below selects segments 5-6 and the scan
    *     `require`s (a) every SKIPPED file's stats interval truly
    *     misses the predicate range, (b) something WAS skipped, and
    *     (c) the scanned row count equals the stats-predicted count —
    *     the stats are load-bearing, not decorative. PlanSpec pins
    *     the scan's inputFiles to exactly the two surviving segments.
    *
    * Scale shape: checkpoint + tail + stats are all metadata-sized
    * driver reads (the same reads every Delta client performs); the
    * one data scan touches exactly the 2 of 23 live files the stats
    * admit. Segment width derives from max(doc_id) (one-number
    * collect), so the fixture is scale-free across SFs.
    */
  private[graft] val CkptInterval = 10
  val c31TxlogCheckpointStats = Q(
    "c31_txlog_checkpoint_stats",
    """WITH w AS (
      |  SELECT CAST(ceil((CAST(max(doc_id) AS DOUBLE) + 1) / 24.0) AS BIGINT) AS width
      |  FROM documents
      |), segd AS (
      |  SELECT d.doc_id, d.text, d.doc_id // w.width AS seg
      |  FROM documents d CROSS JOIN w
      |)
      |SELECT seg, CAST(count(*) AS BIGINT) AS n_docs,
      |  bit_xor(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 15) AS BIGINT)) AS content_xor,
      |  CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
      |FROM segd WHERE seg IN (5, 6)
      |GROUP BY seg ORDER BY seg""".stripMargin
  ) { (s, d) => c31Snapshot(s, d)._1 }

  /** c31's builder + reader, factored for the plan spec. Returns (the pruned-scan DataFrame, the
    * number of tail commits the reader replayed past the checkpoint,
    * the number of live files the stats skipped).
    */
  private[graft] def c31Snapshot(s: SparkSession, d: String): (DataFrame, Int, Int) = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val base = StreamReplay.tempReplayDir("c31")
    val files = base.resolve("files").toString
    val logDir = base.resolve("_log")
    java.nio.file.Files.createDirectories(logDir)
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    // segment width from max(doc_id): a one-number collect (the same
    // class as the commit-log metadata reads)
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val nSegs = 24
    val width = (maxId + nSegs) / nSegs // ceil((maxId+1)/24)
    docs.withColumn("seg", floor(col("doc_id") / width.toDouble).cast("long"))
      .write.mode("overwrite").partitionBy("seg").parquet(files)
    // per-file stats in ONE metadata-sized agg (≤24 rows) — a real
    // writer gets these free from the parquet footers it just wrote
    val segStats = Tables.parquet(s, files)
      // hive partition-column discovery types `seg` int32 — normalize
      .groupBy(col("seg").cast("long").as("seg"))
      .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    def addJson(path: String, st: (Long, Long, Long)): String =
      s"""{"action":"add","path":"$path","min_doc_id":${st._1},"max_doc_id":${st._2},"n_rows":${st._3}}"""
    // ---- the builder: one add-commit per PRESENT segment (a sparse
    // corpus leaves range segments empty and partitionBy writes no
    // dir — commits number gaplessly over what exists), then a
    // remove pair, then the rewrite; checkpoint every CkptInterval.
    val presentSegs = segStats.keys.toSeq.sorted
    val live = scala.collection.mutable.LinkedHashMap
      .empty[String, (Long, Long, Long)]
    var ckptAt = -1
    var nextV = 0
    def writeCheckpoint(v: Int): Unit = {
      val manifest = live.map { case (p, st) =>
        s"""{"path":"$p","min_doc_id":${st._1},"max_doc_id":${st._2},"n_rows":${st._3}}"""
      }.mkString("\n")
      java.nio.file.Files.write(
        logDir.resolve(f"$v%08d.checkpoint.json"), manifest.getBytes(utf8))
      java.nio.file.Files.write(logDir.resolve("_last_checkpoint"),
        s"""{"version":$v}""".getBytes(utf8))
      ckptAt = v
    }
    def commit(json: String,
        apply: scala.collection.mutable.LinkedHashMap[String, (Long, Long, Long)] => Unit): Int = {
      val v = nextV
      nextV += 1
      java.nio.file.Files.write(logDir.resolve(f"$v%08d.json"), json.getBytes(utf8))
      apply(live)
      if ((v + 1) % CkptInterval == 0) writeCheckpoint(v)
      v
    }
    presentSegs.foreach { k =>
      val st = segStats(k)
      commit(addJson(s"seg=$k", st), _.put(s"seg=$k", st): Unit): Unit
    }
    val toRemove = Seq(3L, 7L).filter(segStats.contains).map(k => s"seg=$k")
    if (toRemove.nonEmpty)
      commit(toRemove.map(p => s"""{"action":"remove","path":"$p"}""").mkString("\n"),
        l => toRemove.foreach(p =>
          require(l.remove(p).nonEmpty, s"remove commit: unknown $p"))): Unit
    // the rewrite: seg 3's exact content in a new physical file (the
    // OPTIMIZE pattern) — stats identical to the file it replaces
    if (segStats.contains(3L)) {
      Tables.parquet(s, s"$files/seg=3").write.mode("overwrite")
        .parquet(s"$files/seg3_rw")
      commit(addJson("seg3_rw", segStats(3L)),
        l => require(l.put("seg3_rw", segStats(3L)).isEmpty, "rewrite re-adds")): Unit
    }
    // a short log may never cross a checkpoint boundary — close with
    // one at the final commit (writer policy; the reader contract —
    // one checkpoint + a shorter-than-interval tail — is unchanged)
    if (ckptAt < 0) writeCheckpoint(nextV - 1)
    val nCommits = nextV
    // ---- the reader: ONE checkpoint + the tail, never v0 ----------
    val fs = new org.apache.hadoop.fs.Path(logDir.toString)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    // plain file read, not spark.read: Hadoop input formats treat a
    // leading underscore as a hidden file (the pointer is a one-line
    // driver-side read in Delta too)
    val lastCkpt = {
      val txt = new String(java.nio.file.Files.readAllBytes(
        logDir.resolve("_last_checkpoint")), utf8)
      """"version"\s*:\s*(\d+)""".r.findFirstMatchIn(txt)
        .getOrElse(sys.error(s"malformed _last_checkpoint: $txt"))
        .group(1).toInt
    }
    require(lastCkpt == ckptAt, s"_last_checkpoint $lastCkpt != builder $ckptAt")
    val statsSchema = "path STRING, min_doc_id BIGINT, max_doc_id BIGINT, n_rows BIGINT"
    val fromCkpt = scala.collection.mutable.LinkedHashMap
      .empty[String, (Long, Long, Long)]
    s.read.schema(statsSchema)
      .json(logDir.resolve(f"$lastCkpt%08d.checkpoint.json").toString)
      .collect().foreach(r =>
        fromCkpt.put(r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3))): Unit)
    val tailNames = fs.listStatus(new org.apache.hadoop.fs.Path(logDir.toString))
      .map(_.getPath.getName)
      .filter(n => n.endsWith(".json") && !n.contains("checkpoint"))
      .filter(_.stripSuffix(".json").toInt > lastCkpt)
      .sorted
    require(tailNames.length < CkptInterval &&
      tailNames.length == nCommits - 1 - lastCkpt,
      s"tail is ${tailNames.length} commits past ckpt v$lastCkpt (of $nCommits) " +
        "— the reader must replay checkpoint + tail, not the whole log")
    tailNames.foreach { n =>
      val v = n.stripSuffix(".json").toInt
      s.read.schema(s"action STRING, $statsSchema")
        .json(logDir.resolve(n).toString).collect().foreach { r =>
          (r.getString(0), r.getString(1)) match {
            case ("add", p) => require(
              fromCkpt.put(p, (r.getLong(2), r.getLong(3), r.getLong(4))).isEmpty,
              s"tail commit $v re-adds live $p")
            case ("remove", p) => require(fromCkpt.remove(p).nonEmpty,
              s"tail commit $v removes unknown $p")
            case (a, p) => sys.error(s"tail commit $v: unknown action $a on $p")
          }
        }
    }
    require(fromCkpt == live,
      "checkpoint+tail fold diverged from the full from-v0 fold")
    // ---- data skipping off the stats ------------------------------
    val (lo, hi) = (5 * width, 7 * width - 1) // segments 5..6 (7 is dead)
    val (scanFiles, skipped) = fromCkpt.toSeq.partition {
      case (_, (mn, mx, _)) => mx >= lo && mn <= hi
    }
    require(skipped.nonEmpty && skipped.forall {
      case (_, (mn, mx, _)) => mx < lo || mn > hi
    }, "stats skipping: nothing skipped, or a skipped file overlaps the range")
    val predicted = scanFiles.map(_._2._3).sum
    val snap = (if (scanFiles.isEmpty)
        // every live file pruned (a sparse corpus can leave segments
        // 5-6 empty) — the stats-correct answer is the empty relation
        s.range(0).select(col("id").as("doc_id"), lit("").as("text"))
      else s.read.schema("doc_id BIGINT, text STRING")
        .parquet(scanFiles.map(p => s"$files/${p._1}"): _*))
      .filter(col("doc_id").between(lo, hi))
    require(snap.count() == predicted,
      s"stats-predicted $predicted rows != scanned count — stats are stale")
    val out = snap
      .groupBy(floor(col("doc_id") / width.toDouble).cast("long").as("seg"))
      .agg(count(lit(1)).as("n_docs"), txlogDigest.as("content_xor"),
        sum(col("doc_id")).as("sum_doc_id"))
      .orderBy(col("seg"))
    (out, tailNames.length, skipped.length)
  }

  /** VACUUM / RETENTION GC over the transaction log (c32 — what
    * makes the COW/MOR/compaction pillars AFFORDABLE: c23/c27/c28
    * remove and rewrite files in the LOG, but nothing ever deleted
    * the unreferenced data files from storage, so time travel worked
    * because storage grew forever; Delta VACUUM / Iceberg
    * expire_snapshots is the standard answer). The table here is
    * c25's 4-commit log plus a v4 COW update of bucket 5, so two
    * physically-present files (buckets 3 and 7) are referenced ONLY
    * by pre-horizon versions. VACUUM with retention horizon v3:
    *
    *  1. computes the union of the live sets of every RETAINED
    *     version (≥ 3) — pure log metadata, no data read;
    *  2. physically deletes on-disk files outside that union
    *     (`require`s storage actually shrank, and that every deleted
    *     file is one the retained versions never reference);
    *  3. records `min_readable_version` in a `_vacuum` marker, and
    *     the time-travel read path `require`s the requested version
    *     is inside the horizon BEFORE scanning — a pre-horizon read
    *     fails LOUDLY with the horizon in the message, never with a
    *     dangling FileNotFound halfway through a scan
    *     (TxlogVacuumSpec pins that branch).
    *
    * The registered query reads BOTH retained versions back AFTER
    * the physical deletion, so the hash gate proves GC deleted only
    * unreferenced files — in-horizon time travel is bit-preserved.
    * Note bucket=5's PRE-IMAGE survives vacuum although v4 rewrote
    * it: v3 is retained and still references it (the subtlety that
    * makes naive mark-and-sweep-by-latest-version wrong).
    *
    * Scale shape: the candidate set comes from one storage listing +
    * a metadata fold (the same cost class as a Delta VACUUM driver);
    * deletion is O(dead files); reads stay one scan per live set.
    */
  val c32TxlogVacuum = Q(
    "c32_txlog_vacuum",
    """WITH v AS (SELECT CAST(3 AS BIGINT) AS version UNION ALL SELECT 4),
      |live AS (
      |  SELECT v.version, d.doc_id,
      |         CASE WHEN v.version = 4 AND d.doc_id % 16 = 5
      |              THEN 'u5:' || d.text ELSE d.text END AS text
      |  FROM v JOIN documents d ON d.doc_id % 16 <> 7
      |)
      |SELECT version, doc_id % 16 AS bucket, CAST(count(*) AS BIGINT) AS n_docs,
      |  bit_xor(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 15) AS BIGINT)) AS content_xor,
      |  CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
      |FROM live GROUP BY 1, 2 ORDER BY version, bucket""".stripMargin
  ) { (s, d) =>
    val (df, _, readVersion) = c32Run(s, d)
    val _ = readVersion // the spec exercises the failure branch
    df
  }

  /** c32's builder + vacuum + reader, factored so TxlogVacuumSpec can
    * pin the pre-horizon failure branch and the exact GC set.
    * Returns (the two-retained-versions result, the deleted file
    * names, and the guarded time-travel reader).
    */
  private[graft] def c32Run(s: SparkSession, d: String)
      : (DataFrame, Seq[String], Int => DataFrame) = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val (files, _, nCommits0) = txlogTable(s, d, "c32")
    val logDir = java.nio.file.Paths.get(files).getParent.resolve("_log")
    val fs = new org.apache.hadoop.fs.Path(files)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    def readLog(): Array[(Int, String, String)] = {
      val names = fs.listStatus(new org.apache.hadoop.fs.Path(logDir.toString))
        .map(_.getPath.getName).filter(_.endsWith(".json")).sorted
      names.zipWithIndex.foreach { case (n, i) =>
        require(n == f"$i%08d.json", s"gap in the commit log at $n (expected #$i)")
      }
      s.read.schema("action STRING, path STRING").json(logDir.toString)
        .select(col("action"), col("path"),
          regexp_extract(input_file_name(), "(\\d+)\\.json", 1).cast("int").as("commit"))
        .collect().map(r => (r.getInt(2), r.getString(0), r.getString(1)))
        .sortBy(_._1)
    }
    def foldTo(actions: Array[(Int, String, String)], v: Int): Seq[String] = {
      val live = scala.collection.mutable.LinkedHashSet.empty[String]
      actions.filter(_._1 <= v).foreach {
        case (cv, "add", p) => require(live.add(p), s"commit $cv re-adds $p")
        case (cv, "remove", p) => require(live.remove(p), s"commit $cv removes unknown $p")
        case (cv, a, p) => sys.error(s"commit $cv: unknown action $a on $p")
      }
      live.toSeq
    }
    // ---- v4: COW update of bucket 5 (new churn past the horizon) ---
    val live3 = foldTo(readLog(), nCommits0 - 1)
    val b5Present = live3.contains("bucket=5")
    (if (b5Present) s.read.schema("doc_id BIGINT, text STRING")
        .parquet(s"$files/bucket=5")
      else s.range(0).select(col("id").as("doc_id"), lit("").as("text")))
      .select(col("doc_id"), concat(lit("u5:"), col("text")).as("text"))
      .write.mode("overwrite").parquet(s"$files/b5_rw")
    val v4Json = ((if (b5Present) Seq("""{"action":"remove","path":"bucket=5"}""")
      else Nil) :+ """{"action":"add","path":"b5_rw"}""").mkString("\n")
    java.nio.file.Files.write(logDir.resolve(f"$nCommits0%08d.json"),
      v4Json.getBytes(utf8))
    // ---- VACUUM, horizon = v3 --------------------------------------
    val horizon = nCommits0 - 1 // retain v3 and v4
    val actions = readLog()
    val nVersions = actions.map(_._1).max + 1
    val referenced = (horizon until nVersions)
      .flatMap(v => foldTo(actions, v)).toSet
    val onDisk = fs.listStatus(new org.apache.hadoop.fs.Path(files))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
    val dead = onDisk.filterNot(referenced).sorted.toSeq
    require(dead.nonEmpty, "vacuum found nothing to GC — fixture churn missing")
    require(dead.forall(p => !referenced(p)), "GC would delete a referenced file")
    dead.foreach { p =>
      require(fs.delete(new org.apache.hadoop.fs.Path(s"$files/$p"), true),
        s"vacuum failed to delete $p")
    }
    val after = fs.listStatus(new org.apache.hadoop.fs.Path(files))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).length
    require(after == onDisk.length - dead.length && after < onDisk.length,
      s"storage did not shrink: $after of ${onDisk.length} dirs remain")
    java.nio.file.Files.write(logDir.resolve("_vacuum"),
      s"""{"min_readable_version":$horizon,"deleted":${dead.length}}"""
        .getBytes(utf8))
    // ---- the guarded time-travel reader (post-vacuum) --------------
    val readVersion: Int => DataFrame = { v =>
      val minReadable = {
        val txt = new String(java.nio.file.Files.readAllBytes(
          logDir.resolve("_vacuum")), utf8)
        """"min_readable_version"\s*:\s*(\d+)""".r.findFirstMatchIn(txt)
          .getOrElse(sys.error(s"malformed _vacuum marker: $txt"))
          .group(1).toInt
      }
      if (v < minReadable) throw new IllegalStateException(
        s"time travel to v$v is outside the vacuum retention horizon " +
          s"(min readable version: v$minReadable) — the data files were GC'd")
      val live = foldTo(readLog(), v)
      s.read.schema("doc_id BIGINT, text STRING")
        .parquet(live.map(p => s"$files/$p"): _*)
        .groupBy((col("doc_id") % 16).as("bucket"))
        .agg(count(lit(1)).as("n_docs"), txlogDigest.as("content_xor"),
          sum(col("doc_id")).as("sum_doc_id"))
        .select(lit(v.toLong).as("version"), col("bucket"), col("n_docs"),
          col("content_xor"), col("sum_doc_id"))
    }
    val out = readVersion(horizon).unionByName(readVersion(nVersions - 1))
      .orderBy(col("version"), col("bucket"))
    (out, dead, readVersion)
  }

  /** CHANGE DATA FEED off the transaction log (c33 — the row-level
    * read pillar completing the lakehouse set: c25 time travel reads
    * versions, c26 incremental reads FILE deltas, THIS reads ROW
    * deltas; Delta's Change Data Feed / Iceberg's changelog scan):
    * for each commit, the rows removed in that version's removed
    * files are diffed against the rows added in its added files —
    * pre EXCEPT post (by key) = `delete`, post EXCEPT pre = `insert`,
    * key in both with differing content = `update_preimage` +
    * `update_postimage`, and key in both with IDENTICAL content
    * emits NOTHING — so a pure compaction/OPTIMIZE rewrite (v5 here,
    * which rewrites two live files into one) produces an EMPTY feed,
    * the production contract that lets CDC consumers ignore
    * housekeeping churn (the query `require`s it). The fixture is
    * the c25/c26/c27 lineage: v0/v1 bulk adds, v2 deletes, v3 a
    * re-add of deleted content (CDF correctly reports it as fresh
    * inserts — the rows DID reappear), v4 the c27 COW MERGE (whose
    * rewrite of bucket 1 alongside genuine inserts is exactly the
    * case the pre/post diff exists for: the carried-over rows cancel,
    * only the real inserts surface), v5 the no-op compaction.
    *
    * The oracle spells every version's expected row delta from the
    * bucket residue algebra, so the hash gate proves
    * touched-file diff ≡ the declarative row-level change history.
    *
    * Scale shape: each version reads ONLY its touched files — cost ∝
    * churn, never table size (the same contract as c26, now at row
    * granularity); the pre/post diff is one key-partitioned join of
    * the touched rows (removed and added file sets of one commit are
    * comparable sizes, so no broadcast asymmetry to exploit); a
    * version with only adds or only removes skips the join entirely
    * (Delta's add-only fast path — at 100 TB, append commits dominate
    * and pay zero join).
    */
  val c33TxlogChangeFeed = Q(
    "c33_txlog_change_feed",
    """WITH chg AS (
      |  SELECT CAST(0 AS BIGINT) AS version, 'insert' AS change_type, doc_id, text
      |  FROM documents WHERE doc_id % 16 <= 7
      |  UNION ALL
      |  SELECT 1, 'insert', doc_id, text FROM documents WHERE doc_id % 16 >= 8
      |  UNION ALL
      |  SELECT 2, 'delete', doc_id, text FROM documents WHERE doc_id % 16 IN (3, 7)
      |  UNION ALL
      |  SELECT 3, 'insert', doc_id, text FROM documents WHERE doc_id % 16 = 3
      |  UNION ALL
      |  SELECT 4, 'delete', doc_id, text FROM documents WHERE doc_id % 16 = 9
      |  UNION ALL
      |  SELECT 4, 'update_preimage', doc_id, text FROM documents WHERE doc_id % 16 = 5
      |  UNION ALL
      |  SELECT 4, 'update_postimage', doc_id, 'upd:' || text FROM documents WHERE doc_id % 16 = 5
      |  UNION ALL
      |  SELECT 4, 'insert', doc_id + 16000000, 'ins:' || text FROM documents WHERE doc_id % 16 = 1
      |)
      |SELECT version, change_type, CAST(count(*) AS BIGINT) AS n_rows,
      |  bit_xor(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 15) AS BIGINT)) AS rows_xor,
      |  CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
      |FROM chg GROUP BY version, change_type
      |ORDER BY version, change_type""".stripMargin
  ) { (s, d) =>
    val (files, perVersion) = txlogTableWithChanges(s, d)
    val feeds = perVersion.zipWithIndex.map { case (tx, v) =>
      txlogChangeRows(s, files, tx).withColumn("version", lit(v.toLong))
    }
    // the pure-compaction commit must emit NOTHING — the CDF contract
    // (an identical-content rewrite is not a change); isEmpty here is
    // a metadata-cheap action over the two compacted files
    require(feeds.last.isEmpty,
      "c33: the pure-compaction commit emitted change rows")
    feeds.reduce(_.unionByName(_))
      .groupBy(col("version"), col("change_type"))
      .agg(count(lit(1)).as("n_rows"), txlogDigest.as("rows_xor"),
        sum(col("doc_id")).as("sum_doc_id"))
      .orderBy(col("version"), col("change_type"))
  }

  /** OPTIMIZE ZORDER over the transaction log (c34 — the maintenance
    * op that makes c31's stats skipping EARN its keep on
    * multi-dimensional predicates; Databricks OPTIMIZE ZORDER BY /
    * Iceberg rewrite with a z-order sort strategy): the table
    * arrives as 8 ingest shards keyed by doc_id residue, so EVERY
    * file spans the full doc_id range AND the full length range —
    * per-file min/max stats are useless and a 2-D predicate
    * (doc_id range ∧ byte-length range) must open every footer. The
    * OPTIMIZE commit rewrites the live set clustered by the
    * domain-scaled Morton key over (doc_id, octet_length) —
    * [[ZorderLayout.zkeyScaled]], ONE range shuffle + per-partition
    * sorted writes, the production shape — and logs each output file
    * with TWO-column stats. The reader then prunes by
    * rectangle-intersection BEFORE any footer opens, and the query
    * `require`s the clustered layout strictly out-prunes the ingest
    * layout (≥, strict when the clustered set is ≥ 8 files — tiny
    * fixtures can produce too few files for strictness) and that the
    * rewrite preserved the exact row count. The oracle computes the
    * 2-D selection declaratively, so the hash gate proves
    * z-rewrite ∘ commit ∘ stats-pruned scan ≡ the predicate — the
    * pruning never loses a row.
    *
    * Scale shape: at 100 TB this is THE difference between a 2-D
    * probe reading ~everything (ingest layout: every file's
    * rectangle covers the query) and reading O(matched) files
    * (clustered: rectangles tile the key plane); the OPTIMIZE cost
    * is one range shuffle amortized over every later probe, and the
    * stats fold is log metadata (the c31 discipline — prune from the
    * LOG, never from footers).
    */
  val c34TxlogZorderOptimize = Q(
    "c34_txlog_zorder_optimize",
    // oracle spelling: DuckDB 1.0's octet_length only accepts
    // BLOB/BIT — strlen(VARCHAR) is its byte-length (UTF-8 bytes,
    // identical to Spark's octet_length over string)
    """WITH b AS (
      |  SELECT CAST(max(doc_id) AS BIGINT) AS max_id,
      |         CAST(min(strlen(text)) AS BIGINT) AS mn,
      |         CAST(max(strlen(text)) AS BIGINT) AS mx
      |  FROM documents
      |), sel AS (
      |  SELECT d.doc_id, d.text, CAST(strlen(d.text) AS BIGINT) AS len
      |  FROM documents d, b
      |  WHERE d.doc_id >= b.max_id // 4 AND d.doc_id <= b.max_id // 2
      |    AND strlen(d.text) >= b.mn + (b.mx - b.mn) // 4
      |    AND strlen(d.text) <= b.mn + (b.mx - b.mn) // 2
      |)
      |SELECT len % 4 AS len_mod, CAST(count(*) AS BIGINT) AS n_docs,
      |  bit_xor(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 15) AS BIGINT)) AS content_xor,
      |  CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
      |FROM sel GROUP BY 1 ORDER BY len_mod""".stripMargin
  ) { (s, d) => c34Run(s, d)._1 }

  /** c34's builder + optimizer + pruned reader, factored so
    * TxlogZorderSpec can pin the pruning arithmetic. Returns
    * (the pruned-scan result, files skipped under the INGEST layout,
    * files skipped under the CLUSTERED layout, clustered file count).
    */
  private[graft] def c34Run(s: SparkSession, d: String)
      : (DataFrame, Int, Int, Int) = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val base = StreamReplay.tempReplayDir("c34")
    val files = base.resolve("files").toString
    val logDir = base.resolve("_log")
    java.nio.file.Files.createDirectories(logDir)
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"),
      octet_length(col("text")).cast("long").as("len"))
    // ---- ingest layout: 8 arrival shards, each spanning BOTH full
    // ranges (the zone-map worst case) ------------------------------
    docs.withColumn("chunk", col("doc_id") % 8)
      .write.mode("overwrite").partitionBy("chunk").parquet(s"$files/ingest")
    type St = (Long, Long, Long, Long, Long) // idLo, idHi, lenLo, lenHi, n
    // per-file stats in one metadata-sized agg (a real writer reads
    // these from the footers it just wrote)
    val chunkStats: Seq[(String, St)] = Tables.parquet(s, s"$files/ingest")
      .groupBy(col("chunk").cast("long").as("chunk"))
      .agg(min(col("doc_id")).as("a"), max(col("doc_id")).as("b"),
        min(col("len")).as("c"), max(col("len")).as("e"),
        count(lit(1)).as("n"))
      .collect().toSeq
      .map(r => s"ingest/chunk=${r.getLong(0)}" ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .sortBy(_._1)
    def addJson(path: String, st: St): String =
      s"""{"action":"add","path":"$path","min_doc_id":${st._1},"max_doc_id":${st._2},""" +
        s""""min_len":${st._3},"max_len":${st._4},"n_rows":${st._5}}"""
    var nextV = 0
    def commit(json: String): Unit = {
      java.nio.file.Files.write(logDir.resolve(f"$nextV%08d.json"),
        json.getBytes(utf8))
      nextV += 1
    }
    chunkStats.foreach { case (p, st) => commit(addJson(p, st)) }
    // ---- the OPTIMIZE commit: z-order rewrite ---------------------
    // domain bounds: one metadata-class agg (the same class as c31's
    // width derivation); they parameterize the scaled Morton key AND
    // the probe predicate, in exact integer arithmetic both engines
    // can spell
    val bounds = docs.agg(max(col("doc_id")), min(col("len")), max(col("len"))).head()
    val (maxId, mnLen, mxLen) =
      (bounds.getLong(0), bounds.getLong(1), bounds.getLong(2))
    val live = s.read.schema("doc_id BIGINT, text STRING, len BIGINT")
      .parquet(chunkStats.map(p => s"$files/${p._1}"): _*)
    live.withColumn("zkey",
        ZorderLayout.zkeyScaled(col("doc_id"), col("len"),
          0L, maxId, mnLen, mxLen))
      .repartitionByRange(16, col("zkey"))
      .sortWithinPartitions(col("zkey"))
      .drop("zkey")
      .write.mode("overwrite").parquet(s"$files/zopt")
    val zStats: Seq[(String, St)] = Tables.parquet(s, s"$files/zopt")
      .groupBy(input_file_name().as("f"))
      .agg(min(col("doc_id")).as("a"), max(col("doc_id")).as("b"),
        min(col("len")).as("c"), max(col("len")).as("e"),
        count(lit(1)).as("n"))
      .collect().toSeq
      .map { r =>
        val f = r.getString(0)
        val marker = "/zopt/"
        val rel = "zopt/" + f.substring(f.indexOf(marker) + marker.length)
        rel -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))
      }
      .sortBy(_._1)
    require(zStats.map(_._2._5).sum == chunkStats.map(_._2._5).sum,
      "OPTIMIZE changed the table's row count")
    commit((chunkStats.map(p => s"""{"action":"remove","path":"${p._1}"}""") ++
      zStats.map { case (p, st) => addJson(p, st) }).mkString("\n"))
    // ---- the reader: fold the log, prune by stats rectangles ------
    val statsSchema = "action STRING, path STRING, min_doc_id BIGINT, " +
      "max_doc_id BIGINT, min_len BIGINT, max_len BIGINT, n_rows BIGINT"
    val folded = scala.collection.mutable.LinkedHashMap.empty[String, St]
    (0 until nextV).foreach { v =>
      s.read.schema(statsSchema)
        .json(logDir.resolve(f"$v%08d.json").toString).collect().foreach { r =>
          (r.getString(0), r.getString(1)) match {
            case ("add", p) => require(folded.put(p,
              (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
                r.getLong(6))).isEmpty, s"commit $v re-adds live $p")
            case ("remove", p) => require(folded.remove(p).nonEmpty,
              s"commit $v removes unknown $p")
            case (a, p) => sys.error(s"commit $v: unknown action $a on $p")
          }
        }
    }
    val (idLo, idHi) = (maxId / 4, maxId / 2)
    val (lenLo, lenHi) = (mnLen + (mxLen - mnLen) / 4, mnLen + (mxLen - mnLen) / 2)
    def hits(st: St): Boolean =
      st._2 >= idLo && st._1 <= idHi && st._4 >= lenLo && st._3 <= lenHi
    val (scanFiles, skippedZ) = folded.toSeq.partition(p => hits(p._2))
    require(skippedZ.forall(p => !hits(p._2)),
      "stats skipping: a skipped file's rectangle intersects the probe")
    val skippedIngest = chunkStats.count(p => !hits(p._2))
    // the OPTIMIZE must buy pruning: strictly more skipped than the
    // ingest layout once the clustered set is big enough to tile
    if (folded.size >= 8)
      require(skippedZ.length > skippedIngest,
        s"z-order bought no pruning: ${skippedZ.length} skipped vs " +
          s"$skippedIngest under the ingest layout")
    else require(skippedZ.length >= skippedIngest,
      "z-order lost pruning vs the ingest layout")
    val snap = (if (scanFiles.isEmpty)
        s.range(0).select(col("id").as("doc_id"), lit("").as("text"),
          col("id").as("len"))
      else s.read.schema("doc_id BIGINT, text STRING, len BIGINT")
        .parquet(scanFiles.map(p => s"$files/${p._1}"): _*))
      .filter(col("doc_id").between(idLo, idHi)
        && col("len").between(lenLo, lenHi))
    val out = snap
      .groupBy((col("len") % 4).as("len_mod"))
      .agg(count(lit(1)).as("n_docs"), txlogDigest.as("content_xor"),
        sum(col("doc_id")).as("sum_doc_id"))
      .orderBy(col("len_mod"))
    (out, skippedIngest, skippedZ.length, zStats.length)
  }

  /** The c25/c26 four-commit table extended with v4 = the c27 COW
    * MERGE (remove buckets 1/5/9, add the bucket-1 rewrite-plus-
    * inserts and the bucket-5 update rewrite) and v5 = a pure
    * compaction (two live files rewritten into one, identical rows)
    * — the six-version lineage c33's change feed and q96's
    * incremental view maintenance both read. Returns the files root
    * and the per-version transaction list.
    *
    * The table is a [[graft.Artifact]]: c33, q96 and their specs all
    * read the same immutable six-version table, exactly as both would
    * read ONE production table. Reuse is read-only: the commit mtime
    * stagger q96's file source needs happens once, inside the build.
    */
  private val txlogChanges = Artifact[(String, IndexedSeq[TxActions])]("txlog_changes")
  private[graft] val txlogChangesBuildSec = txlogChanges.buildNanos
  private[graft] def txlogTableWithChanges(s: SparkSession,
      d: String): (String, IndexedSeq[TxActions]) =
    txlogChanges.memo(d, "documents")(txlogTableWithChangesBuild(s, d))

  private def txlogTableWithChangesBuild(s: SparkSession,
      d: String): (String, IndexedSeq[TxActions]) = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val (files, actions0, nCommits0) = txlogTable(s, d, "txlog_changes")
    val live = scala.collection.mutable.LinkedHashSet.empty[String]
    (0 until nCommits0).foreach { v =>
      actions0.filter(_._1 == v).foreach {
        case (_, "add", p) => require(live.add(p), s"commit $v re-adds $p")
        case (_, "remove", p) => require(live.remove(p), s"commit $v removes unknown $p")
        case (_, a, p) => sys.error(s"commit $v: unknown action $a on $p")
      }
    }
    val logDir = java.nio.file.Paths.get(files).getParent.resolve("_log")
    def readFiles(paths: Seq[String]): DataFrame =
      s.read.schema("doc_id BIGINT, text STRING")
        .parquet(paths.map(p => s"$files/$p"): _*)
    val liveDf = readFiles(live.toSeq)
    // v4: the c27 merge, verbatim (c27's Scaladoc carries the COW
    // rationale; the projections must match its oracle algebra)
    val inserts = Tables.documents(s, d).filter(col("doc_id") % 16 === 1)
      .select((col("doc_id") + 16000000L).as("doc_id"),
        concat(lit("ins:"), col("text")).as("text"))
    liveDf.filter(col("doc_id") % 16 === 1).unionByName(inserts)
      .write.mode("overwrite").parquet(s"$files/merge_b1")
    liveDf.filter(col("doc_id") % 16 === 5)
      .select(col("doc_id"), concat(lit("upd:"), col("text")).as("text"))
      .write.mode("overwrite").parquet(s"$files/merge_b5")
    val mergeTx = TxActions(
      removes = Seq("bucket=1", "bucket=5", "bucket=9").filter(live.contains),
      adds = Seq("merge_b1", "merge_b5"))
    def commit(v: Int, tx: TxActions): Unit = {
      java.nio.file.Files.write(logDir.resolve(f"$v%08d.json"),
        tx.json.getBytes(utf8))
      tx.removes.foreach(p => require(live.remove(p), s"v$v removes unknown $p"))
      tx.adds.foreach(p => require(live.add(p), s"v$v re-adds $p"))
    }
    commit(nCommits0, mergeTx)
    // v5: pure compaction — identical rows, new physical file
    readFiles(Seq("extra_b16", "merge_b5"))
      .write.mode("overwrite").parquet(s"$files/compact_35")
    val compactTx = TxActions(removes = Seq("extra_b16", "merge_b5"),
      adds = Seq("compact_35"))
    commit(nCommits0 + 1, compactTx)
    val perVersion = (0 until nCommits0).map { v =>
      val acts = actions0.filter(_._1 == v)
      TxActions(acts.filter(_._2 == "remove").map(_._3).toSeq,
        acts.filter(_._2 == "add").map(_._3).toSeq)
    } :+ mergeTx :+ compactTx
    // stagger commit mtimes in version order once, at build time:
    // q96's file source admits files by (modification time, path),
    // and same-ms writes would let listing order race version order
    val commitFiles = new java.io.File(logDir.toString).listFiles()
      .filter(_.getName.endsWith(".json")).sortBy(_.getName)
    val t0 = commitFiles.map(_.lastModified()).max
    commitFiles.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(t0 + (i + 1) * 2000L): Unit
    }
    (files, perVersion.toIndexedSeq)
  }

  /** One version's row-level change feed, computed from its touched
    * files ONLY: `(change_type, doc_id, text)` under the CDF
    * classification (see [[c33TxlogChangeFeed]]). Add-only and
    * remove-only commits skip the diff join entirely — the dominant
    * append path pays one scan of the new files and no shuffle.
    */
  private[graft] def txlogChangeRows(s: SparkSession, files: String,
      tx: TxActions): DataFrame = {
    def read(paths: Seq[String]): DataFrame =
      s.read.schema("doc_id BIGINT, text STRING")
        .parquet(paths.map(p => s"$files/$p"): _*)
    if (tx.removes.isEmpty && tx.adds.isEmpty)
      s.range(0).select(lit("none").as("change_type"),
        col("id").as("doc_id"), lit("").as("text"))
    else if (tx.removes.isEmpty)
      read(tx.adds).select(lit("insert").as("change_type"),
        col("doc_id"), col("text"))
    else if (tx.adds.isEmpty)
      read(tx.removes).select(lit("delete").as("change_type"),
        col("doc_id"), col("text"))
    else {
      val changeSchema = "array<struct<change_type:string,text:string>>"
      read(tx.removes).select(col("doc_id"), col("text").as("pre_text"))
        .join(read(tx.adds).select(col("doc_id"), col("text").as("post_text")),
          Seq("doc_id"), "full_outer")
        .select(col("doc_id"), explode(
          when(col("post_text").isNull,
            array(struct(lit("delete").as("change_type"),
              col("pre_text").as("text"))))
          .when(col("pre_text").isNull,
            array(struct(lit("insert").as("change_type"),
              col("post_text").as("text"))))
          .when(col("pre_text") =!= col("post_text"),
            array(struct(lit("update_preimage").as("change_type"),
                col("pre_text").as("text")),
              struct(lit("update_postimage").as("change_type"),
                col("post_text").as("text"))))
          // identical content: a rewrite, not a change — explode of
          // the null array emits no rows and the row vanishes
          .otherwise(lit(null).cast(changeSchema))).as("c"))
        .select(col("c.change_type").as("change_type"), col("doc_id"),
          col("c.text").as("text"))
    }
  }

  /** One prepared transaction: the file-granularity read/write set. */
  private[graft] final case class TxActions(removes: Seq[String], adds: Seq[String]) {
    def json: String =
      (removes.map(p => s"""{"action":"remove","path":"$p"}""") ++
        adds.map(p => s"""{"action":"add","path":"$p"}""")).mkString("\n")
    def touched: Set[String] = removes.toSet ++ adds.toSet
    def apply(live: scala.collection.mutable.LinkedHashSet[String]): Unit = {
      removes.foreach(p => require(live.remove(p), s"tx removes unknown $p"))
      adds.foreach(p => require(live.add(p), s"tx re-adds live $p"))
    }
  }

  /** The atomic commit primitive: write the full content to a temp
    * file, then PUBLISH it under the version name with link(2) —
    * hard-linking fails with EEXIST atomically when the slot is
    * taken, and the content is complete the instant the name appears
    * (rename/ATOMIC_MOVE is the WRONG primitive here: POSIX rename
    * silently REPLACES an existing target, i.e. last-writer-wins —
    * exactly the bug this protocol exists to prevent; object stores
    * expose the same contract as if-none-match/put-if-absent).
    * Returns false when the slot was already taken.
    */
  private[graft] def tryCommit(logDir: java.nio.file.Path, version: Int,
      tx: TxActions): Boolean = {
    val tmp = java.nio.file.Files.createTempFile(logDir, s".tx$version-", ".tmp")
    java.nio.file.Files.write(tmp,
      tx.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    try {
      java.nio.file.Files.createLink(logDir.resolve(f"$version%08d.json"), tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally {
      java.nio.file.Files.deleteIfExists(tmp): Unit
    }
  }

  /** The loser's protocol: read every commit that landed since the
    * transaction's snapshot version, REQUIRE non-overlap (removed
    * files still live, no touched-file intersection — a true conflict
    * aborts loudly rather than last-writer-wins), then retry the next
    * slot; repeats if new writers keep landing. Returns the version
    * the transaction finally committed at.
    */
  private[graft] def resolveAndRetry(s: SparkSession,
      logDir: java.nio.file.Path, snapshotVersion: Int,
      tx: TxActions): Int = {
    var attempt = snapshotVersion
    while (!tryCommit(logDir, attempt, tx)) {
      // validate against the commit that took this slot
      val winner = s.read.schema("action STRING, path STRING")
        .json(logDir.resolve(f"$attempt%08d.json").toString)
        .collect().map(r => (r.getString(0), r.getString(1)))
      val winnerTouched = winner.map(_._2).toSet
      val winnerRemoved = winner.collect { case ("remove", p) => p }.toSet
      val overlap = tx.touched.intersect(winnerTouched) ++
        tx.removes.toSet.intersect(winnerRemoved)
      if (overlap.nonEmpty) throw new IllegalStateException(
        s"txlog conflict: commit #$attempt touched ${overlap.mkString(", ")} " +
          "— transaction aborted (file-granularity serializability)")
      attempt += 1
    }
    attempt
  }

  /** Builds the c25/c26 log-structured table: 16 hive bucket files +
    * the bucket-3 rewrite file, and the four-commit JSON-lines action
    * log (v0 add 0-7, v1 add 8-15, v2 remove 3+7, v3 add the
    * rewrite). Returns the files root, the VALIDATED (commit, action,
    * path) list (gapless filenames `require`d), and the commit count.
    * The one driver-side read here is the metadata-sized action log —
    * the same read every Delta client performs.
    */
  private def txlogTable(s: SparkSession, d: String,
      name: String): (String, Array[(Int, String, String)], Int) = {
    val base = StreamReplay.tempReplayDir(name)
    val files = base.resolve("files").toString
    val logDir = base.resolve("_log")
    java.nio.file.Files.createDirectories(logDir)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), (col("doc_id") % 16).as("bucket"))
    docs.write.mode("overwrite").partitionBy("bucket").parquet(files)
    // the bucket-3 rewrite file: same content, new physical file —
    // the compaction/OPTIMIZE pattern a log-structured table lives by
    docs.filter(col("bucket") === 3).drop("bucket")
      .write.mode("overwrite").parquet(s"$files/extra_b16")
    val filesPath = new org.apache.hadoop.fs.Path(files)
    val fs = filesPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    // a bucket with no docs writes no directory (tiny fixtures) — log
    // only what exists; the oracle's residue algebra agrees for free
    // (an absent bucket contributes no rows either way)
    val present = fs.listStatus(filesPath)
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    def existing(names: Seq[String]): Seq[(String, String)] =
      names.filter(present).map(("add", _))
    val commits: Seq[Seq[(String, String)]] = Seq(
      existing((0 to 7).map(k => s"bucket=$k")),
      existing((8 to 15).map(k => s"bucket=$k")),
      Seq("bucket=3", "bucket=7").filter(present).map(("remove", _)),
      Seq(("add", "extra_b16")))
    commits.zipWithIndex.foreach { case (actions, v) =>
      val json = actions.map { case (a, p) =>
        s"""{"action":"$a","path":"$p"}"""
      }.mkString("\n")
      java.nio.file.Files.write(logDir.resolve(f"$v%08d.json"),
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val logPath = new org.apache.hadoop.fs.Path(logDir.toString)
    val commitNames = fs.listStatus(logPath).map(_.getPath.getName)
      .filter(_.endsWith(".json")).sorted
    commitNames.zipWithIndex.foreach { case (n, i) =>
      require(n == f"$i%08d.json", s"gap in the commit log at $n (expected #$i)")
    }
    // the log IS metadata — this collect reads file actions, not data
    val actions = s.read.schema("action STRING, path STRING")
      .json(logDir.toString)
      .select(col("action"), col("path"),
        regexp_extract(input_file_name(), "(\\d+)\\.json", 1).cast("int").as("commit"))
      .collect()
      .map(r => (r.getInt(2), r.getString(0), r.getString(1)))
      .sortBy(_._1)
    (files, actions, commitNames.length)
  }

  /** INCREMENTAL PROCESSING OFF THE TRANSACTION LOG — the reason
    * lakehouse tables keep a commit log at all: data files are
    * IMMUTABLE, so commit v's added/removed FILE sets are exactly
    * the table's row-level delta, and a nightly consumer reads ONLY
    * those files — cost proportional to the change, never the table
    * (Delta CDF / Iceberg incremental scan, the pattern every
    * incremental pipeline stage builds on; c09's ingest gate is the
    * consumer side, this is the table side). The query replays c25's
    * log and emits, per commit, the added- and removed-doc counts
    * and digests computed from JUST the delta files; the oracle
    * re-derives them from the bucket residue algebra, so the hash
    * gate proves delta-file reads ≡ the declarative row delta —
    * including that v3's rewrite re-add surfaces bucket 3's exact
    * content as an ADD while never rereading the other 14 live
    * files.
    */
  val c26TxlogIncremental = Q(
    "c26_txlog_incremental",
    """WITH v AS (SELECT CAST(unnest(generate_series(0, 3)) AS BIGINT) AS version),
      |adds AS (
      |  SELECT v.version, d.doc_id, d.text
      |  FROM v JOIN documents d ON (
      |    CASE CAST(v.version AS INT)
      |      WHEN 0 THEN d.doc_id % 16 <= 7
      |      WHEN 1 THEN d.doc_id % 16 >= 8
      |      WHEN 2 THEN FALSE
      |      ELSE d.doc_id % 16 = 3 END)
      |), rems AS (
      |  SELECT v.version, d.doc_id, d.text
      |  FROM v JOIN documents d ON (
      |    CASE CAST(v.version AS INT) WHEN 2 THEN d.doc_id % 16 IN (3, 7)
      |      ELSE FALSE END)
      |), a AS (
      |  SELECT version, CAST(count(*) AS BIGINT) AS n_added,
      |    bit_xor(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 15) AS BIGINT)) AS added_xor
      |  FROM adds GROUP BY version
      |), r AS (
      |  SELECT version, CAST(count(*) AS BIGINT) AS n_removed,
      |    bit_xor(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 15) AS BIGINT)) AS removed_xor
      |  FROM rems GROUP BY version
      |)
      |SELECT v.version AS version, COALESCE(a.n_added, 0) AS n_added,
      |       a.added_xor, COALESCE(r.n_removed, 0) AS n_removed, r.removed_xor
      |FROM v LEFT JOIN a ON v.version = a.version
      |       LEFT JOIN r ON v.version = r.version
      |ORDER BY v.version""".stripMargin
  ) { (s, d) =>
    val (files, actions, nCommits) = txlogTable(s, d, "c26")
    def deltaAgg(paths: Seq[String], v: Int, side: String) =
      if (paths.isEmpty)
        s.range(1).select(lit(v.toLong).as("version"),
          lit(0L).as(s"n_$side"), lit(null).cast("long").as(s"${side}_xor"))
      else
        Tables.parquet(s, paths.map(p => s"$files/$p"): _*)
          .agg(count(lit(1)).as(s"n_$side"), txlogDigest.as(s"${side}_xor"))
          .select(lit(v.toLong).as("version"), col(s"n_$side"),
            col(s"${side}_xor"))
    val deltas = (0 until nCommits).map { v =>
      val here = actions.filter(_._1 == v)
      val added = here.collect { case (_, "add", p) => p }.toSeq
      val removed = here.collect { case (_, "remove", p) => p }.toSeq
      deltaAgg(added, v, "added").join(deltaAgg(removed, v, "removed"), "version")
    }
    deltas.reduce(_ union _).orderBy(col("version"))
  }

  /** MERGE-ON-READ DELETION VECTORS — the other half of c27's
    * copy-on-write (round-13 verdict item 3): a COW point delete
    * rewrites whole bucket files; on a 100 TB table the affordable
    * row-level change is a DELETE FILE per commit (Iceberg v2
    * equality deletes / Delta deletion vectors) that the SCAN
    * anti-joins away, with compaction absorbing accumulated deletes
    * back into data files. Semantics under test, both hash-observable
    * in the final per-bucket digest:
    *
    *  1. A delete file applies ONLY to data files committed BEFORE it
    *     (Iceberg's sequence-number rule). Commit v7 inserts rows
    *     whose keys COLLIDE with v4's delete keys — a naive global
    *     anti-join would wrongly re-delete the resurrected keys; the
    *     sequence-aware scan keeps them.
    *  2. Compaction must APPLY the deletes it absorbs: v6 rewrites
    *     bucket 2 (a v0 file) into a v6 file the old delete files no
    *     longer cover — if the rewrite forgot to apply them, the
    *     deleted rows would resurface at scan time and break the
    *     digest.
    *
    * Scale shape: the delete COMMIT writes only the key list it was
    * handed (a GDPR/CDC feed is delivered as keys — cost ∝ delta,
    * never the table; the fixture synthesizes the feed from a
    * predicate, which is the request-generation step, not the commit);
    * the SCAN adds one broadcast anti-join (delete files are
    * metadata-sized next to the table) with the sequence rule as a
    * join-condition inequality; compaction cost ∝ the one rewritten
    * bucket. Data files stay immutable throughout — only the log
    * grows per delete, the property that makes row-level change O(1)
    * on a 100 TB table.
    */
  val c28TxlogDeleteVectors = Q(
    "c28_txlog_delete_vectors",
    """WITH live AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 16 <> 7
      |), after_dv AS (
      |  SELECT doc_id, text FROM live WHERE doc_id % 100 NOT IN (17, 42)
      |), final AS (
      |  SELECT doc_id, text FROM after_dv
      |  UNION ALL
      |  SELECT doc_id + 16000000 AS doc_id, 'ins:' || text AS text
      |  FROM documents WHERE doc_id % 100 = 17
      |)
      |SELECT doc_id % 16 AS bucket, CAST(count(*) AS BIGINT) AS n_docs,
      |  bit_xor(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 15) AS BIGINT)) AS content_xor,
      |  CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
      |FROM final GROUP BY 1 ORDER BY bucket""".stripMargin
  ) { (s, d) =>
    val (files, _, nCommits) = txlogTable(s, d, "c28")
    val logDir = java.nio.file.Paths.get(files).getParent.resolve("_log")
    def appendCommit(v: Int, actions: Seq[(String, String)]): Unit =
      java.nio.file.Files.write(logDir.resolve(f"$v%08d.json"),
        actions.map { case (a, p) => s"""{"action":"$a","path":"$p"}""" }
          .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val docs = Tables.documents(s, d)
    // v4/v5: equality-delete files — just the handed-in key lists
    docs.filter(col("doc_id") % 100 === 17).select(col("doc_id").as("del_id"))
      .write.mode("overwrite").parquet(s"$files/dv4")
    appendCommit(nCommits, Seq(("dv", "dv4")))
    docs.filter(col("doc_id") % 100 === 42).select(col("doc_id").as("del_id"))
      .write.mode("overwrite").parquet(s"$files/dv5")
    appendCommit(nCommits + 1, Seq(("dv", "dv5")))
    // v6: compaction of bucket 2 — rewrite its live rows WITH the
    // standing deletes applied; the new file's sequence number (6)
    // puts it out of dv4/dv5's reach
    val b2Present = new java.io.File(s"$files/bucket=2").exists()
    val bucket2 = (if (b2Present) Tables.parquet(s, s"$files/bucket=2")
      // a tiny-fixture bucket with no docs wrote no directory — the
      // compaction of an empty bucket is an empty (schema-full) file
      else s.range(0).select(col("id").as("doc_id"), lit("").as("text")))
      .filter(col("doc_id") % 100 =!= 17 && col("doc_id") % 100 =!= 42)
    bucket2.write.mode("overwrite").parquet(s"$files/compact_b2")
    appendCommit(nCommits + 2,
      (if (b2Present) Seq(("remove", "bucket=2")) else Nil) :+ (("add", "compact_b2")))
    // v7: inserts whose doc_ids COLLIDE with dv4's keys mod 100 — the
    // resurrected-key case the sequence rule exists for
    docs.filter(col("doc_id") % 100 === 17)
      .select((col("doc_id") + 16000000L).as("doc_id"),
        concat(lit("ins:"), col("text")).as("text"))
      .write.mode("overwrite").parquet(s"$files/ins_v7")
    appendCommit(nCommits + 3, Seq(("add", "ins_v7")))
    // replay the WHOLE log (base + the four appended commits) — the
    // scan below is derived from the log alone, proving
    // log-replay ∘ DV semantics ≡ the declarative row-level delete
    val fs = new org.apache.hadoop.fs.Path(logDir.toString)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val commitNames = fs.listStatus(new org.apache.hadoop.fs.Path(logDir.toString))
      .map(_.getPath.getName).filter(_.endsWith(".json")).sorted
    commitNames.zipWithIndex.foreach { case (n, i) =>
      require(n == f"$i%08d.json", s"gap in the commit log at $n (expected #$i)")
    }
    val replayed = s.read.schema("action STRING, path STRING")
      .json(logDir.toString)
      .select(col("action"), col("path"),
        regexp_extract(input_file_name(), "(\\d+)\\.json", 1).cast("int").as("commit"))
      .collect().map(r => (r.getInt(2), r.getString(0), r.getString(1)))
      .sortBy(_._1)
    val live = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val dvs = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    replayed.foreach {
      case (v, "add", p) =>
        require(live.put(p, v).isEmpty, s"commit $v re-adds live file $p")
      case (v, "remove", p) =>
        require(live.remove(p).nonEmpty, s"commit $v removes unknown file $p")
      case (v, "dv", p) => dvs += ((p, v))
      case (v, a, p) => sys.error(s"commit $v: unknown action $a on $p")
    }
    // the MOR scan: data files grouped by commit version (one scan
    // per distinct version, each multi-path — a real table reads the
    // version off file metadata), anti-joined against all delete
    // files under the sequence rule dv_v > file_v. The delete side is
    // metadata-sized, so the anti-join broadcasts.
    val data = live.toSeq.groupBy(_._2).toSeq.map { case (v, paths) =>
      s.read.schema("doc_id BIGINT, text STRING")
        .parquet(paths.map(p => s"$files/${p._1}"): _*)
        .withColumn("file_v", lit(v))
    }.reduce(_ unionByName _)
    val delFrame = dvs.map { case (p, v) =>
      s.read.schema("del_id BIGINT").parquet(s"$files/$p")
        .withColumn("dv_v", lit(v))
    }.reduce(_ unionByName _)
    data.join(broadcast(delFrame),
        data("doc_id") === delFrame("del_id") && delFrame("dv_v") > data("file_v"),
        "left_anti")
      .groupBy((col("doc_id") % 16).as("bucket"))
      .agg(count(lit(1)).as("n_docs"), txlogDigest.as("content_xor"),
        sum(col("doc_id")).as("sum_doc_id"))
      .orderBy(col("bucket"))
  }

  /** SCHEMA EVOLUTION ACROSS TXLOG COMMITS (round-13 verdict item 4):
    * every long-lived table eventually adds a column, and a
    * log-structured table does it as METADATA — a schema action in
    * the commit log, never a rewrite of existing files. Commit v2
    * here widens (doc_id, text) with `lang STRING` and appends a file
    * WRITTEN under the new schema; the snapshot read at v2 serves old
    * and new files under ONE evolved schema (old rows null-filled),
    * while a TIME-TRAVEL read at v0/v1 applies the schema AS OF that
    * version — the digest formula is schema-dependent (it folds
    * `lang` only where the schema has it), so serving a version under
    * the wrong era's schema breaks the hash.
    *
    * Scale shape: evolution cost is one log entry regardless of table
    * size (the Delta/Iceberg contract); the null-fill is a per-file
    * projection fused into each scan, not a data rewrite; per-version
    * aggregates scan each live set once.
    */
  val c29TxlogSchemaEvolution = Q(
    "c29_txlog_schema_evolution",
    """WITH v AS (SELECT CAST(unnest(generate_series(0, 2)) AS BIGINT) AS version),
      |rows_v AS (
      |  SELECT v.version, d.doc_id, d.text, CAST(NULL AS VARCHAR) AS lang
      |  FROM v JOIN documents d ON (CASE CAST(v.version AS INT)
      |    WHEN 0 THEN d.doc_id % 16 <= 7 ELSE TRUE END)
      |  UNION ALL
      |  SELECT 2 AS version, doc_id + 32000000 AS doc_id,
      |         'v2:' || text AS text,
      |         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'en' WHEN 1 THEN 'fr'
      |           ELSE 'de' END AS lang
      |  FROM documents
      |), dig AS (
      |  SELECT version, doc_id,
      |    CASE WHEN version = 2
      |      THEN CAST(doc_id AS VARCHAR) || ':' || text || ':' || COALESCE(lang, 'null')
      |      ELSE CAST(doc_id AS VARCHAR) || ':' || text END AS payload
      |  FROM rows_v
      |)
      |SELECT version, CAST(count(*) AS BIGINT) AS n_docs,
      |  bit_xor(CAST('0x' || substr(md5(payload), 1, 15) AS BIGINT)) AS content_xor,
      |  CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
      |FROM dig GROUP BY version ORDER BY version""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.types.StructType
    val base = StreamReplay.tempReplayDir("c29")
    val files = base.resolve("files").toString
    val logDir = base.resolve("_log")
    java.nio.file.Files.createDirectories(logDir)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), (col("doc_id") % 16).as("bucket"))
    docs.write.mode("overwrite").partitionBy("bucket").parquet(files)
    val present = {
      val fp = new org.apache.hadoop.fs.Path(files)
      fp.getFileSystem(s.sparkContext.hadoopConfiguration)
        .listStatus(fp).filter(_.isDirectory).map(_.getPath.getName).toSet
    }
    // the v2 file is WRITTEN under the evolved schema
    val schemaV0 = "doc_id BIGINT, text STRING"
    val schemaV2 = "doc_id BIGINT, text STRING, lang STRING"
    Tables.documents(s, d)
      .select((col("doc_id") + 32000000L).as("doc_id"),
        concat(lit("v2:"), col("text")).as("text"),
        when(col("doc_id") % 3 === 0, "en").when(col("doc_id") % 3 === 1, "fr")
          .otherwise("de").as("lang"))
      .write.mode("overwrite").parquet(s"$files/v2_docs")
    // commit log: schema actions carry the era's DDL; the evolution
    // at v2 is one metadata line, no file rewrite
    def entry(a: String, p: String) = s"""{"action":"$a","path":"$p"}"""
    def schemaEntry(ddl: String) = s"""{"action":"schema","cols":"$ddl"}"""
    val commits: Seq[Seq[String]] = Seq(
      schemaEntry(schemaV0) +: (0 to 7).map(k => s"bucket=$k").filter(present)
        .map(entry("add", _)),
      (8 to 15).map(k => s"bucket=$k").filter(present).map(entry("add", _)),
      Seq(schemaEntry(schemaV2), entry("add", "v2_docs")))
    commits.zipWithIndex.foreach { case (lines, v) =>
      java.nio.file.Files.write(logDir.resolve(f"$v%08d.json"),
        lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    // replay: fold live files AND the schema era per version
    val replayed = s.read.schema("action STRING, path STRING, cols STRING")
      .json(logDir.toString)
      .select(col("action"), col("path"), col("cols"),
        regexp_extract(input_file_name(), "(\\d+)\\.json", 1).cast("int").as("commit"))
      .collect()
      .map(r => (r.getInt(3), r.getString(0), Option(r.getString(1)), Option(r.getString(2))))
      .sortBy(_._1)
    val live = scala.collection.mutable.LinkedHashSet.empty[String]
    var schema: StructType = null
    val snapshots = (0 until commits.length).map { v =>
      replayed.filter(_._1 == v).foreach {
        case (_, "schema", _, Some(ddl)) => schema = StructType.fromDDL(ddl)
        case (_, "add", Some(p), _) =>
          require(live.add(p), s"commit $v re-adds live file $p")
        case (_, "remove", Some(p), _) =>
          require(live.remove(p), s"commit $v removes unknown file $p")
        case (_, a, p, _) => sys.error(s"commit $v: unknown action $a on $p")
      }
      require(schema != null, s"commit $v read before any schema action")
      val era = schema // capture: the fold mutates `schema` next round
      // serve every live file under the era schema in ONE scan:
      // mergeSchema unions the files' physical schemas (old files
      // null-fill the evolved column in the scan, never a rewrite),
      // and the projection then selects exactly the era's columns —
      // a column the era lacks is dropped, one missing from every
      // file is null-filled. One multi-path read per version, not a
      // per-file union (17 scans/version measured ~3 s of pure
      // planning at sf0.1).
      val df = s.read.option("mergeSchema", "true")
        .parquet(live.toSeq.map(p => s"$files/$p"): _*)
      val aligned = df.select(era.fields.toSeq.map(f =>
        if (df.columns.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)): _*)
      val payload = concat_ws(":", era.fieldNames.toSeq.map(n =>
        coalesce(col(n).cast("string"), lit("null"))): _*)
      aligned.withColumn("payload_c29", payload)
        .agg(count(lit(1)).as("n_docs"),
          expr(s"bit_xor(CAST(conv(substr(md5(payload_c29), 1, 15), 16, 10) AS BIGINT))")
            .as("content_xor"), sum(col("doc_id")).as("sum_doc_id"))
        .select(lit(v.toLong).as("version"), col("n_docs"), col("content_xor"),
          col("sum_doc_id"))
    }
    snapshots.reduce(_ unionByName _).orderBy(col("version"))
  }

  /** END-TO-END TRAINING-DATA PIPELINE — the full nightly run as ONE
    * registered query: crawl ingest (c12's real WARC→HTTP→HTML byte
    * path) → Gopher quality gate (t27's five integer rules) →
    * exact dedup (d01's min-id keeper) → near-dup COMPONENT collapse
    * (d03's banded LSH + d07's label propagation, the shared
    * [[nearDupComponentFrom]] kernel) → Hamilton-apportioned sample
    * of EXACTLY 199 docs across sources (p13's largest-remainder
    * arithmetic, prime budget so the remainder path is never
    * vacuous) → tar-shard pack of 8 docs/shard (c18's
    * checksum-verifying round-trip). Every stage is individually
    * green in the inventory; this query proves the SURFACES compose
    * — column contracts across stages, cache hygiene, and the
    * funnel's end state, hash-gated as the final shard manifest
    * (per-shard byte-exact tar size, member-text md5, and the
    * budget-exact `n_sampled` window total).
    *
    * Oracle note: the DuckDB spelling starts from `documents.text` —
    * c12 proves the WARC→HTTP→HTML ingest is the byte-exact identity
    * over this corpus, and the Spark side here REALLY runs that byte
    * path, so a parse regression in any of the three parsers fails
    * this hash too.
    *
    * Scale shape: ingest/gate are per-partition map work fused into
    * the scan; exact dedup is the one content-hash shuffle; near-dup
    * adds banded equi-joins (never cartesian); quota arithmetic is
    * domain-sized with the quota table BROADCAST back onto the
    * corpus; only the SAMPLE (budget-bounded, ≤199 rows) ever
    * crosses a global window or a single partition, so the pack
    * stage is constant-sized no matter the corpus.
    */
  val c24PipelineE2e = Q(
    "c24_pipeline_e2e",
    s"""WITH m AS (
       |  ${TextAnalysis.sqlGopherMetricsCte("documents", " source, text,")}
       |), keepers AS (
       |  SELECT doc_id, source, text FROM (
       |    SELECT doc_id, source, text,
       |           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |    FROM m WHERE ${TextAnalysis.sqlGopherKeepCond}
       |  ) WHERE rn = 1
       |), ${sqlNearDupComponentCtes(Seq("source", "text"))},
       |src AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM kept GROUP BY source
       |), tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n FROM src),
       |qta AS (
       |  SELECT source, n_docs,
       |         CAST((199 * n_docs) // n AS BIGINT) AS base_quota,
       |         CAST((199 * n_docs) % n AS BIGINT) AS remainder
       |  FROM src, tot
       |), dfc AS (SELECT CAST(199 - sum(base_quota) AS BIGINT) AS deficit FROM qta),
       |quotas AS (
       |  SELECT source,
       |         base_quota + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS final_quota
       |  FROM (SELECT qta.*, dfc.deficit,
       |               row_number() OVER (ORDER BY remainder DESC, source) AS rk
       |        FROM qta, dfc)
       |), sampled AS (
       |  SELECT r.doc_id, r.text
       |  FROM (SELECT doc_id, source, text,
       |               row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rk
       |        FROM kept) r
       |  JOIN quotas q ON r.source = q.source
       |  WHERE r.rk <= q.final_quota
       |), ordered AS (
       |  SELECT doc_id, text, row_number() OVER (ORDER BY doc_id) AS grk
       |  FROM sampled
       |), shards AS (
       |  SELECT (grk - 1) // 8 AS shard_id, count(*) AS n_members,
       |    CAST(1024 + sum(512 + ((strlen(text) + 511) // 512) * 512) AS BIGINT)
       |      AS n_bytes,
       |    md5(string_agg(text, chr(10) ORDER BY doc_id)) AS texts_md5,
       |    CAST(sum(strlen(text)) AS BIGINT) AS total_chars
       |  FROM ordered GROUP BY 1
       |)
       |SELECT shard_id, n_members, n_bytes, texts_md5, total_chars,
       |  CAST(sum(n_members) OVER () AS BIGINT) AS n_sampled
       |FROM shards ORDER BY shard_id""".stripMargin
  ) { (s, d) => c24From(s, c24Kept(s, d)) }

  /** c24 stages 1-4 (ingest → gate → exact dedup → near-dup collapse),
    * factored so the r16 stage-split probe can time each boundary; the
    * registered query consumes the final checkpointed kept frame.
    */
  private[graft] def c24Ingested(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.{HtmlExtract, WarcIngest}
    // stage 1: crawl ingest — c12's WARC→HTTP→HTML byte path, run for
    // real (the oracle starts from documents.text; c12 pins identity)
    // spread: the WARC encode→parse→HTML-extract chain is pure
    // per-row CPU pinned to the single-row-group scan task
    // (Tables.spread, guide §2.5)
    Tables.spread(Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("text")))
      .as[(Long, String, String)]
      .mapPartitions(_.map { case (id, src, text) =>
        val uri = s"https://example.com/doc/$id"
        val shard = WarcIngest.warcinfoRecord("software: graft-synth\r\n") ++
          WarcIngest.responseRecord(uri,
            WarcIngest.httpResponse(TextAnalysis.htmlOf(id, text)))
        val resp = WarcIngest.parseRecords(shard)
          .find(_.headers.get("warc-type").contains("response"))
          .getOrElse(throw new IllegalArgumentException(
            s"doc_id=$id: shard has no response record"))
        val http = WarcIngest.parseHttp(resp.payload)
        val page = new String(http.body, java.nio.charset.StandardCharsets.UTF_8)
        (id, src, HtmlExtract.extract(page).text)
      }).toDF("doc_id", "source", "text")
  }

  /** c24 stage 2: Gopher gate (t27's shared metric + keep spellings). */
  private[graft] def c24Gated(s: SparkSession, d: String): DataFrame =
    c24Ingested(s, d)
      .select(col("doc_id") +: col("source") +: col("text") +:
        TextAnalysis.gopherMetricCols: _*)
      .filter(TextAnalysis.gopherKeepCond)
      .select(col("doc_id"), col("source"), col("text"))

  /** c24 stage 3: exact dedup — min-id keeper per content hash. */
  private[graft] def c24Keepers(s: SparkSession, d: String): DataFrame = {
    val wExact = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    c24Gated(s, d).withColumn("rn", row_number().over(wExact))
      .filter(col("rn") === 1).drop("rn")
  }

  /** c24 stage 4: near-dup component keeper (the c02 kernel, carrying
    * source for the quota stage and text for the pack stage),
    * eagerly checkpointed — feeds the quota counts AND the sample path.
    */
  private[graft] def c24Kept(s: SparkSession, d: String): DataFrame =
    nearDupComponentFrom(c24Keepers(s, d), Seq("source", "text"),
      "c24_pipeline_e2e")
      .localCheckpoint()

  /** c24 stages 5-6 over an already-materialized kept frame. */
  private def c24From(s: SparkSession, kept: DataFrame): DataFrame = {
    import s.implicits._
    import graft.functions.TarIngest
    val B = 199L
    // stage 5: Hamilton apportionment of B docs over sources (p13's
    // integer arithmetic; quota table is domain-sized → broadcast)
    val src = kept.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val tot = src.agg(sum(col("n_docs")).as("n"))
    val qta = src.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        expr(s"($B * n_docs) DIV n").as("base_quota"),
        (lit(B) * col("n_docs") % col("n")).as("remainder"))
    val deficit = qta.agg((lit(B) - sum(col("base_quota"))).as("deficit"))
    val quotas = qta.crossJoin(broadcast(deficit))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("remainder").desc, col("source"))))
      .select(col("source"),
        (col("base_quota") +
          when(col("rk") <= col("deficit"), 1L).otherwise(0L)).as("final_quota"))
    val sampled = kept
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("doc_id"))))
      .join(broadcast(quotas), "source")
      .filter(col("rk") <= col("final_quota"))
      .select(col("doc_id"), col("text"))
    // stage 6: tar-shard pack (c18's checksum-verifying round-trip).
    // The global rank window runs over the SAMPLE (≤199 rows), never
    // the corpus — the single partition it implies is budget-sized.
    sampled
      .withColumn("grk", row_number().over(Window.orderBy(col("doc_id"))))
      .select(expr("(grk - 1) div 8").as("shard_id"), col("doc_id"), col("text"))
      .groupBy(col("shard_id"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("text")))).as("members"))
      .as[(Long, Seq[(Long, String)])]
      .map { case (shardId, members) =>
        val tar = TarIngest.build(members.map { case (id, t) =>
          (s"$id.txt", t.getBytes("UTF-8"))
        })
        val parsed = TarIngest.parse(tar) // checksum-verifying round-trip
        require(parsed.length == members.length,
          s"shard $shardId: wrote ${members.length} members, read back ${parsed.length}")
        require(parsed.map(_.name) == members.map(mm => s"${mm._1}.txt"),
          s"shard $shardId: member names did not round-trip")
        val texts = parsed.map(mm => new String(mm.data, "UTF-8"))
        (shardId, members.length.toLong, tar.length.toLong,
          texts.mkString("\n"), parsed.map(_.data.length.toLong).sum)
      }
      .toDF("shard_id", "n_members", "n_bytes", "texts", "total_chars")
      .select(col("shard_id"), col("n_members"), col("n_bytes"),
        md5(col("texts")).as("texts_md5"), col("total_chars"),
        sum(col("n_members")).over(Window.partitionBy()).as("n_sampled"))
      .orderBy(col("shard_id"))
  }

  def all: Seq[Q] = Seq(c01Curate, c02CurateNearDup, c03PackSequences,
    c04CurateDecontam, c05CurateMixture, c06CuratePack, c07CurationFunnel,
    c08ChunkOverlap, c09IncrementalIngest, c10ChunkDedup, c11CompressedIngest,
    c12WarcIngest, c13DomainRank, c14ZipIngest, c15TarIngest, c16UrlCanonical,
    c17RobotsFilter, c18ShardPack, c19FuzzyDecontam, c20CharsetSniff,
    c21CdcChunking, c22SpanScrub, c23Compact, c24PipelineE2e,
    c25TxlogSnapshot, c26TxlogIncremental, c27TxlogMerge,
    c28TxlogDeleteVectors, c29TxlogSchemaEvolution,
    c30TxlogOptimisticConcurrency, c31TxlogCheckpointStats,
    c32TxlogVacuum, c33TxlogChangeFeed, c34TxlogZorderOptimize)
}
