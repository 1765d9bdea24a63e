package graft.operators

import graft.{Q, Tables}
import graft.functions.TextVec._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis inventory (SURVEY.md §2C ⟨ns⟩ "Text analysis"):
  * token statistics, heuristic language ID, quality scoring, and
  * order-sensitive document fingerprinting. All per-row native
  * expressions — zero shuffle, fully codegen'd, trivially parallel
  * at 100 TB.
  */
object TextAnalysis {

  /** Token counting + lexical stats per document. */
  val t01TokenStats = Q(
    "t01_token_stats",
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS n_tokens,
      |  len(list_distinct(string_split(text, ' '))) AS n_distinct,
      |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |    / len(string_split(text, ' ')) AS type_token_ratio,
      |  CAST(list_sum(list_transform(string_split(text, ' '), t -> length(t))) AS BIGINT) AS n_chars_tok,
      |  CAST(list_sum(list_transform(string_split(text, ' '), t -> length(t))) AS DOUBLE)
      |    / len(string_split(text, ' ')) AS avg_token_len
      |FROM documents
      |ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    val tk = tokens(col("text"))
    val totalLen = aggregate(tk, lit(0), (acc, t) => acc + length(t))
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(tk).as("n_tokens"),
        size(array_distinct(tk)).as("n_distinct"),
        (size(array_distinct(tk)).cast("double") / size(tk)).as("type_token_ratio"),
        totalLen.cast("long").as("n_chars_tok"),
        (totalLen.cast("double") / size(tk)).as("avg_token_len"))
      .orderBy(col("doc_id"))
  }

  /** Heuristic language ID: marker-word frequency scores with a fixed
    * argmax priority (en > zh > es > de > fr). The markers are fixed
    * constants; the operator pattern — n-gram profile scoring — is
    * what matters, and it is deterministic in both engines.
    */
  val t02LangId = Q(
    "t02_lang_id",
    { def cnt(w: String) = s"len(list_filter(string_split(text, ' '), t -> t = '$w'))"
      val sEn = s"${cnt("the")} + ${cnt("a")}"
      val sZh = s"${cnt("join")} + ${cnt("small")}"
      val sEs = s"${cnt("slow")} + ${cnt("agg")}"
      val sDe = s"${cnt("customer")} + ${cnt("hash")}"
      val sFr = s"${cnt("scan")} + ${cnt("data")}"
      s"""SELECT doc_id, lang,
         |  CASE WHEN s_en >= s_zh AND s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
         |       WHEN s_zh >= s_es AND s_zh >= s_de AND s_zh >= s_fr THEN 'zh'
         |       WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
         |       WHEN s_de >= s_fr THEN 'de'
         |       ELSE 'fr' END AS lang_pred
         |FROM (SELECT doc_id, lang, $sEn AS s_en, $sZh AS s_zh, $sEs AS s_es,
         |             $sDe AS s_de, $sFr AS s_fr
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin }
  ) { (s, d) =>
    def cnt(w: String) = size(filter(tokens(col("text")), t => t === w))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        (cnt("the") + cnt("a")).as("s_en"),
        (cnt("join") + cnt("small")).as("s_zh"),
        (cnt("slow") + cnt("agg")).as("s_es"),
        (cnt("customer") + cnt("hash")).as("s_de"),
        (cnt("scan") + cnt("data")).as("s_fr"))
      .select(col("doc_id"), col("lang"),
        when(col("s_en") >= col("s_zh") && col("s_en") >= col("s_es")
          && col("s_en") >= col("s_de") && col("s_en") >= col("s_fr"), "en")
          .when(col("s_zh") >= col("s_es") && col("s_zh") >= col("s_de")
            && col("s_zh") >= col("s_fr"), "zh")
          .when(col("s_es") >= col("s_de") && col("s_es") >= col("s_fr"), "es")
          .when(col("s_de") >= col("s_fr"), "de")
          .otherwise("fr").as("lang_pred"))
      .orderBy(col("doc_id"))
  }

  /** Quality scoring: length score, type-token ratio, stopword ratio,
    * alpha-character ratio, combined into a weighted score. All
    * ratios are integer-count divisions — deterministic doubles.
    */
  val t03QualityScore = Q(
    "t03_quality_score",
    { val toks = "string_split(text, ' ')"
      val stop = s"len(list_filter($toks, t -> t IN ('the', 'a', 'of', 'to', 'and')))"
      s"""SELECT doc_id,
         |  least(CAST(len($toks) AS DOUBLE) / 40.0, 1.0) AS len_score,
         |  CAST(len(list_distinct($toks)) AS DOUBLE) / len($toks) AS ttr,
         |  CAST($stop AS DOUBLE) / len($toks) AS stopword_ratio,
         |  CAST(length(replace(text, ' ', '')) AS DOUBLE) / nullif(length(text), 0) AS dense_ratio,
         |  0.4 * least(CAST(len($toks) AS DOUBLE) / 40.0, 1.0)
         |    + 0.4 * (CAST(len(list_distinct($toks)) AS DOUBLE) / len($toks))
         |    + 0.2 * (CAST($stop AS DOUBLE) / len($toks)) AS quality
         |FROM documents
         |ORDER BY doc_id""".stripMargin }
  ) { (s, d) =>
    val tk = tokens(col("text"))
    val stopwords = Seq("the", "a", "of", "to", "and")
    val stop = size(filter(tk, t => t.isin(stopwords.map(x => lit(x)): _*)))
    val lenScore = least(size(tk).cast("double") / 40.0, lit(1.0))
    val ttr = size(array_distinct(tk)).cast("double") / size(tk)
    val stopRatio = stop.cast("double") / size(tk)
    Tables.documents(s, d)
      .select(col("doc_id"),
        lenScore.as("len_score"),
        ttr.as("ttr"),
        stopRatio.as("stopword_ratio"),
        (length(regexp_replace(col("text"), " ", "")).cast("double")
          / nullif(length(col("text")), lit(0))).as("dense_ratio"),
        (lenScore * 0.4 + ttr * 0.4 + stopRatio * 0.2).as("quality"))
      .orderBy(col("doc_id"))
  }

  /** Document fingerprints: an order-insensitive canonical hash
    * (md5 of the sorted token set) and an order-sensitive polynomial
    * rolling hash — same doc content ⇒ same prints, token reorderings
    * flip only the rolling hash.
    */
  val t04Fingerprint = Q(
    "t04_fingerprint",
    { val toks = "string_split(text, ' ')"
      s"""SELECT doc_id,
         |  md5(array_to_string(list_sort(list_distinct($toks)), ' ')) AS canonical_print,
         |  ${rollhashDuckSql(toks)} AS rolling_print
         |FROM documents
         |ORDER BY doc_id""".stripMargin }
  ) { (s, d) =>
    // rolling_print runs the RollHash kernel: one md5 per token in a
    // tight loop vs FOUR per token in the interpreted lambda spelling
    // (which remains the oracle's and TextVec's documented contract)
    val tk = tokens(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        md5(concat_ws(" ", array_sort(array_distinct(tk)))).as("canonical_print"),
        graft.functions.RollHash(tk).as("rolling_print"))
      .orderBy(col("doc_id"))
  }

  /** BPE-ish subword tokenization via regex (greedy ≤3-char chunks —
    * a stand-in for a merges table; the pipeline shape is identical):
    * per-corpus top-25 subwords by frequency. Explode → count →
    * top-k; at scale the explode is map-side and the count is a
    * two-phase agg on a bounded key space.
    */
  val t05BpeTokens = Q(
    "t05_bpe_tokens",
    """SELECT subword, count(*) AS n
      |FROM (SELECT unnest(regexp_extract_all(text, '[a-z]{1,3}')) AS subword
      |      FROM documents)
      |GROUP BY subword
      |ORDER BY n DESC, subword
      |LIMIT 25""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .select(explode(regexp_extract_all(col("text"), lit("[a-z]{1,3}"), lit(0))).as("subword"))
      .groupBy(col("subword"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("subword"))
      .limit(25)
  }

  /** Repetition filtering (the Gopher-rules shape): per-document
    * duplicate-token fraction and most-frequent-bigram fraction, plus
    * the keep/drop decision. Both fractions are integer-count
    * divisions (deterministic doubles). Per-row lambdas only — zero
    * shuffle; the O(m²) bigram count is bounded by document token
    * count, not corpus size, so the operator stays embarrassingly
    * parallel at 100 TB.
    */
  val t06RepetitionFilter = Q(
    "t06_repetition_filter",
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |), grams AS (
      |  SELECT doc_id, tk,
      |         list_transform(generate_series(1, len(tk) - 1),
      |                        i -> tk[i] || ' ' || tk[i+1]) AS bg
      |  FROM toks
      |), counted AS (
      |  SELECT doc_id, len(tk) AS n_tokens, len(list_distinct(tk)) AS n_distinct,
      |         list_max(list_transform(list_distinct(bg),
      |                                 g -> len(list_filter(bg, x -> x = g)))) AS top_bg
      |  FROM grams
      |), fracs AS (
      |  SELECT doc_id, n_tokens,
      |         1.0 - CAST(n_distinct AS DOUBLE) / n_tokens AS dup_token_frac,
      |         CASE WHEN n_tokens < 2 THEN 0.0
      |              ELSE CAST(top_bg AS DOUBLE) / (n_tokens - 1) END AS top_bigram_frac
      |  FROM counted
      |)
      |SELECT doc_id, n_tokens, dup_token_frac, top_bigram_frac,
      |       CAST(top_bigram_frac <= 0.05 AND dup_token_frac <= 0.6 AS INT) AS keep
      |FROM fracs
      |ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d).createOrReplaceTempView("graft_docs_rep")
    // Layered projections so each intermediate (tokens, bigram array)
    // is a named column evaluated once per row — an earlier inline
    // spelling re-built the bigram array inside the per-gram lambda
    // (O(m³) interpreted work, 66 s at sf0.001). The per-gram count
    // itself is the MaxDupCount kernel: one O(m) counting pass
    // instead of the O(m²) distinct × filter lambda scan (same
    // values; empty-bg rows are covered by the n_tokens < 2 guard).
    // Guarded sequence: Spark's sequence(1, 0) DESCENDS instead of
    // returning empty, and element_at(tk, 0) then throws.
    val grams = s.sql(
      """SELECT doc_id, tk,
        |       CASE WHEN size(tk) >= 2
        |            THEN transform(sequence(1, size(tk) - 1),
        |                           i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))
        |            ELSE array() END AS bg
        |FROM (SELECT doc_id, split(text, ' ') AS tk FROM graft_docs_rep)""".stripMargin)
    val fracs = grams.select(col("doc_id"), size(col("tk")).as("n_tokens"),
        size(array_distinct(col("tk"))).as("n_distinct"),
        graft.functions.MaxDupCount(col("bg")).as("top_bg"))
      .select(col("doc_id"), col("n_tokens"),
        (lit(1.0) - col("n_distinct").cast("double") / col("n_tokens")).as("dup_token_frac"),
        when(col("n_tokens") < 2, 0.0)
          .otherwise(col("top_bg").cast("double") / (col("n_tokens") - 1))
          .as("top_bigram_frac"))
    fracs.select(col("doc_id"), col("n_tokens"), col("dup_token_frac"),
        col("top_bigram_frac"),
        (col("top_bigram_frac") <= 0.05 && col("dup_token_frac") <= 0.6)
          .cast("int").as("keep"))
      .orderBy(col("doc_id"))
  }

  /** TF-IDF-style term scoring: top-3 terms per document (doc_id<50)
    * by `tf · N / df`. Rational scoring instead of `tf · ln(N/df)` on
    * purpose: ln is a libm call whose low bits may differ between the
    * JVM and DuckDB, while integer-valued doubles multiply and divide
    * bit-identically — the ranking is the same monotone order. The
    * shape is the scalable one: explode → two-phase (doc,term) count,
    * term-keyed df aggregate, broadcastable scalar N, per-doc top-k
    * window.
    */
  val t07Tfidf = Q(
    "t07_tfidf",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
      |), tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
      |), df AS (
      |  SELECT term, count(*) AS df FROM tf GROUP BY term
      |), n AS (
      |  SELECT count(*) AS n_docs FROM documents
      |), scored AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |         CAST(tf.tf AS DOUBLE) * n.n_docs / df.df AS tfidf
      |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
      |  WHERE tf.doc_id < 50
      |), ranked AS (
      |  SELECT doc_id, term, tf, df, tfidf,
      |         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS k
      |  FROM scored
      |)
      |SELECT doc_id, term, tf, df, tfidf, k FROM ranked
      |WHERE k <= 3
      |ORDER BY doc_id, k""".stripMargin
  ) { (s, d) =>
    val docs = Tables.documents(s, d)
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.filter(col("doc_id") < 50)
      .join(df, "term")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        (col("tf").cast("double") * col("n_docs") / col("df")).as("tfidf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("k", row_number().over(w))
      .filter(col("k") <= 3)
      .orderBy(col("doc_id"), col("k"))
  }

  /** Corpus vocabulary builder: top-50 whole-word terms by collection
    * frequency, with document frequency alongside — the first step of
    * tokenizer/vocab training over a corpus. Shape: map-side explode
    * → two-phase (term) aggregate → `TakeOrderedAndProject` top-k (NO
    * global sort — the per-partition top-50s merge on the driver),
    * then a rank window over just the 50 survivors.
    */
  val t08Vocab = Q(
    "t08_vocab",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
      |), v AS (
      |  SELECT term, count(*) AS cf, count(DISTINCT doc_id) AS df
      |  FROM tok GROUP BY term
      |  ORDER BY cf DESC, term
      |  LIMIT 50
      |)
      |SELECT term, cf, df,
      |       row_number() OVER (ORDER BY cf DESC, term) AS rk
      |FROM v
      |ORDER BY rk""".stripMargin
  ) { (s, d) =>
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val top = tok.groupBy(col("term"))
      .agg(count(lit(1)).as("cf"), count_distinct(col("doc_id")).as("df"))
      .orderBy(col("cf").desc, col("term"))
      .limit(50)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cf").desc, col("term"))
    top.withColumn("rk", row_number().over(w))
      .orderBy(col("rk"))
  }

  /** PII scrub — detect and redact email addresses and phone-shaped
    * tokens before a corpus reaches training. The synthetic corpus
    * contains no PII, so both spellings first inject one
    * deterministic email + phone per row (derived from `doc_id`,
    * identical in both engines) and then run the real machinery:
    * count matches, redact, and re-scan the redacted text to prove
    * zero residual matches (`n_residual` is oracle-hashed, so a
    * regex-dialect divergence between Java regex and DuckDB's RE2
    * fails the gate — the patterns stay inside the common subset:
    * explicit classes, `{m,}` bounds, no lookaround).
    *
    * Scale shape: pure per-row projection, fully codegen'd, zero
    * shuffle — the same cost model as t01-t04. The Spark side runs
    * the `PiiScrub` kernel (one concat + five compiled-Pattern
    * passes per row — see its Scaladoc; the declarative form paid
    * five concats + six regex trees once CollapseProject inlined the
    * `raw` alias); this declarative SQL remains the oracle and the
    * semantic spec, and GraftExtensionsSpec pins kernel ≡
    * declarative on the real corpus.
    */
  val t09PiiScrub = {
    val email = graft.functions.PiiScrub.EmailPattern
    val phone = graft.functions.PiiScrub.PhonePattern
    Q(
      "t09_pii_scrub",
      s"""WITH inj AS (
         |  SELECT doc_id,
         |         text || ' contact user' || CAST(doc_id AS VARCHAR)
         |              || '@example.com ref +1-555-'
         |              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
         |  FROM documents
         |), red AS (
         |  SELECT doc_id, raw,
         |         regexp_replace(regexp_replace(raw, '$email', '<EMAIL>', 'g'),
         |                        '$phone', '<PHONE>', 'g') AS redacted
         |  FROM inj
         |)
         |SELECT doc_id,
         |       len(regexp_extract_all(raw, '$email')) AS n_emails,
         |       len(regexp_extract_all(raw, '$phone')) AS n_phones,
         |       redacted,
         |       len(regexp_extract_all(redacted, '$email'))
         |         + len(regexp_extract_all(redacted, '$phone')) AS n_residual
         |FROM red ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      val raw = concat(col("text"), lit(" contact user"),
        col("doc_id").cast("string"), lit("@example.com ref +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      val pii = graft.functions.PiiScrub(raw)
      Tables.documents(s, d)
        .select(col("doc_id"), pii.as("pii"))
        .select(col("doc_id"),
          col("pii.n_emails").as("n_emails"),
          col("pii.n_phones").as("n_phones"),
          col("pii.redacted").as("redacted"),
          col("pii.n_residual").as("n_residual"))
        .orderBy(col("doc_id"))
    }
  }

  /** Benchmark-contamination check — which corpus documents share
    * verbatim 8-grams with a held-out benchmark set (here: p01's
    * deterministic 5% md5 sample standing in for the eval set)?
    * Reports, per contaminated corpus doc, how many distinct
    * 8-grams overlap, the contaminated fraction of the doc's own
    * distinct 8-grams, and the benchmark document frequency of the
    * hottest shared gram (`max_bench_df` separates "overlaps one
    * bench doc's unique text" from "overlaps boilerplate shared by
    * many") — the n-gram-overlap decontamination test run before
    * training.
    *
    * Scale shape: the benchmark side is aggregated to ONE row per
    * gram (gram, bench df) BEFORE the join — a per-bench-doc side
    * would multiply every frequent shingle by its bench df and blow
    * the join up quadratically in hot grams (the 10× scale probe
    * measured exactly that: 24.6 s at sf0.1 for the per-doc
    * spelling, 1-2 s aggregated). Being small by definition, the
    * per-gram set BROADCASTs, so the corpus stream never shuffles
    * for the join; production compresses it further into a bloom
    * filter (dropping `max_bench_df`), same per-doc verdict.
    */
  val t10Contamination = {
    Q(
      "t10_contamination",
      s"""WITH tok AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk,
         |         substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '0ccd' AS is_bench
         |  FROM documents
         |), grams AS (
         |  SELECT doc_id, is_bench, ${sqlGrams8("tk")} AS gs
         |  FROM tok
         |), g AS (
         |  SELECT doc_id, is_bench, len(gs) AS n_tot, unnest(gs) AS gram FROM grams
         |), bench_g AS MATERIALIZED (
         |  SELECT gram, count(DISTINCT doc_id) AS bench_df
         |  FROM g WHERE is_bench GROUP BY gram
         |)
         |SELECT c.doc_id,
         |       count(*) AS n_shared,
         |       max(b.bench_df) AS max_bench_df,
         |       CAST(count(*) AS DOUBLE) / max(c.n_tot) AS contam_frac
         |FROM g c JOIN bench_g b ON c.gram = b.gram AND NOT c.is_bench
         |GROUP BY c.doc_id
         |ORDER BY c.doc_id""".stripMargin
    ) { (s, d) =>
      val gs = grams8(tokens(col("text")))
      val g = Tables.documents(s, d)
        .select(col("doc_id"),
          (substring(md5(col("doc_id").cast("string")), 1, 4) < "0ccd").as("is_bench"),
          gs.as("gs"))
        .select(col("doc_id"), col("is_bench"), size(col("gs")).as("n_tot"),
          explode(col("gs")).as("gram"))
      // one row per bench gram: corpus grams are already distinct per
      // doc (grams8 dedups), so count(*) after the join = n_shared
      val benchG = g.filter(col("is_bench")).groupBy(col("gram"))
        .agg(count_distinct(col("doc_id")).as("bench_df"))
      g.filter(!col("is_bench")).alias("c")
        .join(broadcast(benchG.alias("b")), col("c.gram") === col("b.gram"))
        .groupBy(col("c.doc_id"))
        .agg(count(lit(1)).as("n_shared"),
          max(col("b.bench_df")).as("max_bench_df"),
          (count(lit(1)).cast("double") / max(col("c.n_tot"))).as("contam_frac"))
        .orderBy(col("c.doc_id"))
    }
  }

  /** Unigram-rarity scoring — the LM-free stand-in for perplexity
    * filtering: how "surprising" is each document under the corpus's
    * own unigram distribution? Per doc: token count, the fraction of
    * tokens OUTSIDE the top-1000 corpus vocabulary (the OOV rate a
    * tokenizer-budget decision needs), and an integer rarity mass
    * Σ (N div cf) over in-vocabulary tokens (N = corpus token count,
    * cf = the token's corpus frequency) — rare tokens contribute big
    * summands, boilerplate contributes ~1s. A real pipeline scores
    * with a trained LM's log-prob; the plumbing (corpus-level stats
    * broadcast back onto a per-token stream, re-aggregated per doc)
    * is identical, and the integer spelling keeps the oracle exact
    * where log-prob floats would drift.
    *
    * Scale shape: one two-phase agg for cf (shuffle on term), a
    * TakeOrderedAndProject for the top-1000 vocab, the vocab+total
    * BROADCAST back onto the exploded token stream (no corpus
    * shuffle), and one keyed re-agg per doc — the same two-shuffle
    * budget as t07's TF-IDF at any corpus size.
    */
  val t11UnigramRarity = Q(
    "t11_unigram_rarity",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
      |), cf AS (
      |  SELECT term, count(*) AS cf FROM tok GROUP BY term
      |), tot AS (
      |  SELECT CAST(sum(cf) AS BIGINT) AS n FROM cf
      |), vocab AS (
      |  SELECT term, cf FROM cf ORDER BY cf DESC, term LIMIT 1000
      |), j AS (
      |  SELECT t.doc_id, t.term, v.cf FROM tok t
      |  LEFT JOIN vocab v ON t.term = v.term
      |)
      |SELECT j.doc_id,
      |       count(*) AS n_tokens,
      |       count(*) FILTER (WHERE j.cf IS NULL) AS n_oov,
      |       CAST(count(*) FILTER (WHERE j.cf IS NULL) AS DOUBLE) / count(*) AS oov_frac,
      |       CAST(coalesce(sum(tot.n // j.cf), 0) AS BIGINT) AS rarity_sum
      |FROM j, tot
      |GROUP BY j.doc_id
      |ORDER BY j.doc_id""".stripMargin
  ) { (s, d) =>
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val cf = tok.groupBy(col("term")).agg(count(lit(1)).as("cf"))
    val tot = cf.agg(sum(col("cf")).cast("long").as("n"))
    val vocab = cf.orderBy(col("cf").desc, col("term")).limit(1000)
    tok.join(broadcast(vocab), Seq("term"), "left")
      .crossJoin(broadcast(tot))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        count(when(col("cf").isNull, 1)).as("n_oov"),
        (count(when(col("cf").isNull, 1)).cast("double") / count(lit(1))).as("oov_frac"),
        coalesce(sum(expr("n DIV cf")), lit(0L)).cast("long").as("rarity_sum"))
      .orderBy(col("doc_id"))
  }

  /** HEAVY HITTERS via a Misra-Gries sketch (k = 29 counters — below
    * the 31-token vocabulary, so evictions genuinely occur on this
    * corpus): the frequency-sketch member of the approximate-agg
    * family (q22 HLL cardinality, q29 percentile sketch, d10 bloom
    * membership). Tokens fold into per-partition sketches that merge
    * associatively ([[graft.functions.MisraGries]], the mergeable-
    * summaries construction); the driver holds only the k-entry
    * model. The oracle gates the guarantee, q22-style: DuckDB
    * computes the EXACT counts and the true heavy-hitter set
    * (n·(k+1) > total — integer arithmetic, engine-identical), and
    * Spark's `in_sketch` flag must be 1 for every one of them (the
    * MG bound: true frequency > n/(k+1) ⟹ present under ANY merge
    * order — sub-threshold sketch contents are order-dependent and
    * deliberately not emitted). A broken reduce/merge fails the hash.
    *
    * Scale shape: one explode + one object-hash aggregate whose
    * state is k counters per partition (KB-sized at any corpus), and
    * a model-sized driver collect; the exact-count side is a
    * two-phase agg over the 31-token vocabulary. At 100 TB the
    * exact side disappears and the sketch IS the answer — here both
    * run so the sketch can be judged against the truth.
    */
  val t12HeavyHitters = Q(
    "t12_heavy_hitters",
    """WITH x AS (
      |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
      |), c AS (
      |  SELECT tok, CAST(count(*) AS BIGINT) AS n FROM x GROUP BY tok
      |), t AS (
      |  SELECT CAST(sum(n) AS BIGINT) AS total FROM c
      |)
      |SELECT c.tok AS token, c.n, 1 AS in_sketch
      |FROM c, t
      |WHERE c.n * 30 > t.total
      |ORDER BY c.n DESC, c.tok""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val K = 29
    val toks = Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("tok"))
      .cache() // feeds the sketch action AND the exact-count aggregate
    // k-entry model to the driver (the AnnKmeans contract) — never data
    val sketch: Map[String, Long] =
      toks.as[String].select(graft.functions.MisraGries(K).toColumn).head()
    val sketchKeys = sketch.keys.toSeq.sorted
    val counts = toks.groupBy(col("tok"))
      .agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("total"))
    counts.crossJoin(broadcast(total)) // 1-row broadcast, not a cartesian
      .filter(col("n") * (K + 1) > col("total"))
      .select(col("tok").as("token"), col("n"),
        when(if (sketchKeys.isEmpty) lit(false) else col("tok").isin(sketchKeys: _*), 1)
          .otherwise(0).cast("int").as("in_sketch"))
      .orderBy(col("n").desc, col("token"))
  }

  /** CORPUS PROFILE — the per-language "data card" every shipped
    * corpus carries (counts, token volume, quality-pass rate, size
    * envelope): one two-phase aggregate over the documents table,
    * all integer-exact fields (token counts summed as BIGINT, the
    * quality gate counted not averaged — double sums are
    * order-dependent, comparisons are not).
    *
    * Scale shape: a single map-side-partial groupBy with one tiny
    * shuffle (5 language groups) — the cheapest query in the suite
    * at any corpus size, which is the point: the data card is
    * recomputed after every pipeline stage.
    */
  val t13CorpusProfile = Q(
    "t13_corpus_profile",
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
      |  count(*) FILTER (n_chars >= 120) AS n_large,
      |  CAST(min(n_chars) AS BIGINT) AS min_chars,
      |  CAST(max(n_chars) AS BIGINT) AS max_chars,
      |  count(DISTINCT source) AS n_sources
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast("long")).as("total_tokens"),
        count(when(col("n_chars") >= 120, 1)).as("n_large"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy(col("lang"))
  }

  /** Deterministic HTML page around a document's text: head with
    * title/style/script (script contains a literal `<` — the
    * raw-text rule), a nav with 1 + doc_id mod 5 links (boilerplate,
    * dropped from extraction), a comment containing a decoy tag, and
    * the escaped document text as the single content paragraph.
    */
  private[operators] def htmlOf(id: Long, text: String): String = {
    val k = (1 + id % 5).toInt
    val links = (0 until k).map(j => s"""<a href="/u$j">L$j</a>""").mkString
    s"""<html><head><title>Doc $id</title><style>p > a { color: #333; }</style>""" +
      s"""<script>if (1 < 2) { var x = $id; }</script></head>""" +
      s"""<body><nav>menu$links</nav><!--<p>decoy</p>-->""" +
      s"""<p>${graft.functions.HtmlExtract.escape(text)}</p></body></html>"""
  }

  /** HTML MAIN-TEXT EXTRACTION — the boilerplate-removal stage every
    * web corpus runs first (the CommonCrawl WET step): per-partition
    * synth wraps each document's text in a genuine HTML page
    * (escaped text node, nav boilerplate, raw-text script with a
    * literal `<`, a comment hiding a decoy tag), and
    * `HtmlExtract.extract`'s real single-pass structural parser
    * recovers the visible text, the title, and the tag/link census.
    * The extracted body md5 must equal the oracle's md5 over the
    * ORIGINAL text — so escape→embed→extract must be the exact
    * identity over the whole corpus (any entity mis-decode, comment
    * or raw-text mishandling, or nav-drop error flips the hash) —
    * and title/link/tag counts match algebraic predictions. Pure
    * zero-shuffle per-partition map, the m04 shape applied to text.
    */
  val t14HtmlExtract = Q(
    "t14_html_extract",
    """SELECT doc_id,
      |  'Doc ' || CAST(doc_id AS VARCHAR) AS title,
      |  CAST(1 + doc_id % 5 AS BIGINT) AS n_links,
      |  CAST(9 + doc_id % 5 AS BIGINT) AS n_tags,
      |  md5(text) AS content_hash
      |FROM documents ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    // spread: per-row parse off the single-row-group scan
    // (Tables.spread, guide §2.5)
    val extracted = graft.Tables.spread(Tables.documents(s, d)
        .select(col("doc_id"), col("text"))).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val e = graft.functions.HtmlExtract.extract(htmlOf(id, text))
        (id, e.title, e.nLinks.toLong, e.nTags.toLong, e.text)
      }).toDF("doc_id", "title", "n_links", "n_tags", "body")
    extracted
      .select(col("doc_id"), col("title"), col("n_links"), col("n_tags"),
        md5(col("body").cast("binary")).as("content_hash"))
      .orderBy(col("doc_id"))
  }

  /** The t15 LM-scoring CTE chain (reference model from even-id
    * docs, add-1/vocab-smoothed flog2 bits per bigram, per-doc
    * totals), ending in `agg(doc_id, n_bigrams, total_bits)` —
    * shared by t15 (keep flag) and t24 (CCNet tercile buckets).
    */
  private val sqlPplAggCtes: String =
    """tokd AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |), bg AS (
      |  SELECT doc_id,
      |    unnest(list_transform(generate_series(1, len(tk) - 1),
      |                          i -> tk[i] || ' ' || tk[i+1])) AS g
      |  FROM tokd
      |), refbg AS (
      |  SELECT g FROM bg WHERE doc_id % 2 = 0
      |), cbt AS (
      |  SELECT g, count(*) AS cb FROM refbg GROUP BY g
      |), cut AS (
      |  SELECT split_part(g, ' ', 1) AS w1, count(*) AS cu
      |  FROM refbg GROUP BY 1
      |), v AS (
      |  SELECT count(DISTINCT tok) AS vocab
      |  FROM (SELECT unnest(tk) AS tok FROM tokd WHERE doc_id % 2 = 0)
      |), scored AS (
      |  SELECT bg.doc_id,
      |    (length(bin(COALESCE(cut.cu, 0) + v.vocab)) - 1)
      |      - (length(bin(COALESCE(cbt.cb, 0) + 1)) - 1) AS bits
      |  FROM bg
      |  LEFT JOIN cbt ON bg.g = cbt.g
      |  LEFT JOIN cut ON split_part(bg.g, ' ', 1) = cut.w1
      |  CROSS JOIN v
      |), agg AS (
      |  SELECT doc_id, count(*) AS n_bigrams,
      |         CAST(sum(bits) AS BIGINT) AS total_bits
      |  FROM scored GROUP BY doc_id
      |)""".stripMargin

  /** Spark pairing of [[sqlPplAggCtes]]: every doc with its bigram
    * count and smoothed total bits (0/0 for sub-2-token docs).
    */
  private def pplAgg(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(s, d)
    val bgAll = docs.select(col("doc_id"),
      explode(graft.functions.WordGramsMulti(tokens(col("text")), 2)).as("g"))
    val refbg = bgAll.filter(col("doc_id") % 2 === 0)
    val cbt = refbg.groupBy(col("g")).agg(count(lit(1)).as("cb"))
    val cut = refbg.groupBy(substring_index(col("g"), " ", 1).as("w1"))
      .agg(count(lit(1)).as("cu"))
    val vocab = docs.filter(col("doc_id") % 2 === 0)
      .select(explode(tokens(col("text"))).as("tok"))
      .agg(count_distinct(col("tok")).as("vocab"))
    def flog2(c: org.apache.spark.sql.Column) = length(bin(c)) - 1
    val scored = bgAll
      .join(cbt, Seq("g"), "left")
      .withColumn("w1k", substring_index(col("g"), " ", 1))
      .join(cut, col("w1k") === col("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        (flog2(coalesce(col("cu"), lit(0L)) + col("vocab")) -
          flog2(coalesce(col("cb"), lit(0L)) + lit(1))).as("bits"))
    val agg0 = scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).cast("long").as("total_bits"))
    docs.select(col("doc_id")).join(agg0, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("total_bits"), lit(0L)).as("total_bits"))
  }

  /** CCNet-style language-model quality filtering (Wenzek et al.,
    * LREC'20): train a bigram LM on a reference slice of the corpus
    * (docs with even doc_id — the stand-in for "Wikipedia" in the
    * CCNet recipe), score EVERY document's cross-entropy under it,
    * and keep the low-perplexity tail. The perplexity surrogate is
    * integer-exact by construction — the house rule for oracle
    * parity (t07's rationale: `ln` is a libm call whose low bits
    * differ between the JVM and DuckDB): each bigram occurrence
    * costs `flog2(cu(w1) + V) − flog2(cb(w1,w2) + 1)` whole bits,
    * where `flog2(n) = length(bin(n)) − 1` is the integer floor-log2
    * both engines compute exactly, `cb`/`cu` are the reference
    * bigram/context occurrence counts (add-one smoothing; an unseen
    * bigram under a seen context costs the full `flog2(cu + V)`, an
    * unseen context costs `flog2(V)` — the uniform-over-vocab
    * fallback), and V is the reference vocabulary size. `total_bits
    * / n_bigrams` is then bits-per-token — floor-log2-quantized
    * cross-entropy, within 1 bit/token of the real thing and
    * monotone in the same model evidence; the keep threshold
    * (4.5 bits/token, ~the corpus median under this model) is compared in integer cross-multiplied form.
    *
    * Scale shape (the CCNet deployment shape): the model is two
    * count tables bounded by the REFERENCE corpus (Wikipedia-sized,
    * not crawl-sized) — here they flow through shuffled equi-joins
    * keyed on the gram/context string, the shape that holds even if
    * the model outgrows broadcast; a production run would prune and
    * broadcast them. Bigram occurrences come from the
    * [[graft.functions.WordGramsMulti]] codegen kernel (multiset —
    * deduping would under-count exactly the repetitive docs a
    * perplexity filter exists to catch), so the token array
    * materializes once per row. One explode, two equi-joins, one
    * doc-keyed aggregate, no global state: linear in corpus size.
    */
  val t15NgramPerplexity = Q(
    "t15_ngram_perplexity",
    s"""WITH $sqlPplAggCtes
      |SELECT d.doc_id,
      |  COALESCE(a.n_bigrams, 0) AS n_bigrams,
      |  COALESCE(a.total_bits, 0) AS total_bits,
      |  CASE WHEN COALESCE(a.n_bigrams, 0) = 0 THEN 0.0
      |       ELSE CAST(a.total_bits AS DOUBLE) / a.n_bigrams END AS bits_per_token,
      |  CASE WHEN COALESCE(a.n_bigrams, 0) > 0
      |            AND a.total_bits * 10 <= a.n_bigrams * 45
      |       THEN 1 ELSE 0 END AS keep
      |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
      |ORDER BY d.doc_id""".stripMargin
  ) { (s, d) =>
    pplAgg(s, d)
      .select(col("doc_id"), col("n_bigrams"), col("total_bits"),
        when(col("n_bigrams") === 0, lit(0.0))
          .otherwise(col("total_bits").cast("double") / col("n_bigrams"))
          .as("bits_per_token"),
        when(col("n_bigrams") > 0 &&
          col("total_bits") * 10 <= col("n_bigrams") * 45, lit(1))
          .otherwise(lit(0)).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** The w0..w10/b1..b10 CTE chain of the BPE trainer — shared by
    * the t16 (merge table) and t17 (encoder) oracles.
    */
  private val bpeSqlCtes: String = {
    val base =
      """WITH w0 AS (
        |  SELECT term AS word, count(*) AS freq,
        |         array_to_string(string_split(term, ''), ' ') AS sym
        |  FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |  WHERE term <> ''
        |  GROUP BY term
        |)""".stripMargin
    val iters = (1 to 10).map { k =>
      s""", p$k AS (
         |  SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (
         |    SELECT freq,
         |      unnest(list_transform(generate_series(1, len(tk) - 1),
         |                            i -> tk[i] || ' ' || tk[i+1])) AS pair
         |    FROM (SELECT freq, string_split(sym, ' ') AS tk FROM w${k - 1})
         |  ) GROUP BY pair
         |), b$k AS (
         |  SELECT pair, cnt FROM p$k ORDER BY cnt DESC, pair LIMIT 1
         |), w$k AS (
         |  SELECT word, freq,
         |    CASE WHEN b$k.pair IS NULL THEN sym
         |         ELSE trim(replace(' ' || sym || ' ', ' ' || b$k.pair || ' ',
         |                           ' ' || replace(b$k.pair, ' ', '') || ' ')) END AS sym
         |  FROM w${k - 1} LEFT JOIN b$k ON TRUE
         |)""".stripMargin
    }.mkString("\n")
    base + "\n" + iters
  }

  /** REAL BPE tokenizer TRAINING (Sennrich et al., ACL'16 — the
    * algorithm behind GPT/Llama vocabularies), completing the story
    * t05 stubs with a regex: learn the first 10 merges from the
    * corpus word-type table. Each round counts adjacent symbol
    * pairs WEIGHTED by word frequency (the WordGramsMulti multiset
    * kernel over the space-joined symbol string), picks the argmax
    * pair under the deterministic (count DESC, pair ASC) tie-break,
    * and applies the merge as a delimiter-guarded string replace —
    * `replace(' '||sym||' ', ' a b ' → ' ab ')` IS canonical BPE
    * merge application: both engines' replace scans left-to-right
    * without rescanning its own output, which is exactly BPE's
    * leftmost-first non-overlapping rule (verified: 'a a a' under
    * merge 'a a' → 'aa a' in both). A round with no remaining pairs
    * emits no merge and later rounds no-op (LEFT JOIN ON TRUE, not
    * a CROSS JOIN that would annihilate the word table). Empty-string
    * word types (consecutive-space artifacts) are excluded up front —
    * the one input where the engines' char-split disagrees ([''] vs
    * []) and a symbol-less word is meaningless to BPE anyway.
    *
    * Scale shape: the corpus-linear part is ONE groupBy building the
    * word-type table (vocab-sized — millions of types at 100 TB, not
    * corpus-sized); all 10 training rounds iterate over that bounded
    * table with eager localCheckpoint per round (the c13/d07
    * discipline), each round one pair count + a 1-row argmax
    * broadcast back onto the types. Output is the learned merge
    * table — the artifact a tokenizer ships.
    */
  val t16BpeMerges = Q(
    "t16_bpe_merges",
    {
      val unions = (1 to 10).map { k =>
        if (k == 1)
          s"SELECT 1 AS k, pair, replace(pair, ' ', '') AS merged, cnt FROM b1"
        else
          s"UNION ALL SELECT $k, pair, replace(pair, ' ', ''), cnt FROM b$k"
      }.mkString("\n")
      bpeSqlCtes + "\nSELECT * FROM (\n" + unions + "\n) ORDER BY k"
    }
  ) { (s, d) =>
    bpeTrain(s, d)._2.orderBy(col("k"))
  }

  /** The t16 training loop, shared with the t17 encoder: returns
    * (trained word table `word, freq, sym` after 10 merges, learned
    * merge table `k, pair, merged, cnt`).
    */
  private def bpeTrain(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val docs = Tables.documents(s, d)
    // spread: the corpus tokenize + explode feeding the word-type
    // groupBy is per-row CPU pinned to the single-row-group scan task
    // (Tables.spread, guide §2.5)
    var words = graft.Tables.spread(docs.select(col("text")))
      .select(explode(tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
      .select(col("term").as("word"), col("freq"),
        concat_ws(" ", split(col("term"), "")).as("sym"))
      .localCheckpoint()
    // SHUFFLE RIGHT-SIZING for the 10-round merge loop (the
    // convergedLabels/c13 pattern): every round iterates the
    // VOCAB-sized word-type table through 2 checkpointed stages, and
    // 32-partition shuffles on a ~20 k-row frame are pure scheduling;
    // partitions derive from the measured type count (one per 64 k,
    // saturating at session parallelism — a 100 TB vocab keeps full
    // parallelism). Count/sum/argmax algebra is partitioning-free.
    val nTypes = words.count()
    val bpeParts = math.max(1, math.min(s.sparkContext.defaultParallelism,
      math.ceil(nTypes / 65536.0).toInt))
    graft.Tables.withShufflePartitions(s, bpeParts) {
    var merges = Vector.empty[org.apache.spark.sql.DataFrame]
    for (k <- 1 to 10) {
      val pairs = words.select(col("freq"),
          explode(graft.functions.WordGramsMulti(split(col("sym"), " "), 2)).as("pair"))
        .groupBy(col("pair")).agg(sum(col("freq")).cast("long").as("cnt"))
      val best = pairs.orderBy(col("cnt").desc, col("pair")).limit(1).localCheckpoint()
      merges = merges :+ best.select(lit(k).as("k"), col("pair"),
        expr("replace(pair, ' ', '')").as("merged"), col("cnt"))
      words = words
        .join(broadcast(best.select(col("pair").as("bpair"))), lit(true), "left")
        .select(col("word"), col("freq"),
          when(col("bpair").isNull, col("sym"))
            .otherwise(expr(
              "trim(replace(' ' || sym || ' ', ' ' || bpair || ' ', " +
                "' ' || replace(bpair, ' ', '') || ' '))"))
            .as("sym"))
        .localCheckpoint()
    }
    (words, merges.reduce(_ union _))
    } // withShufflePartitions(bpeParts)
  }

  /** BPE ENCODING with the t16-trained merges — the inference side
    * of tokenizer training, and the operation a pipeline runs over
    * the WHOLE corpus once the vocab is learned (token-count
    * budgeting, sequence packing, cost estimation all consume these
    * counts). The trained word→sym table IS the tokenizer model:
    * vocab-sized, joined onto the corpus token stream (broadcast in
    * production — the model is small; spelled as an equi-join so the
    * shape survives a giant vocab), then one per-doc two-phase agg:
    * words, subwords, chars, and chars-per-subword (integer-valued
    * double division — exact) — the compression ratio the 10 merges
    * bought. Docs with no nonempty tokens keep a row via the final
    * left join.
    */
  val t17BpeEncode = Q(
    "t17_bpe_encode",
    bpeSqlCtes +
      """, tok2 AS (
        |  SELECT doc_id, term
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |  WHERE term <> ''
        |), enc AS (
        |  SELECT t.doc_id, count(*) AS n_words,
        |    CAST(sum(len(string_split(w.sym, ' '))) AS BIGINT) AS n_subwords,
        |    CAST(sum(length(w.word)) AS BIGINT) AS n_chars
        |  FROM tok2 t JOIN w10 w ON t.term = w.word
        |  GROUP BY t.doc_id
        |)
        |SELECT d.doc_id,
        |  COALESCE(e.n_words, 0) AS n_words,
        |  COALESCE(e.n_subwords, 0) AS n_subwords,
        |  COALESCE(e.n_chars, 0) AS n_chars,
        |  CASE WHEN COALESCE(e.n_subwords, 0) = 0 THEN 0.0
        |       ELSE CAST(e.n_chars AS DOUBLE) / e.n_subwords END AS chars_per_subword
        |FROM documents d LEFT JOIN enc e ON d.doc_id = e.doc_id
        |ORDER BY d.doc_id""".stripMargin
  ) { (s, d) =>
    val docs = Tables.documents(s, d)
    val trained = bpeTrain(s, d)._1
    val tok2 = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
    val enc = tok2.join(trained, tok2("term") === trained("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(size(split(col("sym"), " "))).cast("long").as("n_subwords"),
        sum(length(col("word"))).cast("long").as("n_chars"))
    docs.select(col("doc_id")).join(enc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_subwords"), lit(0L)).as("n_subwords"),
        coalesce(col("n_chars"), lit(0L)).as("n_chars"),
        when(coalesce(col("n_subwords"), lit(0L)) === 0, lit(0.0))
          .otherwise(col("n_chars").cast("double") / col("n_subwords"))
          .as("chars_per_subword"))
      .orderBy(col("doc_id"))
  }

  /** SYNTHETIC DATA GENERATION from the corpus bigram model — the
    * emerging pipeline stage next to filtering/dedup (distill a
    * model of the corpus, emit synthetic continuations): greedy
    * argmax decoding of a Markov chain. The TRANSITION table is the
    * model — for every context token, the most frequent successor
    * with a deterministic (count DESC, successor ASC) tie-break,
    * built from the t15/t16 multiset bigram machinery as one
    * grouped count + one per-context rank window. The 10 most
    * frequent corpus tokens seed 15-step greedy chains; a context
    * with no successor ends its chain early (inner join, no
    * padding). The DuckDB oracle runs the SAME generation as a
    * recursive CTE over the same transition table — the q04
    * loop-vs-CTE discipline applied to text generation; everything
    * is integer counts and string argmax, so both engines agree
    * exactly.
    *
    * Scale shape: the model build is the corpus-linear part (one
    * bigram count + a per-context window, both keyed on the context
    * token); generation itself touches only the frontier — at
    * production scale, millions of seeds decode in parallel against
    * the broadcast transition table, 15 model-sized hash probes per
    * seed.
    */
  val t18MarkovGenerate = Q(
    "t18_markov_generate",
    """WITH RECURSIVE tokd AS (
      |  SELECT string_split(text, ' ') AS tk FROM documents
      |), bg AS (
      |  SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
      |           i -> {'w1': tk[i], 'w2': tk[i+1]})) AS p
      |  FROM tokd
      |), tc AS (
      |  SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS c FROM bg GROUP BY 1, 2
      |), trans AS (
      |  SELECT w1, w2 FROM (
      |    SELECT w1, w2,
      |      row_number() OVER (PARTITION BY w1 ORDER BY c DESC, w2) AS r
      |    FROM tc) WHERE r = 1
      |), freq AS (
      |  SELECT t, count(*) AS f
      |  FROM (SELECT unnest(tk) AS t FROM tokd) GROUP BY t
      |), seeds AS (
      |  SELECT t AS seed,
      |    CAST(row_number() OVER (ORDER BY f DESC, t) AS BIGINT) AS seed_rank
      |  FROM freq ORDER BY f DESC, t LIMIT 10
      |), chain AS (
      |  SELECT seed_rank, seed, 0 AS step, seed AS token FROM seeds
      |  UNION ALL
      |  SELECT c.seed_rank, c.seed, c.step + 1, t.w2
      |  FROM chain c JOIN trans t ON c.token = t.w1
      |  WHERE c.step < 15
      |)
      |SELECT seed_rank, seed, step, token FROM chain
      |ORDER BY seed_rank, step""".stripMargin
  ) { (s, d) => markovChains(s, d).orderBy(col("seed_rank"), col("step")) }

  /** t18's generation machinery (transition table + greedy chains),
    * returning `chain(seed_rank, seed, step, token)` pre-ORDER —
    * shared with t20's novelty QA.
    */
  private[operators] def markovChains(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(s, d)
    // spread: the bigram/token explodes feeding the model build are
    // per-row CPU off the single-row-group scan (Tables.spread,
    // guide §2.5); shared by t18/t20/t25
    val sdocs = graft.Tables.spread(docs.select(col("text")))
    val bg = sdocs.select(
      explode(graft.functions.WordGramsMulti(tokens(col("text")), 2)).as("g"))
      .select(substring_index(col("g"), " ", 1).as("w1"),
        substring_index(col("g"), " ", -1).as("w2"))
    // SHUFFLE RIGHT-SIZING for the model build + 15 generation rounds
    // (the convergedLabels/c13 pattern): every materialized frame is
    // vocab- or frontier-sized, and 32-partition shuffles on them are
    // pure scheduling. Partitions derive from the corpus's on-disk
    // byte size (one per 8 MB, saturating at session parallelism —
    // the stateShufflePartitions curve, job-free), so a 100 TB corpus
    // keeps full parallelism while the fixture runs 1-task stages.
    // Count/argmax algebra is partitioning-free.
    val srcBytes = new java.io.File(s"$d/documents.parquet") match {
      case f if f.isDirectory =>
        Option(f.listFiles()).getOrElse(Array.empty).map(_.length()).sum
      case f => f.length()
    }
    val mkParts = math.max(1, math.min(s.sparkContext.defaultParallelism,
      math.ceil(srcBytes / (8 << 20).toDouble).toInt))
    graft.Tables.withShufflePartitions(s, mkParts) {
    val tc = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("w1")).orderBy(col("c").desc, col("w2"))
    val trans = tc.withColumn("r", row_number().over(w))
      .filter(col("r") === 1).select(col("w1"), col("w2"))
      .localCheckpoint()
    val freq = sdocs.select(explode(tokens(col("text"))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("f"))
    val seeds = freq.orderBy(col("f").desc, col("t")).limit(10)
      .select(col("t").as("seed"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("f").desc, col("t"))).cast("long").as("seed_rank"))
    var frontier = seeds
      .select(col("seed_rank"), col("seed"), lit(0).as("step"),
        col("seed").as("token"))
      .localCheckpoint()
    var chain = frontier
    for (_ <- 1 to 15) {
      frontier = frontier
        .join(trans, frontier("token") === trans("w1"))
        .select(col("seed_rank"), col("seed"),
          (col("step") + 1).as("step"), col("w2").as("token"))
        .localCheckpoint()
      chain = chain.union(frontier)
    }
    chain
    } // withShufflePartitions(mkParts)
  }

  /** Interpolated Kneser-Ney bigram smoothing (Kneser & Ney ICASSP'95;
    * the interpolated form of Chen & Goodman CSL'99 — THE standard
    * n-gram LM estimator, the one KenLM ships and CCNet-style filters
    * train): t15's add-one surrogate scores with raw counts; KN
    * instead discounts every observed bigram by d and backs off to
    * the CONTINUATION unigram (how many distinct contexts a word
    * follows — "Francisco" is frequent but only ever follows "San",
    * so its continuation probability is tiny; a raw-frequency backoff
    * gets exactly this wrong):
    *
    *   P(w|v) = max(c(vw)−d, 0)/c(v·) + d·N1+(v·)/c(v·) · N1+(·w)/N11
    *
    * With d = 3/4 every quantity is rational: over the common
    * denominator 4·c(v·)·N11 the numerator is
    * (4·c(vw)−3)·N11 + 3·N1+(v·)·N1+(·w) — pure BIGINT arithmetic,
    * bit-identical in both engines (the t15/c13 no-libm discipline
    * applied to the classic smoothing estimator). `p_kn` is the one
    * double division at the end (both operands < 2^53, IEEE-exact).
    * Output: the 25 most frequent bigrams with their full KN
    * decomposition (counts, continuation stats, exact fraction,
    * probability).
    *
    * Scale shape: bigram extraction is the per-row WordGramsMulti
    * kernel (multiplicity-preserving, the t15 rule); ONE type-table
    * groupBy is the corpus-linear term; the context/continuation
    * tables derive from the (bounded, vocab²-sized) type table; N11
    * is a 1-row broadcast; top-25 is TakeOrderedAndProject.
    */
  val t19KneserNey = Q(
    "t19_kneser_ney",
    """WITH tokd AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |), bg AS (
      |  SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
      |                               i -> tk[i] || ' ' || tk[i+1])) AS g
      |  FROM tokd
      |), cvw AS (
      |  SELECT g, count(*) AS c_vw FROM bg GROUP BY g
      |), ctx AS (
      |  SELECT split_part(g, ' ', 1) AS v,
      |         CAST(sum(c_vw) AS BIGINT) AS c_v, count(*) AS n1_fwd
      |  FROM cvw GROUP BY 1
      |), cont AS (
      |  SELECT split_part(g, ' ', 2) AS w, count(*) AS n1_rev
      |  FROM cvw GROUP BY 1
      |), n AS (SELECT count(*) AS n11 FROM cvw)
      |SELECT split_part(g, ' ', 1) AS v, split_part(g, ' ', 2) AS w,
      |       c_vw, ctx.c_v, ctx.n1_fwd, cont.n1_rev,
      |       (4 * c_vw - 3) * n.n11 + 3 * ctx.n1_fwd * cont.n1_rev AS kn_num,
      |       4 * ctx.c_v * n.n11 AS kn_den,
      |       CAST((4 * c_vw - 3) * n.n11 + 3 * ctx.n1_fwd * cont.n1_rev AS DOUBLE)
      |         / (4 * ctx.c_v * n.n11) AS p_kn
      |FROM cvw
      |JOIN ctx ON split_part(g, ' ', 1) = ctx.v
      |JOIN cont ON split_part(g, ' ', 2) = cont.w
      |CROSS JOIN n
      |ORDER BY c_vw DESC, v, w
      |LIMIT 25""".stripMargin
  ) { (s, d) =>
    val docs = Tables.documents(s, d)
    // spread: the bigram explode off the single-row-group scan
    // (Tables.spread, guide §2.5 — markovChains' twin)
    val bg = graft.Tables.spread(docs.select(col("text"))).select(
      explode(graft.functions.WordGramsMulti(tokens(col("text")), 2)).as("g"))
    val cvw = bg.groupBy(col("g")).agg(count(lit(1)).as("c_vw"))
      .select(substring_index(col("g"), " ", 1).as("v"),
        substring_index(col("g"), " ", -1).as("w"), col("c_vw"))
      .cache() // the type table feeds three derived aggregates + the join
    val ctx = cvw.groupBy(col("v"))
      .agg(sum(col("c_vw")).cast("long").as("c_v"), count(lit(1)).as("n1_fwd"))
    val cont = cvw.groupBy(col("w")).agg(count(lit(1)).as("n1_rev"))
    val n11 = cvw.agg(count(lit(1)).as("n11"))
    cvw
      .join(ctx, Seq("v"))
      .join(cont, Seq("w"))
      .crossJoin(broadcast(n11))
      .select(col("v"), col("w"), col("c_vw"), col("c_v"),
        col("n1_fwd"), col("n1_rev"),
        ((lit(4) * col("c_vw") - 3) * col("n11")
          + lit(3) * col("n1_fwd") * col("n1_rev")).as("kn_num"),
        (lit(4) * col("c_v") * col("n11")).as("kn_den"))
      .withColumn("p_kn", col("kn_num").cast("double") / col("kn_den"))
      .orderBy(col("c_vw").desc, col("v"), col("w"))
      .limit(25)
  }

  /** Synthetic-data NOVELTY QA (the self-BLEU/memorization check run
    * on every generated corpus before it trains anything — Zhu et
    * al.'s texygen self-BLEU and the n-gram-overlap memorization
    * audits of the GPT-2/Carlini lineage, in their integer-exact
    * core): replay t18's greedy Markov generation, then score each
    * generated chain's 3-GRAM OVERLAP against the training corpus.
    * By construction every consecutive BIGRAM of a chain is a corpus
    * transition (that's what the model is), so the interesting
    * quantity is one order up: a copied 3-gram means the generator
    * reproduced a verbatim corpus span, a novel one means it
    * RECOMBINED — the memorization-vs-generalization split, computed
    * exactly. Counts stay integer (chain-gram multiset vs the
    * distinct corpus-gram set, the t10 containment discipline one
    * tier up); `novel_frac` is the single IEEE-exact division.
    *
    * Scale shape: the corpus-linear term is the distinct-3-gram
    * build (one groupBy); chains are model-sized; the overlap join
    * keys chain grams (tiny side) against the gram set.
    */
  val t20SynthNovelty = Q(
    "t20_synth_novelty",
    { val genCtes = t18MarkovGenerate.sql.get
        .replaceAll("(?s)^WITH RECURSIVE ", "")
        .replaceAll("(?s)\\)\\s*SELECT seed_rank, seed, step, token FROM chain\\s*ORDER BY seed_rank, step$", ")")
      s"""WITH RECURSIVE $genCtes, texts AS (
         |  SELECT seed_rank, seed, count(*) AS chain_len,
         |         string_split(string_agg(token, ' ' ORDER BY step), ' ') AS ctk
         |  FROM chain GROUP BY seed_rank, seed
         |), cgrams AS (
         |  SELECT seed_rank,
         |         unnest(list_transform(generate_series(1, len(ctk) - 2),
         |                i -> ctk[i] || ' ' || ctk[i+1] || ' ' || ctk[i+2])) AS g
         |  FROM texts
         |), corpus AS (
         |  SELECT DISTINCT
         |         unnest(list_transform(generate_series(1, len(tk) - 2),
         |                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g
         |  FROM tokd
         |), overlap AS (
         |  SELECT c.seed_rank, count(*) AS n_grams,
         |         count(k.g) AS n_copied
         |  FROM cgrams c LEFT JOIN corpus k ON c.g = k.g
         |  GROUP BY c.seed_rank
         |)
         |SELECT t.seed_rank, t.seed, CAST(t.chain_len AS BIGINT) AS chain_len,
         |       CAST(COALESCE(o.n_grams, 0) AS BIGINT) AS n_grams,
         |       CAST(COALESCE(o.n_copied, 0) AS BIGINT) AS n_copied,
         |       CASE WHEN COALESCE(o.n_grams, 0) = 0 THEN 0.0
         |            ELSE CAST(o.n_grams - o.n_copied AS DOUBLE) / o.n_grams
         |       END AS novel_frac
         |FROM texts t LEFT JOIN overlap o ON t.seed_rank = o.seed_rank
         |ORDER BY t.seed_rank""".stripMargin }
  ) { (s, d) =>
    val chain = markovChains(s, d)
    val texts = chain.groupBy(col("seed_rank"), col("seed"))
      .agg(count(lit(1)).as("chain_len"),
        array_join(
          transform(sort_array(collect_list(struct(col("step"), col("token")))),
            x => x.getField("token")), " ").as("chain_text"))
      .localCheckpoint() // chains are model-sized; sever the 15-join lineage
    // WordGramsMulti, not WordGrams: the chain's gram MULTISET is the
    // denominator (a looped chain repeating one gram 13× must count
    // 13 occurrences — dedup would report the loop as 2 grams and
    // overstate novelty exactly on the most-memorized chains)
    val cgrams = texts.select(col("seed_rank"),
      explode(graft.functions.WordGramsMulti(split(col("chain_text"), " "), 3)).as("g"))
    // spread: corpus-side trigram projection off the single-row-group
    // scan (Tables.spread, guide §2.5 — t25's twin)
    val corpus = graft.Tables.spread(
        Tables.documents(s, d).select(col("text")))
      .select(explode(graft.functions.WordGrams(tokens(col("text")), 3)).as("g"))
      .distinct()
    val overlap = cgrams.alias("c")
      .join(corpus.alias("k"), col("c.g") === col("k.g"), "left")
      .groupBy(col("seed_rank"))
      .agg(count(lit(1)).as("n_grams"), count(col("k.g")).as("n_copied"))
    texts.alias("t")
      .join(overlap.alias("o"), Seq("seed_rank"), "left")
      .select(col("seed_rank"), col("seed"),
        col("chain_len").cast("long").as("chain_len"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_copied"), lit(0L)).as("n_copied"),
        when(coalesce(col("n_grams"), lit(0L)) === 0, 0.0)
          .otherwise((col("n_grams") - col("n_copied")).cast("double")
            / col("n_grams")).as("novel_frac"))
      .orderBy(col("seed_rank"))
  }

  /** TRAINING-DATA ATTRIBUTION — t20's forensic complement: t20
    * reports HOW MUCH of each generated sequence is copied from the
    * training corpus (the novelty rate); this query reports WHERE
    * each generation's copied material lives — the top-3 corpus
    * documents ranked by the number of DISTINCT 3-grams they share
    * with the chain. That doc-level attribution is what a
    * memorization audit or provenance/copyright triage actually
    * needs (Carlini et al.'s extraction work reports the training
    * source of each memorized sample, not just an overlap rate).
    * Distinct grams, not the multiset: attribution asks which doc
    * the material CAME from; a loop repeating one copied gram 13×
    * is one shared gram of evidence, not 13 (the exact inverse of
    * t20's denominator choice, deliberate in both).
    *
    * Scale shape: chains are model-sized (20 seeds) and BROADCAST to
    * the corpus-linear (doc, gram) projection — the corpus never
    * shuffles to discover attribution; the per-(seed, doc) count and
    * the top-3 window run over true shared structure only. At 100 TB
    * the common-gram fan-out is bounded by the chain side's ~1,200
    * distinct grams — never by the corpus.
    */
  val t25Attribution = Q(
    "t25_attribution",
    { val genCtes = t18MarkovGenerate.sql.get
        .replaceAll("(?s)^WITH RECURSIVE ", "")
        .replaceAll("(?s)\\)\\s*SELECT seed_rank, seed, step, token FROM chain\\s*ORDER BY seed_rank, step$", ")")
      s"""WITH RECURSIVE $genCtes, texts AS (
         |  SELECT seed_rank,
         |         string_split(string_agg(token, ' ' ORDER BY step), ' ') AS ctk
         |  FROM chain GROUP BY seed_rank
         |), cg AS (
         |  SELECT DISTINCT seed_rank, g FROM (
         |    SELECT seed_rank,
         |           unnest(list_transform(generate_series(1, len(ctk) - 2),
         |                  i -> ctk[i] || ' ' || ctk[i+1] || ' ' || ctk[i+2])) AS g
         |    FROM texts
         |  )
         |), dtok AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
         |), dg AS (
         |  SELECT DISTINCT doc_id, g FROM (
         |    SELECT doc_id,
         |           unnest(list_transform(generate_series(1, len(tk) - 2),
         |                  i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g
         |    FROM dtok
         |  )
         |), sh AS (
         |  SELECT c.seed_rank, d.doc_id, count(*) AS n_shared
         |  FROM cg c JOIN dg d ON c.g = d.g
         |  GROUP BY c.seed_rank, d.doc_id
         |), rk AS (
         |  SELECT seed_rank, doc_id, n_shared,
         |         row_number() OVER (PARTITION BY seed_rank
         |                            ORDER BY n_shared DESC, doc_id) AS rank
         |  FROM sh
         |)
         |SELECT seed_rank, rank, doc_id, n_shared FROM rk
         |WHERE rank <= 3
         |ORDER BY seed_rank, rank""".stripMargin }
  ) { (s, d) =>
    val texts = markovChains(s, d)
      .groupBy(col("seed_rank"))
      .agg(array_join(
        transform(sort_array(collect_list(struct(col("step"), col("token")))),
          x => x.getField("token")), " ").as("chain_text"))
      .localCheckpoint() // chains are model-sized; sever the 15-join lineage
    val cg = texts.select(col("seed_rank"),
        explode(graft.functions.WordGrams(split(col("chain_text"), " "), 3)).as("g"))
      .distinct()
    // spread: the corpus-side trigram projection (tokenize + WordGrams
    // + explode of ~600 grams/doc) is per-row CPU pinned to the
    // single-row-group scan task (Tables.spread, guide §2.5)
    val dg = graft.Tables.spread(
        Tables.documents(s, d).select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        explode(graft.functions.WordGrams(tokens(col("text")), 3)).as("g"))
      .distinct()
    val sh = dg.join(broadcast(cg), Seq("g"))
      .groupBy(col("seed_rank"), col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
    val w = Window.partitionBy(col("seed_rank"))
      .orderBy(col("n_shared").desc, col("doc_id"))
    sh.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("seed_rank"), col("rank"), col("doc_id"), col("n_shared"))
      .orderBy(col("seed_rank"), col("rank"))
  }

  /** UNICODE NFC NORMALIZATION (UAX #15) under the oracle — the
    * multilingual-curation step that runs BEFORE content hashing:
    * composed ("é") and decomposed ("e"+U+0301) spellings of the same
    * visible text are byte-different, so d01's content hash, the
    * minhash shingles, and every URL key treat them as distinct
    * documents unless normalized first (NFC is the W3C content-
    * identity form). The corpus is ASCII, so the decomposed forms are
    * SYNTHESIZED per row (four fragments cycling by doc_id — acute,
    * diaeresis, ring, mixed accents — appended to a doc-id tag) and
    * normalized by [[graft.functions.NfcNormalize]] (a codegen
    * expression over the JDK's Normalizer, with an isNormalized
    * fast path); DuckDB's independent `nfc_normalize` implements the
    * same Unicode spec, and the normalized STRING ITSELF is a
    * compared column — two implementations of UAX #15 must agree
    * byte-for-byte, with the codepoint shrink (raw_cp → nfc_cp)
    * pinned alongside. Per-row projection, zero shuffle.
    */
  val t21UnicodeNormalize = Q(
    "t21_unicode_normalize",
    """WITH s AS (
      |  SELECT doc_id,
      |    CASE CAST(doc_id % 4 AS INT)
      |      WHEN 0 THEN 'Cafe' || chr(769)
      |      WHEN 1 THEN 'nai' || chr(776) || 've'
      |      WHEN 2 THEN 'A' || chr(778) || 'ngstro' || chr(776) || 'm'
      |      ELSE 'e' || chr(769) || 'le' || chr(768) || 've'
      |    END || ' doc ' || doc_id AS raw
      |  FROM documents
      |)
      |SELECT doc_id, length(raw) AS raw_cp,
      |       nfc_normalize(raw) AS nfc,
      |       length(nfc_normalize(raw)) AS nfc_cp
      |FROM s ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    // the same fragments as Scala literals (Spark's chr() folds
    // codepoints mod 256, so the decomposed sequences are spelled
    // directly; scalac keeps them as the identical UTF-8 bytes)
    val frags = Seq("Café", "naïve", "Ångström",
      "élève")
    val frag = (0 until 4).foldRight(lit(frags(3)): org.apache.spark.sql.Column) {
      (i, acc) => when(col("doc_id") % 4 === i, frags(i)).otherwise(acc)
    }
    val raw = concat(frag, lit(" doc "), col("doc_id").cast("string"))
    Tables.documents(s, d)
      .select(col("doc_id"), raw.as("raw"))
      .select(col("doc_id"), length(col("raw")).cast("long").as("raw_cp"),
        graft.functions.NfcNormalize(col("raw")).as("nfc"))
      .select(col("doc_id"), col("raw_cp"), col("nfc"),
        length(col("nfc")).cast("long").as("nfc_cp"))
      .orderBy(col("doc_id"))
  }

  /** DISTRIBUTION-DRIFT QA per corpus slice: how far each `source`'s
    * unigram distribution sits from the corpus-wide distribution —
    * the domain-shift / mixture-balance check a training-data
    * pipeline runs before reweighting (CCNet-style curation monitors
    * exactly this to catch a crawl slice drifting off-distribution).
    * Two measures per source, both computed from the SAME token join:
    * total-variation distance ½·Σ|p_s−p_c| and Pearson χ² divergence
    * Σ(p_s−p_c)²/p_c — χ² chosen over KL deliberately: the repo's
    * oracle discipline bans `ln()` (Spark's Math.log and DuckDB's
    * libm log are not guaranteed bit-identical; same reason s12's
    * BM25 uses the rational integer idf), and χ² both bounds KL
    * (KL ≤ ln(1+χ²)) and is pure rational arithmetic on exact
    * integer counts, so every addend is bit-identical across engines.
    *
    * Terms absent from a slice contribute their full corpus mass to
    * both measures; that tail is 1 − Σ_{t∈S} p_c — computed from the
    * slice-side join alone, never a corpus-vocab anti-join.
    *
    * Both engines fold the per-term addends in term order
    * (sort_array + aggregate ↔ list(… ORDER BY term) + list_reduce,
    * the s19 pairing), so the double sums are bit-exact. 100 TB
    * shape: one tokenize pass, two low-key groupBys (source×term,
    * term), slice totals broadcast; the ordered fold exists for the
    * oracle — production replaces it with a plain two-phase sum.
    */
  val t22DistributionDrift = Q(
    "t22_distribution_drift",
    """WITH tok AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
      |), st AS (
      |  SELECT source, term, count(*) AS tf FROM tok GROUP BY 1, 2
      |), ns AS (
      |  SELECT source, CAST(sum(tf) AS BIGINT) AS n_s, count(*) AS v_s
      |  FROM st GROUP BY 1
      |), ct AS (
      |  SELECT term, CAST(sum(tf) AS BIGINT) AS ctf FROM st GROUP BY 1
      |), nc AS (
      |  SELECT CAST(sum(ctf) AS BIGINT) AS n_c FROM ct
      |), addend AS (
      |  SELECT st.source, st.term,
      |    CAST(st.tf AS DOUBLE) / ns.n_s AS p_s,
      |    CAST(ct.ctf AS DOUBLE) / nc.n_c AS p_c
      |  FROM st JOIN ns USING (source) JOIN ct USING (term) CROSS JOIN nc
      |), fold AS (
      |  SELECT source,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list(abs(p_s - p_c) ORDER BY term)), (a, x) -> a + x) AS sum_abs,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list(((p_s - p_c) * (p_s - p_c)) / p_c ORDER BY term)),
      |      (a, x) -> a + x) AS sum_chi,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list(p_c ORDER BY term)), (a, x) -> a + x) AS sum_pc
      |  FROM addend GROUP BY source
      |)
      |SELECT f.source, ns.n_s AS n_tokens, ns.v_s AS n_terms,
      |  0.5 * (sum_abs + (1.0 - sum_pc)) AS tv_drift,
      |  sum_chi + (1.0 - sum_pc) AS chi2_drift
      |FROM fold f JOIN ns USING (source)
      |ORDER BY f.source""".stripMargin
  ) { (s, d) =>
    val tok = Tables.documents(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("term"))
    val st = tok.groupBy(col("source"), col("term")).agg(count(lit(1)).as("tf"))
    val ns = st.groupBy(col("source"))
      .agg(sum(col("tf")).cast("long").as("n_s"), count(lit(1)).as("v_s"))
    val ct = st.groupBy(col("term")).agg(sum(col("tf")).cast("long").as("ctf"))
    val nc = ct.agg(sum(col("ctf")).cast("long").as("n_c"))
    val addend = st.join(broadcast(ns), Seq("source")).join(ct, Seq("term"))
      .crossJoin(broadcast(nc))
      .select(col("source"), col("term"),
        (col("tf").cast("double") / col("n_s")).as("p_s"),
        (col("ctf").cast("double") / col("n_c")).as("p_c"))
    def fold(v: org.apache.spark.sql.Column) =
      aggregate(
        sort_array(collect_list(struct(col("term").as("t"), v.as("v")))),
        lit(0.0), (acc, x) => acc + x.getField("v"))
    val folded = addend.groupBy(col("source")).agg(
      fold(abs(col("p_s") - col("p_c"))).as("sum_abs"),
      fold(((col("p_s") - col("p_c")) * (col("p_s") - col("p_c"))) / col("p_c"))
        .as("sum_chi"),
      fold(col("p_c")).as("sum_pc"))
    folded.join(broadcast(ns), Seq("source"))
      .select(col("source"), col("n_s").as("n_tokens"), col("v_s").as("n_terms"),
        (lit(0.5) * (col("sum_abs") + (lit(1.0) - col("sum_pc")))).as("tv_drift"),
        (col("sum_chi") + (lit(1.0) - col("sum_pc"))).as("chi2_drift"))
      .orderBy(col("source"))
  }

  /** ZIPF RANK-FREQUENCY PROFILE in octave bins — the corpus-health
    * diagnostic next to t13's per-lang counts and t22's drift QA: a
    * natural-language corpus follows Zipf's law (freq ∝ 1/rank,
    * Zipf 1949), under which each DOUBLING of rank contributes
    * roughly constant token mass (Σ_{r∈[2^k,2^{k+1})} C/r ≈ C·ln 2)
    * — so the per-octave mass column reads as a flatness diagnostic:
    * a machine-generated or template-heavy corpus shows its head
    * octaves dwarfing the tail (exactly what this synthetic
    * fixed-pool corpus exhibits, which is the point of shipping the
    * numbers rather than a pass flag). Ranking is freq DESC with a
    * token tie-break, octave = flog2(rank) under the no-libm
    * discipline.
    *
    * Scale shape: the frequency table is ONE corpus-linear two-phase
    * count; everything after (rank window, octave agg) runs on the
    * VOCABULARY-sized table — model-sized like t16's merge rounds,
    * bounded regardless of corpus size (Heaps' law: |V| ∝ n^β,
    * β<1), so the global rank window never sees corpus-scale rows.
    */
  val t23ZipfOctaves = Q(
    "t23_zipf_octaves",
    """WITH tf AS (
      |  SELECT tok, count(*) AS freq
      |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |  WHERE tok <> '' GROUP BY tok
      |), ranked AS (
      |  SELECT tok, freq,
      |    row_number() OVER (ORDER BY freq DESC, tok) AS r
      |  FROM tf
      |), oct AS (
      |  SELECT length(bin(r)) - 1 AS octave, freq, r
      |  FROM ranked
      |)
      |SELECT octave,
      |  CAST(count(*) AS BIGINT) AS n_types,
      |  CAST(sum(freq) AS BIGINT) AS mass,
      |  CAST(max(freq) AS BIGINT) AS max_freq,
      |  CAST(min(freq) AS BIGINT) AS min_freq,
      |  CAST(min(r) AS BIGINT) AS first_rank
      |FROM oct GROUP BY octave
      |ORDER BY octave""".stripMargin
  ) { (s, d) =>
    def flog2(c: org.apache.spark.sql.Column) = length(bin(c)) - 1
    val tf = Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
    // the rank window runs on the vocabulary-sized table only —
    // bounded by Heaps' law, never corpus-scale (class doc)
    val ranked = tf.withColumn("r",
      row_number().over(Window.orderBy(col("freq").desc, col("tok"))))
    ranked.select(flog2(col("r")).as("octave"), col("freq"), col("r"))
      .groupBy(col("octave"))
      .agg(count(lit(1)).as("n_types"),
        sum(col("freq")).cast("long").as("mass"),
        max(col("freq")).as("max_freq"),
        min(col("freq")).as("min_freq"),
        min(col("r")).as("first_rank"))
      .orderBy(col("octave"))
  }

  /** CCNet PERPLEXITY BUCKETING (Wenzek et al., LREC 2020 — the
    * quality tiers behind CCNet/CC-100 and the LLaMA-1 CommonCrawl
    * slice): per LANGUAGE, documents rank by their t15 LM score
    * (bits per bigram — lower = more fluent under the reference
    * model) and split into equal TERCILES — head/middle/tail — so a
    * pipeline can train on head+middle or reweight tails, per
    * language rather than globally (a global cut would starve
    * languages the LM models worse; CCNet's per-lang terciles are
    * exactly this). Sub-2-token docs carry no LM evidence and sort
    * LAST within their language (flagged, after every scored doc).
    * Ranking is fully deterministic: (unscored flag, IEEE
    * bits_per_token, doc_id) — both engines divide the same BIGINTs,
    * and NTILE over identical orderings buckets identically.
    *
    * Scale shape: t15's scoring is the corpus term (bigram explode +
    * model equi-joins, model bounded by the reference slice); the
    * bucketing adds ONE lang-keyed window over doc-sized rows —
    * languages partition the sort, so no global ordering exists
    * anywhere (the presentation ORDER BY is the oracle contract,
    * not the operator).
    */
  val t24CcnetBuckets = Q(
    "t24_ccnet_buckets",
    s"""WITH $sqlPplAggCtes,
       |sc AS (
       |  SELECT d.doc_id, d.lang,
       |    COALESCE(a.n_bigrams, 0) AS n_bigrams,
       |    CASE WHEN COALESCE(a.n_bigrams, 0) = 0 THEN 0.0
       |         ELSE CAST(a.total_bits AS DOUBLE) / a.n_bigrams END AS bits_per_token,
       |    CASE WHEN COALESCE(a.n_bigrams, 0) = 0 THEN 1 ELSE 0 END AS unscored
       |  FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
       |), nt AS (
       |  SELECT doc_id, lang, n_bigrams, bits_per_token, unscored,
       |    ntile(3) OVER (PARTITION BY lang
       |                   ORDER BY unscored, bits_per_token, doc_id) AS tercile
       |  FROM sc
       |)
       |SELECT doc_id, lang, CAST(n_bigrams AS BIGINT) AS n_bigrams,
       |  bits_per_token,
       |  CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
       |FROM nt
       |ORDER BY lang, bucket, doc_id""".stripMargin
  ) { (s, d) =>
    val sc = Tables.documents(s, d).select(col("doc_id"), col("lang"))
      .join(pplAgg(s, d), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        when(col("n_bigrams") === 0, lit(0.0))
          .otherwise(col("total_bits").cast("double") / col("n_bigrams"))
          .as("bits_per_token"),
        when(col("n_bigrams") === 0, lit(1)).otherwise(lit(0)).as("unscored"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("unscored"), col("bits_per_token"), col("doc_id"))
    sc.withColumn("tercile", ntile(3).over(w))
      .select(col("doc_id"), col("lang"), col("n_bigrams").cast("long").as("n_bigrams"),
        col("bits_per_token"),
        when(col("tercile") === 1, "head").when(col("tercile") === 2, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy(col("lang"), col("bucket"), col("doc_id"))
  }

  /** MIXED-SCRIPT / HOMOGLYPH detection (UTS #39's confusable
    * signal, the script-spoofing filter multilingual curation runs
    * next to t02's language ID and t21's NFC normalization): a token
    * whose LETTERS span ≥ 2 Unicode scripts ("pаypal" with a
    * Cyrillic а) is the classic phishing/SEO-spam fingerprint —
    * invisible to eyeballs, byte-distinct to hashes, and absent
    * from honest text in any single language. Per document: mixed
    * token count, distinct letter-script count, and the dominant
    * script with its letter counts.
    *
    * The synthetic corpus is pure ASCII, so — t09's injected-PII
    * discipline — deterministic confusables are injected IN BOTH
    * ENGINES by the same string algebra: docs ≡ 0 (mod 3) append a
    * 12-char prefix with Latin→Cyrillic homoglyph `translate`
    * (aeopcx → аеорсх: MIXED tokens, the spoof), docs ≡ 0 (mod 5)
    * append a pure-Cyrillic token (foreign but single-script — must
    * NOT flag as mixed, only widen script diversity; pinned in
    * ScriptMixSpec). Classification is
    * [[graft.functions.ScriptRuns]]'s single range table emitting
    * both the Scala classifier and the SQL CASE (the Morton
    * discipline), letters iterated per CODE POINT (surrogate-safe).
    *
    * Scale shape: injection + analysis is a pure per-partition map
    * over documents — zero shuffle, the t14/m-tier shape; all
    * outputs are integers + a script name, so the hash gate is
    * arithmetic-free.
    */
  val t26ScriptMix = Q(
    "t26_script_mix",
    { import graft.functions.ScriptRuns
      s"""WITH inj AS (
         |  SELECT doc_id,
         |    text
         |    || CASE WHEN doc_id % 3 = 0
         |         THEN ' ' || translate(substr(text, 1, 12), 'aeopcx', 'аеорсх')
         |         ELSE '' END
         |    || CASE WHEN doc_id % 5 = 0 THEN ' данные' ELSE '' END AS t
         |  FROM documents
         |), tok AS (
         |  SELECT doc_id, unnest(string_split(t, ' ')) AS tk FROM inj
         |), cls AS (
         |  SELECT doc_id, tk,
         |    list_transform(range(1, length(tk) + 1),
         |      i -> ${ScriptRuns.sqlCase("unicode(substr(tk, CAST(i AS INT), 1))")}) AS scr
         |  FROM tok
         |), tokflag AS (
         |  SELECT doc_id,
         |    CASE WHEN len(list_distinct(list_filter(scr, x -> x > 0))) >= 2
         |         THEN 1 ELSE 0 END AS mixed
         |  FROM cls
         |), perchar AS (
         |  SELECT doc_id, unnest(scr) AS sc FROM cls
         |), bysc AS (
         |  SELECT doc_id, sc, count(*) AS n FROM perchar WHERE sc > 0
         |  GROUP BY doc_id, sc
         |), dom AS (
         |  SELECT doc_id, sc, n,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, sc) AS rk,
         |    count(*) OVER (PARTITION BY doc_id) AS n_scripts,
         |    CAST(sum(n) OVER (PARTITION BY doc_id) AS BIGINT) AS total_letters
         |  FROM bysc
         |), mx AS (
         |  SELECT doc_id, CAST(sum(mixed) AS BIGINT) AS n_tokens_mixed FROM tokflag GROUP BY doc_id
         |), named AS (
         |  SELECT doc_id, n_scripts, total_letters, n AS dom_letters,
         |    CASE sc ${ScriptRuns.Scripts.map(s => s"WHEN ${s._1} THEN '${s._2}'").mkString(" ")}
         |    END AS dom_script
         |  FROM dom WHERE rk = 1
         |)
         |SELECT i.doc_id,
         |  CAST(coalesce(m.n_tokens_mixed, 0) AS BIGINT) AS n_tokens_mixed,
         |  CAST(coalesce(d.n_scripts, 0) AS BIGINT) AS n_scripts,
         |  coalesce(d.dom_script, 'none') AS dom_script,
         |  CAST(coalesce(d.dom_letters, 0) AS BIGINT) AS dom_letters,
         |  CAST(coalesce(d.total_letters, 0) AS BIGINT) AS total_letters
         |FROM inj i
         |LEFT JOIN mx m ON i.doc_id = m.doc_id
         |LEFT JOIN named d ON i.doc_id = d.doc_id
         |ORDER BY i.doc_id""".stripMargin }
  ) { (s, d) =>
    import s.implicits._
    val injected = Tables.documents(s, d)
      .select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" "), translate(substring(col("text"), 1, 12),
              "aeopcx", "аеорсх"))).otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit(" данные")).otherwise(lit("")))
          .as("t"))
      .as[(Long, String)]
    // spread: per-row script analysis off the single-row-group scan
    // (Tables.spread, guide §2.5)
    graft.Tables.spread(injected.toDF("doc_id", "t")).as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
      val (mixed, nScripts, dom, domLetters, total) =
        graft.functions.ScriptRuns.analyze(t)
      (id, mixed, nScripts, dom, domLetters, total)
    }).toDF("doc_id", "n_tokens_mixed", "n_scripts", "dom_script",
      "dom_letters", "total_letters")
      .orderBy(col("doc_id"))
  }

  /** Gopher metric columns (Rae et al. 2021 §A1.1), shared between
    * t27's per-rule ablation view and c24's pipeline gate — one
    * SELECT body parameterized by the FROM table, so the two
    * spellings can never drift. `extraCols` carries pipeline columns
    * (c24 keeps source/text) through the metric projection.
    */
  private[operators] def sqlGopherMetricsCte(from: String,
      extraCols: String = ""): String = {
    val toks = "string_split(text, ' ')"
    s"""SELECT doc_id,$extraCols
       |    CAST(len($toks) AS BIGINT) AS n_words,
       |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars_ns,
       |    CAST(len(list_filter($toks, t -> regexp_matches(t, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
       |    CAST(len(list_filter($toks, t -> t IN ('the', 'a', 'of', 'to', 'and'))) AS BIGINT) AS n_stop,
       |    CAST(length(text) - length(replace(text, '#', ''))
       |      + (length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_sym
       |  FROM $from""".stripMargin
  }

  /** The five-rule keep conjunction over [[sqlGopherMetricsCte]]'s
    * column names — pure integer cross-multiplications, zero float
    * division (bit-identical across engines by construction).
    */
  private[operators] val sqlGopherKeepCond: String =
    """n_words >= 50 AND n_words <= 100000
      |        AND 3 * n_words <= n_chars_ns AND n_chars_ns <= 10 * n_words
      |        AND 5 * n_alpha >= 4 * n_words
      |        AND n_stop >= 2
      |        AND 10 * n_sym <= n_words""".stripMargin

  /** Spark side of [[sqlGopherMetricsCte]]: the metric columns over a
    * frame with a `text` column.
    */
  private[operators] def gopherMetricCols: Seq[org.apache.spark.sql.Column] = {
    val tk = tokens(col("text"))
    val stopwords = Seq("the", "a", "of", "to", "and")
    // literal (non-regex) replace mirrors DuckDB's replace() exactly;
    // the '...' diff is always a multiple of 3, so the double division
    // is exact and the final cast loses nothing
    Seq(
      size(tk).cast("long").as("n_words"),
      length(regexp_replace(col("text"), " ", "")).cast("long").as("n_chars_ns"),
      size(filter(tk, t => t.rlike("[a-zA-Z]"))).cast("long").as("n_alpha"),
      size(filter(tk, t => t.isin(stopwords.map(lit(_)): _*))).cast("long").as("n_stop"),
      (length(col("text")) - length(replace(col("text"), lit("#"), lit(""))) +
        (length(col("text")) - length(replace(col("text"), lit("..."), lit("")))) / 3)
        .cast("long").as("n_sym"))
  }

  /** Spark side of [[sqlGopherKeepCond]], over the metric names. */
  private[operators] def gopherKeepCond: org.apache.spark.sql.Column =
    col("n_words") >= 50L && col("n_words") <= 100000L &&
      lit(3L) * col("n_words") <= col("n_chars_ns") &&
      col("n_chars_ns") <= lit(10L) * col("n_words") &&
      lit(5L) * col("n_alpha") >= lit(4L) * col("n_words") &&
      col("n_stop") >= 2L &&
      lit(10L) * col("n_sym") <= col("n_words")

  /** GOPHER RULE FILTERING (Rae et al. 2021, arXiv:2112.11446
    * §A1.1) — the NAMED pre-training quality rule set (t03 scores a
    * blended quality, t24 buckets by an LM signal; THIS is the
    * published hard-threshold family nearly every later pipeline —
    * MassiveText, RefinedWeb, Dolma, FineWeb — starts from): word
    * count in [50, 100k], mean word length in [3, 10], ≥80% of words
    * containing an alphabetic character, ≥2 stop words, and a
    * symbol-to-word ratio ≤ 0.1 ('#' and '…'-as-'...'). Every ratio
    * threshold is spelled CROSS-MULTIPLIED so the verdicts are pure
    * integer comparisons — bit-portable across engines with no
    * float-division edge anywhere; each rule emits its own flag so
    * downstream can ablate rules, and `keep` is their conjunction.
    * Pure per-row projection: zero shuffle, fully codegen'd, the
    * t14 scale shape.
    */
  val t27GopherRules = Q(
    "t27_gopher_rules",
    { s"""WITH m AS (
         |  ${sqlGopherMetricsCte("documents")}
         |)
         |SELECT doc_id, n_words,
         |  CAST(CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 ELSE 0 END AS INT) AS r_wordcount,
         |  CAST(CASE WHEN 3 * n_words <= n_chars_ns AND n_chars_ns <= 10 * n_words THEN 1 ELSE 0 END AS INT) AS r_meanlen,
         |  CAST(CASE WHEN 5 * n_alpha >= 4 * n_words THEN 1 ELSE 0 END AS INT) AS r_alpha,
         |  CAST(CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS INT) AS r_stop,
         |  CAST(CASE WHEN 10 * n_sym <= n_words THEN 1 ELSE 0 END AS INT) AS r_symbol,
         |  CAST(CASE WHEN $sqlGopherKeepCond THEN 1 ELSE 0 END AS INT) AS keep
         |FROM m ORDER BY doc_id""".stripMargin }
  ) { (s, d) =>
    val rWc = col("n_words") >= 50L && col("n_words") <= 100000L
    val rMl = lit(3L) * col("n_words") <= col("n_chars_ns") &&
      col("n_chars_ns") <= lit(10L) * col("n_words")
    val rAl = lit(5L) * col("n_alpha") >= lit(4L) * col("n_words")
    val rSt = col("n_stop") >= 2L
    val rSy = lit(10L) * col("n_sym") <= col("n_words")
    Tables.documents(s, d)
      .select(col("doc_id") +: gopherMetricCols: _*)
      .select(col("doc_id"), col("n_words"),
        when(rWc, 1).otherwise(0).cast("int").as("r_wordcount"),
        when(rMl, 1).otherwise(0).cast("int").as("r_meanlen"),
        when(rAl, 1).otherwise(0).cast("int").as("r_alpha"),
        when(rSt, 1).otherwise(0).cast("int").as("r_stop"),
        when(rSy, 1).otherwise(0).cast("int").as("r_symbol"),
        when(gopherKeepCond, 1).otherwise(0).cast("int").as("keep"))
      .orderBy(col("doc_id"))
  }

  def all: Seq[Q] = Seq(t01TokenStats, t02LangId, t03QualityScore, t04Fingerprint,
    t05BpeTokens, t06RepetitionFilter, t07Tfidf, t08Vocab, t09PiiScrub,
    t10Contamination, t11UnigramRarity, t12HeavyHitters, t13CorpusProfile,
    t14HtmlExtract, t15NgramPerplexity, t16BpeMerges, t17BpeEncode,
    t18MarkovGenerate, t19KneserNey, t20SynthNovelty, t21UnicodeNormalize,
    t22DistributionDrift, t23ZipfOctaves, t24CcnetBuckets,
    t25Attribution, t26ScriptMix, t27GopherRules)
}
