package graft.functions

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  test("kernels are callable from SQL after registration") {
    val dot = spark.sql(
      "SELECT float_vec_dot(array(cast(1.0 as float), cast(2.0 as float)), " +
        "array(cast(3.0 as float), cast(4.0 as float))) AS d")
      .head().getDouble(0)
    assert(dot == 11.0)
    val jac = spark.sql(
      "SELECT sorted_array_jaccard(array('a','b','c'), array('b','c','d')) AS j")
      .head().getDouble(0)
    assert(jac == 2.0 / 4.0)
  }

  test("simhash_bits kernel is bit-equal to the declarative per-bit spelling") {
    // real corpus + hand-picked edge cases (empty-string token, single
    // token, duplicate-free long set)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("array_distinct(split(text, ' ')) AS ts")
      .union(spark.sql("SELECT array('') AS ts"))
      .union(spark.sql("SELECT array('lone') AS ts"))
    val mismatches = docs.selectExpr(
      s"simhash_bits(ts, 32) AS kernel",
      s"${TextVec.simhashSparkSql("ts", 32)} AS declarative")
      .filter("kernel <> declarative").count()
    assert(mismatches == 0)
  }

  test("max_dup_count kernel equals the declarative distinct×filter spelling") {
    val arrays = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("split(text, ' ') AS xs")
      .union(spark.sql("SELECT array('a','a','a') AS xs"))
      .union(spark.sql("SELECT array('x') AS xs"))
    val mismatches = arrays.selectExpr(
      "max_dup_count(xs) AS kernel",
      "array_max(transform(array_distinct(xs), g -> size(filter(xs, x -> x = g)))) AS declarative")
      .filter("kernel <> declarative").count()
    assert(mismatches == 0)
    // empty array: kernel returns 0 where the lambda spelling is NULL
    assert(spark.sql("SELECT max_dup_count(array())").head().getInt(0) == 0)
  }

  test("pii_scrub kernel equals the declarative regexp spelling") {
    // Spark SQL string literals eat one level of backslash
    val email = PiiScrub.EmailPattern.replace("\\", "\\\\")
    val phone = PiiScrub.PhonePattern.replace("\\", "\\\\")
    // real corpus with the t09 injection, plus adversarial rows: no
    // PII at all, several matches, a phone embedded in an email local
    // part (the count-phones-on-raw contract), and back-to-back hits
    val texts = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("text || ' contact user' || CAST(doc_id AS STRING) " +
        "|| '@example.com ref +1-555-' || lpad(CAST(doc_id % 10000 AS STRING), 4, '0') AS raw")
      .union(spark.sql("SELECT 'no pii here at all' AS raw"))
      .union(spark.sql("SELECT 'a@b.io c@d.org +1-555-0001 +1-555-0002' AS raw"))
      .union(spark.sql("SELECT 'call +1-555-9999@example.com now' AS raw"))
      .union(spark.sql("SELECT '+1-555-0042+1-555-0043' AS raw"))
    val declarative =
      s"""named_struct(
         |  'n_emails', size(regexp_extract_all(raw, '$email', 0)),
         |  'n_phones', size(regexp_extract_all(raw, '$phone', 0)),
         |  'redacted', regexp_replace(regexp_replace(raw, '$email', '<EMAIL>'),
         |                             '$phone', '<PHONE>'),
         |  'n_residual', size(regexp_extract_all(
         |      regexp_replace(regexp_replace(raw, '$email', '<EMAIL>'),
         |                     '$phone', '<PHONE>'), '$email', 0))
         |    + size(regexp_extract_all(
         |      regexp_replace(regexp_replace(raw, '$email', '<EMAIL>'),
         |                     '$phone', '<PHONE>'), '$phone', 0)))""".stripMargin
    val mismatches = texts.selectExpr(
      "pii_scrub(raw) AS kernel", s"$declarative AS declarative")
      .filter("kernel <> declarative").count()
    assert(mismatches == 0)
  }

  test("roll_hash kernel equals the declarative fold spelling") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("split(text, ' ') AS tk")
      .union(spark.sql("SELECT array('') AS tk"))
    val mismatches = docs.selectExpr(
      "roll_hash(tk) AS kernel",
      s"${TextVec.rollhashSparkSql("tk")} AS declarative")
      .filter("kernel <> declarative").count()
    assert(mismatches == 0)
  }

  test("64-bit simhash: low 32 bits equal the 32-bit hash; high bits populated") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("array_distinct(split(text, ' ')) AS ts")
    // bits 0..31 use the identical rule in both widths, so they must agree
    val mismatches = docs.selectExpr(
      "simhash_bits(ts, 64) & 4294967295 AS low64",
      "simhash_bits(ts, 32) AS h32")
      .filter("low64 <> h32").count()
    assert(mismatches == 0)
    // the upper 32 bits are a real (non-constant) hash, not padding
    val distinctHigh = docs.selectExpr("simhash_bits(ts, 64) >> 32 AS hi")
      .distinct().count()
    assert(distinctHigh > 10, s"upper simhash bits look degenerate: $distinctHigh values")
  }

  test("const-int k accepts BIGINT and foldable literals, rejects non-constants") {
    // 8L (BIGINT literal) and a foldable expression both fold to the same kernel
    val r = spark.sql(
      "SELECT minhash_sigs(array('a','b'), 8L) AS l, " +
        "minhash_sigs(array('a','b'), 4 + 4) AS f, " +
        "minhash_sigs(array('a','b'), 8) AS i").head()
    assert(r.getSeq[String](0) == r.getSeq[String](2))
    assert(r.getSeq[String](1) == r.getSeq[String](2))
    assert(spark.sql("SELECT simhash_bits(array('a'), 32L)").head().getLong(0)
      == spark.sql("SELECT simhash_bits(array('a'), 32)").head().getLong(0))
    // non-constant k: the error names the real problem, not arity
    val e = intercept[Exception] {
      spark.sql("SELECT minhash_sigs(array('a'), cast(id AS INT)) FROM range(1)").collect()
    }
    assert(e.getMessage.contains("integer constant"), e.getMessage)
  }

  test("word_grams kernel equals the declarative shingle spelling") {
    // real corpus + the guard edge cases (exactly n−1, exactly n,
    // duplicate-heavy tokens)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("split(text, ' ') AS tk")
      .union(spark.sql("SELECT array('a','b','c','d','e','f','g') AS tk"))
      .union(spark.sql("SELECT array('a','b','c','d','e','f','g','h') AS tk"))
      .union(spark.sql("SELECT array('x','x','x','x','x','x','x','x','x') AS tk"))
      // null token array: both spellings must yield [] (round-3 advice)
      .union(spark.sql("SELECT CAST(NULL AS ARRAY<STRING>) AS tk"))
    val declarative =
      "CASE WHEN size(tk) >= 8 THEN array_distinct(transform(sequence(1, size(tk) - 7), " +
        "i -> concat_ws(' ', element_at(tk, i), element_at(tk, i+1), element_at(tk, i+2), " +
        "element_at(tk, i+3), element_at(tk, i+4), element_at(tk, i+5), element_at(tk, i+6), " +
        "element_at(tk, i+7)))) ELSE array() END"
    // null-safe comparison: `<>` is NULL when either side is NULL, so
    // a null-input divergence would be invisible to it (round-3 advice)
    val mismatches = docs.selectExpr(
      "word_grams(tk, 8) AS kernel", s"$declarative AS declarative")
      .filter("NOT (kernel <=> declarative)").count()
    assert(mismatches == 0)
  }

  test("word_grams_multi kernel keeps multiplicity and equals the non-distinct spelling") {
    // real corpus + edge cases: exactly n−1 (empty), exactly n (one
    // gram), repeated tokens (the case distinct would collapse), null
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("split(text, ' ') AS tk")
      .union(spark.sql("SELECT array('a') AS tk"))
      .union(spark.sql("SELECT array('a','b') AS tk"))
      .union(spark.sql("SELECT array('x','x','x','x') AS tk"))
      .union(spark.sql("SELECT CAST(NULL AS ARRAY<STRING>) AS tk"))
    val declarative =
      "CASE WHEN size(tk) >= 2 THEN transform(sequence(1, size(tk) - 1), " +
        "i -> concat_ws(' ', element_at(tk, i), element_at(tk, i+1))) ELSE array() END"
    val mismatches = docs.selectExpr(
      "word_grams_multi(tk, 2) AS kernel", s"$declarative AS declarative")
      .filter("NOT (kernel <=> declarative)").count()
    assert(mismatches == 0)
    // multiplicity is the point: 'x x x x' has THREE 'x x' grams
    assert(spark.sql("SELECT size(word_grams_multi(array('x','x','x','x'), 2))")
      .head().getInt(0) == 3)
  }

  test("winnow_mins kernel equals the declarative winnowing spelling") {
    // real corpus + edge cases: exactly n−1 tokens (no grams), exactly
    // n (one gram, short-window min), n+w−2 (one short window),
    // n+w−1 (first full window), duplicate-heavy (tied minima), null
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("split(text, ' ') AS tk")
      .union(spark.sql("SELECT transform(sequence(1, 15), x -> CAST(x AS STRING)) AS tk"))
      .union(spark.sql("SELECT transform(sequence(1, 16), x -> CAST(x AS STRING)) AS tk"))
      .union(spark.sql("SELECT transform(sequence(1, 22), x -> CAST(x AS STRING)) AS tk"))
      .union(spark.sql("SELECT transform(sequence(1, 23), x -> CAST(x AS STRING)) AS tk"))
      .union(spark.sql("SELECT transform(sequence(1, 40), x -> 'x') AS tk"))
      .union(spark.sql("SELECT CAST(NULL AS ARRAY<STRING>) AS tk"))
    val g16 = (0 until 16).map(j => if (j == 0) "element_at(tk, i)" else s"element_at(tk, i+$j)")
      .mkString(", ")
    val gsExpr =
      s"CASE WHEN size(tk) >= 16 THEN transform(sequence(1, size(tk) - 15), " +
        s"i -> md5(concat_ws(' ', $g16))) ELSE array() END"
    // cache the gram stage: CollapseProject would otherwise inline the
    // md5 transform into the winnow lambda and re-hash per position
    val staged = base.selectExpr("tk", s"$gsExpr AS gs").cache()
    val fpsExpr =
      "CASE WHEN size(gs) >= 1 THEN array_distinct(transform(" +
        "sequence(1, greatest(size(gs) - 7, 1)), j -> array_min(slice(gs, j, 8)))) " +
        "ELSE array() END"
    val mismatches = staged.selectExpr(
      "winnow_mins(tk, 16, 8) AS kernel", s"$fpsExpr AS declarative")
      .filter("NOT (kernel <=> declarative)").count()
    staged.unpersist()
    assert(mismatches == 0)
  }

  test("quality_score kernel equals the declarative lambda spelling bit-for-bit") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("split(text, ' ') AS tk")
      .union(spark.sql("SELECT array('') AS tk")) // empty-text split
      .union(spark.sql("SELECT array('the','the','a','xx') AS tk"))
      .union(spark.sql("SELECT CAST(NULL AS ARRAY<STRING>) AS tk"))
    val declarative =
      "least(CAST(size(tk) AS DOUBLE) / 40.0, 1.0) * 0.4 " +
        "+ (CAST(size(array_distinct(tk)) AS DOUBLE) / size(tk)) * 0.4 " +
        "+ (CAST(size(filter(tk, t -> t IN ('the','a','of','to','and'))) AS DOUBLE) / size(tk)) * 0.2"
    val mismatches = docs.selectExpr(
      "quality_score(tk) AS kernel", s"$declarative AS declarative")
      .filter("NOT (kernel <=> declarative)").count()
    assert(mismatches == 0)
    // empty array: NULL (the oracle's 0/0), never NaN — the ANSI-mode
    // declarative spelling raises DIVIDE_BY_ZERO here so it can't sit
    // in the comparison above
    assert(spark.sql("SELECT quality_score(array())").head().isNullAt(0))
  }

  test("nfc_normalize: composed/decomposed collapse, ascii fast-path identity, SQL registration") {
    // decomposed e + U+0301 composes to U+00E9; codepoint count drops
    val r = spark.sql(
      "SELECT nfc_normalize('e\u0301') = '\u00e9', length(nfc_normalize('e\u0301')), " +
        "nfc_normalize('plain ascii'), nfc_normalize(CAST(NULL AS STRING))").head()
    assert(r.getBoolean(0), "decomposed sequence did not compose to the NFC form")
    assert(r.getInt(1) == 1)
    assert(r.getString(2) == "plain ascii")
    assert(r.isNullAt(3))
  }

  test("the shared session holds each planner rule once, in order") {
    val optimizer = spark.sessionState.optimizer.extendedOperatorOptimizationRules
    assert(optimizer.filter(GraftExtensions.optimizerRules.contains) ==
      GraftExtensions.optimizerRules, s"optimizer rules: ${optimizer.map(_.ruleName)}")
    val physical = spark.sessionState.adaptiveRulesHolder.queryStagePrepRules
    GraftExtensions.queryStagePrepRules.foreach { r =>
      assert(physical.count(_ == r) == 1,
        s"expected exactly one copy of ${r.ruleName}, got ${physical.count(_ == r)}")
    }
  }
}
