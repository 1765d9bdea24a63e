package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers graft's native
  * expressions as SQL functions so `spark.sql("… float_vec_dot(a,b)
  * …")` works, not just the Column API, and injects graft's optimizer
  * and physical rules. `Runeset.buildSession` installs it with
  * `.withExtensions(new GraftExtensions)` on every session it builds.
  *
  * This is the (a)/(b) tier of the custom-operator ladder — scalar
  * codegen expressions, plus optimizer rules and one physical
  * preparation rule over Spark's own operators. No custom
  * LogicalPlan/Strategy exists on purpose: every whole-operator
  * semantic in the inventory composes from Catalyst-planned built-ins
  * (SURVEY.md §4 "start with none").
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.definitions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    GraftExtensions.optimizerRules.foreach(r => ext.injectOptimizerRule(_ => r))
    GraftExtensions.queryStagePrepRules.foreach(r => ext.injectQueryStagePrepRule(_ => r))
  }
}

object GraftExtensions {
  private type Builder = Seq[Expression] => Expression

  private def binary(name: String, make: (Expression, Expression) => Expression): Builder = {
    case Seq(a, b) => make(a, b)
    case exprs => throw new IllegalArgumentException(
      s"$name expects 2 arguments, got ${exprs.size}")
  }

  /** Folds a plan-time integer constant (the kernels' window/member
    * counts fix codegen shape, so they must be known when the
    * expression is built). Accepts any foldable integral expression —
    * `8`, `8L`, `4+4` — not just an IntegerType literal.
    */
  private def foldConstInt(name: String, k: Expression): Int = {
    val folded =
      if (k.foldable) k.eval() match {
        case i: Int => Some(i)
        case l: Long if l.isValidInt => Some(l.toInt)
        case s: Short => Some(s.toInt)
        case b: Byte => Some(b.toInt)
        case _ => None
      } else None
    folded.getOrElse(throw new IllegalArgumentException(
      s"$name expects an integer constant argument (e.g. 8 or 8L), got ${k.sql}"))
  }

  /** (array, k) builders where k must fold to an integer constant at
    * plan time; distinguishes wrong-arity from non-constant-k in the
    * error.
    */
  private def arrayWithConstInt(name: String, make: (Expression, Int) => Expression): Builder = {
    case Seq(ts, k) => make(ts, foldConstInt(name, k))
    case exprs => throw new IllegalArgumentException(
      s"$name expects 2 arguments (array<string>, int constant), got ${exprs.size}")
  }

  val definitions: Seq[(String, ExpressionInfo, Builder)] = Seq(
    ("float_vec_dot",
      new ExpressionInfo(classOf[FloatVecDot].getName, "float_vec_dot"),
      binary("float_vec_dot", FloatVecDot(_, _))),
    ("sorted_array_jaccard",
      new ExpressionInfo(classOf[SortedArrayJaccard].getName, "sorted_array_jaccard"),
      binary("sorted_array_jaccard", SortedArrayJaccard(_, _))),
    ("minhash_sigs",
      new ExpressionInfo(classOf[MinHashSigs].getName, "minhash_sigs"),
      arrayWithConstInt("minhash_sigs", MinHashSigs(_, _))),
    ("max_dup_count",
      new ExpressionInfo(classOf[MaxDupCount].getName, "max_dup_count"),
      {
        case Seq(xs) => MaxDupCount(xs)
        case exprs => throw new IllegalArgumentException(
          s"max_dup_count expects 1 argument, got ${exprs.size}")
      }),
    ("roll_hash",
      new ExpressionInfo(classOf[RollHash].getName, "roll_hash"),
      {
        case Seq(xs) => RollHash(xs)
        case exprs => throw new IllegalArgumentException(
          s"roll_hash expects 1 argument, got ${exprs.size}")
      }),
    ("simhash_bits",
      new ExpressionInfo(classOf[SimHashBits].getName, "simhash_bits"),
      arrayWithConstInt("simhash_bits", SimHashBits(_, _))),
    ("word_grams",
      new ExpressionInfo(classOf[WordGrams].getName, "word_grams"),
      arrayWithConstInt("word_grams", WordGrams(_, _))),
    ("word_grams_multi",
      new ExpressionInfo(classOf[WordGramsMulti].getName, "word_grams_multi"),
      arrayWithConstInt("word_grams_multi", WordGramsMulti(_, _))),
    ("quality_score",
      new ExpressionInfo(classOf[QualityScore].getName, "quality_score"),
      {
        case Seq(ts) => QualityScore(ts)
        case exprs => throw new IllegalArgumentException(
          s"quality_score expects 1 argument, got ${exprs.size}")
      }),
    ("pii_scrub",
      new ExpressionInfo(classOf[PiiScrub].getName, "pii_scrub"),
      {
        case Seq(t) => PiiScrub(t)
        case exprs => throw new IllegalArgumentException(
          s"pii_scrub expects 1 argument, got ${exprs.size}")
      }),
    ("nfc_normalize",
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      {
        case Seq(t) => NfcNormalize(t)
        case exprs => throw new IllegalArgumentException(
          s"nfc_normalize expects 1 argument, got ${exprs.size}")
      }),
    ("argmax_dot",
      new ExpressionInfo(classOf[ArgmaxDot].getName, "argmax_dot"),
      {
        case Seq(emb, cents, cids) => ArgmaxDot(emb, cents, cids)
        case exprs => throw new IllegalArgumentException(
          s"argmax_dot expects 3 arguments (array<float>, array<array<double>>, array<bigint>), got ${exprs.size}")
      }),
    ("winnow_mins",
      new ExpressionInfo(classOf[WinnowMins].getName, "winnow_mins"),
      {
        case Seq(ts, n, w) =>
          WinnowMins(ts, foldConstInt("winnow_mins", n), foldConstInt("winnow_mins", w))
        case exprs => throw new IllegalArgumentException(
          s"winnow_mins expects 3 arguments (array<string>, int constant n, int constant w), got ${exprs.size}")
      }))

  /** The optimizer rules GraftExtensions installs, in order. */
  val optimizerRules: Seq[org.apache.spark.sql.catalyst.rules.Rule[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] =
    // order matters within the fixpoint batch: InferJaccardSizeFilter
    // pattern-matches `sorted_array_jaccard >= c` to add its size
    // bounds; RewriteJaccardThresholdPredicate then CONSUMES that
    // shape (early-exit boolean kernel) — inference must see the
    // original conjunct first in each iteration
    Seq(graft.plans.InferJaccardSizeFilter, graft.plans.LevenshteinLengthPruning,
      graft.plans.RewriteJaccardThresholdPredicate)

  /** The physical rules GraftExtensions installs into adaptive query
    * planning, after `EnsureRequirements`.
    */
  val queryStagePrepRules: Seq[org.apache.spark.sql.catalyst.rules.Rule[
    org.apache.spark.sql.execution.SparkPlan]] =
    Seq(graft.plans.OnePartitionSortExchange)
}
