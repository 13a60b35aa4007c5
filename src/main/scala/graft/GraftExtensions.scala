package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{CleanText, HtmlExtract, LongArrayMatchCount, LongVecDistSq, MaxSimScore, MinHashSig, NgramHashes, QuantizeVec, SimHash64, SimHashText, UrlCanon, VecDot, WinnowFingerprint}

/** SparkSessionExtensions registering graft's custom expressions as SQL
  * functions, so `spark.sql("SELECT simhash_text(text) ...")` works —
  * enable with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` or
  * `SparkSession.builder().withExtensions(new GraftExtensions)`.
  */
object GraftExtensions {
  /** Every graft SQL function: name → builder over the call's argument
    * expressions. Both [[register]] and the session extension read it.
    */
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    ("simhash64", a => SimHash64(a.head)),
    ("simhash_text", a => SimHashText(a.head)),
    ("ngram_hashes", a => NgramHashes(a.head, intArg(a(1)))),
    ("winnow_fingerprint", a => WinnowFingerprint(a.head, intArg(a(1)), intArg(a(2)))),
    ("vec_dot", a => VecDot(a.head, a(1))),
    ("minhash_sig", a => MinHashSig(a.head, intArg(a(1)))),
    ("long_array_match_count", a => LongArrayMatchCount(a.head, a(1))),
    ("clean_text", a => CleanText(a.head)),
    ("maxsim_score", a => MaxSimScore(a.head, a(1), intArg(a(2)))),
    ("quantize_vec", a => QuantizeVec(a.head, intArg(a(1)))),
    ("longvec_dist_sq", a => LongVecDistSq(a.head, a(1))),
    ("html_extract", a => HtmlExtract(a.head)),
    ("url_canon", a => UrlCanon(a.head)))

  /** Register on an already-built session (temp functions). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "built-in")
    }

  private def intArg(e: Expression): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"expected int literal, got $other")
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
    // year(d)-predicate sargability — see SargableTimeRewrite scaladoc
    ext.injectOptimizerRule(_ => graft.plans.SargableTimeRewrite)
    // levenshtein(a,b)<=k gains a short-circuiting length prefilter
    ext.injectOptimizerRule(_ => graft.plans.EditDistancePrefilter)
    // aggregate navigator: fact rollups retarget onto registered
    // materialized pre-aggregates (see MvRewrite scaladoc)
    ext.injectOptimizerRule(_ => graft.plans.MvRewrite)
    GraftExtensions.functions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo("graft", name), builder))
    }
  }
}
