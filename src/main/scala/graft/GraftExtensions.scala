package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{
  CharNGrams, HashFold, MattrSumTypes, Md5Fold48, NGrams, Simhash60, Sketch60,
  SrpSketch60, TokenNGrams, UnicodeNorm, UnicodeNormalize, VectorDot}

/** Session-extension entry point: inject graft's native functions, the
  * TopKPerKey planner strategy and the two optimizer rules at session
  * build time —
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * (equivalently `.withExtensions(new GraftExtensions)`), making every
  * function in [[GraftExtensions.functions]] available to pure-SQL users.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // declarative aggregate(zip_with(...)) dot products fuse into the
    // codegen'd VectorDot automatically (exact-semantics rewrite)
    ext.injectOptimizerRule(_ => functions.DotProductFusion)
    // the TopKPerKey whole-operator extension (bounded-heap per-key top-k)
    // plus its key-predicate pushdown rule (whole-group filters sink below
    // the operator, shrinking the shuffle map-side)
    ext.injectPlannerStrategy(_ => plans.TopKStrategy)
    ext.injectOptimizerRule(_ => plans.PushFilterThroughTopKPerKey)
  }
}

object GraftExtensions {
  private def fn(name: String, cls: Class[_], builder: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)

  /** The one list of graft's native functions: injected at session build
    * by [[GraftExtensions.apply]], registered on a live session by
    * [[install]]. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn("vec_dot", classOf[VectorDot], VectorDot.builder),
    fn("token_ngrams", classOf[TokenNGrams], NGrams.tokenBuilder),
    fn("char_ngrams", classOf[CharNGrams], NGrams.charBuilder),
    fn("unicode_norm", classOf[UnicodeNormalize], UnicodeNorm.builder),
    fn("simhash60", classOf[Simhash60], Sketch60.simhashBuilder),
    fn("srp_sketch60", classOf[SrpSketch60], Sketch60.srpBuilder),
    fn("md5fold48", classOf[Md5Fold48], HashFold.builder),
    fn("mattr_sum_types", classOf[MattrSumTypes], MattrSumTypes.builder))

  /** Give a live session what the registry's ops need: every function in
    * [[functions]] and [[plans.TopKStrategy]] appended to
    * `experimental.extraStrategies`. [[ops.Registry.queries]] calls this
    * before each op; a second call changes nothing.
    *
    * Serialized on the session object: the strategy append is a read-
    * modify-write on a plain var, so two threads installing concurrently
    * (a parallel bench) could otherwise double-append or lose an unrelated
    * strategy. A session built with [[GraftExtensions]] already plans
    * TopKPerKey through the injected strategy and gets no second copy.
    *
    * The optimizer rules are not installed: no op needs them, and they
    * rewrite user plans, so they stay opt-in via `spark.sql.extensions`.
    */
  def install(s: SparkSession): Unit = s.synchronized {
    val registry = s.sessionState.functionRegistry
    for ((id, info, builder) <- functions if !registry.functionExists(id))
      registry.registerFunction(id, info, builder)
    if (!s.sessionState.planner.strategies.contains(plans.TopKStrategy))
      s.experimental.extraStrategies = s.experimental.extraStrategies :+ plans.TopKStrategy
  }
}
