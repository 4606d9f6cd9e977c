package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point: deployments add
  * `spark.sql.extensions=graft.functions.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`) and the engine's native
  * expressions resolve in plain SQL on every session. A session built
  * without the extension gets the same table from
  * `VulFunctions.register`, which also adds the `version_parse` UDF
  * (UDF registration is session state, not an extension injection). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(extensions.injectFunction)
    // SURVEY §4.2's optional Rule: version_cmp interval joins
    // rewrite to bucket equi-joins on the version_key coarsening
    // (exact — unkeyable residue unions back via nested loop).
    // spark.graft.versionIntervalJoin.enabled=false opts out.
    extensions.injectOptimizerRule(_ => graft.plans.VersionIntervalJoinRule)
  }
}

object GraftExtensions {

  /** The one list of the engine's native SQL functions, in the shape
    * `injectFunction` and `FunctionRegistry.registerFunction` both
    * take. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fixed("version_cmp", classOf[VersionCmp], 2)(e => VersionCmp(e(0), e(1))),
    fixed("version_key", classOf[VersionKey], 1)(e => VersionKey(e(0))),
    fixed("version_valid", classOf[VersionValid], 1)(e => VersionValid(e(0))),
    fixed("cve_year", classOf[CveYearExpr], 1)(e => CveYearExpr(e(0))),
    native("shingles", classOf[ShinglesExpr], TextExpressions.fromSeqShingles),
    native("minhash_sig", classOf[MinhashSigExpr], TextExpressions.fromSeqMinhash),
    fixed("simhash64", classOf[SimHash64Expr], 1)(e => SimHash64Expr(e(0))),
    fixed("simhash64_text", classOf[SimHash64TextExpr], 1)(e => SimHash64TextExpr(e(0))),
    fixed("nfc_normalize", classOf[NfcNormalizeExpr], 1)(e => NfcNormalizeExpr(e(0))),
    native("bloom_might_contain", classOf[BloomMightContainExpr], TextExpressions.fromSeqBloom),
    fixed("repetition_stats", classOf[RepetitionStatsExpr], 1)(e => RepetitionStatsExpr(e(0))),
    native("parse_range_expr", classOf[ParseRangeExprE], RangeExpressions.fromSeqParse),
    native("range_contains", classOf[RangeContainsE], RangeExpressions.fromSeqContains),
    fixed("cosine_sim", classOf[CosineSim], 2)(e => CosineSim(e(0), e(1))),
    fixed("dot_product", classOf[DotProduct], 2)(e => DotProduct(e(0), e(1))),
    native("top_k", classOf[TopKAgg], TopKAgg.fromSeqTopK),
    native("heavy_hitters", classOf[HeavyHittersAgg], HeavyHittersAgg.fromSeqHeavyHitters))

  private def native(name: String, cls: Class[_],
      build: FunctionBuilder): (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (new FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  /** A fixed-arity function: the wrong argument count fails at
    * analysis with the function's name, not deep inside the
    * expression. */
  private def fixed(name: String, cls: Class[_], arity: Int)(
      build: FunctionBuilder): (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    native(name, cls, exprs => {
      if (exprs.length != arity)
        throw new IllegalArgumentException(
          s"$name requires exactly $arity argument${if (arity == 1) "" else "s"}, " +
            s"got ${exprs.length}")
      build(exprs)
    })
}
