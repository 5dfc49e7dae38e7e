package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Config-driven registration of every custom graft expression: set
  * `spark.sql.extensions=graft.plans.GraftExtensions` (cluster-wide via
  * `--conf`, no code change in the consuming job) and `poly_hash`,
  * `vec_dot` and `topk` resolve in SQL and `call_function` from session
  * construction on — the same registry entries that
  * [[GraftFunctions.registerAll]] installs into one existing session.
  * `SparkEntry.session` (Verify, Bench, the dev tools) relies on this
  * route alone; query builders never register functions themselves.
  *
  * Unlike `createOrReplaceTempFunction`, injected builders are part of the
  * session state builder, so `SparkSession.newSession()` and cloned
  * sessions (e.g. per-query isolation on a shared cluster) inherit them.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  override def apply(ext: SparkSessionExtensions): Unit = {
    // maintenance DDL (OPTIMIZE / VACUUM / RESTORE) as first-class SQL —
    // a delegating parser that only intercepts the three verbs
    ext.injectParser((session, delegate) =>
      new graft.sources.GraftSqlParser(delegate, Some(session)))
    // SQL-view inlining (r18): UnresolvedRelations naming persisted
    // graft views substitute with their parsed bodies inside the
    // analyzer's resolution fixpoint — tables win names, nested views
    // resolve iteratively, pruning/pushdown flow through the inlined
    // plan into the scans
    ext.injectResolutionRule(session => GraftViewSubstitution(session))
    ext.injectFunction((
      FunctionIdentifier(PolyHashExpr.FnName),
      info(PolyHashExpr.FnName,
        "poly_hash(str) - (acc*31 + byte) mod 1e9+7 over the UTF-8 bytes"),
      (exprs: Seq[Expression]) => PolyHash(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier(GraftFunctions.DotName),
      info(GraftFunctions.DotName,
        "vec_dot(a, b) - dot product of two double arrays"),
      (exprs: Seq[Expression]) => DotProduct(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier(GraftFunctions.TopKName),
      info(GraftFunctions.TopKName,
        "topk(col, k) - k largest doubles per group, descending"),
      (exprs: Seq[Expression]) => TopKDoubles(exprs.head,
        GraftFunctions.litInt(GraftFunctions.TopKName, exprs, 1, "k"))
        .toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier(MinHashExpr.FnName),
      info(MinHashExpr.FnName,
        "minhashes(shingles, k) - k-permutation MinHash signature in one pass"),
      (exprs: Seq[Expression]) => MinHashes(exprs.head,
        GraftFunctions.litInt(MinHashExpr.FnName, exprs, 1, "k"))))
    ext.injectFunction((
      FunctionIdentifier(ShingleMinHashExpr.FnName),
      info(ShingleMinHashExpr.FnName,
        "shingle_minhash(toks, n) - min n-token-window hash, one pass"),
      (exprs: Seq[Expression]) => ShingleMinHash(exprs.head,
        GraftFunctions.litInt(ShingleMinHashExpr.FnName, exprs, 1, "n"))))
    ext.injectFunction((
      FunctionIdentifier(WinnowExpr.FnName),
      info(WinnowExpr.FnName,
        "winnow_fingerprints(toks, n, w) - distinct w-window shingle-hash minima"),
      (exprs: Seq[Expression]) => Winnow(exprs.head,
        GraftFunctions.litInt(WinnowExpr.FnName, exprs, 1, "n"),
        GraftFunctions.litInt(WinnowExpr.FnName, exprs, 2, "w"))))
    ext.injectFunction((
      FunctionIdentifier(WavHeaderExpr.FnName),
      info(WavHeaderExpr.FnName,
        "wav_meta(bytes) - RIFF/WAVE header parse to a metadata struct"),
      (exprs: Seq[Expression]) => WavMeta(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier(PngHeaderExpr.FnName),
      info(PngHeaderExpr.FnName,
        "png_meta(bytes) - PNG container parse to a metadata struct"),
      (exprs: Seq[Expression]) => PngMeta(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier(AviHeaderExpr.FnName),
      info(AviHeaderExpr.FnName,
        "avi_meta(bytes) - RIFF/AVI container parse to a metadata struct"),
      (exprs: Seq[Expression]) => AviMeta(exprs.head)))
  }
}
