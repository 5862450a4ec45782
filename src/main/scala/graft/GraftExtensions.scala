package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.expressions.{BandBuckets, DotLongs, DotQuant6, HilbertIndex, Log2Milli, Md5Prefix60, MinHashK, NormalizeWs, Quant6Array, RhpBandKeys, ShingleHash60, Simhash60, TokenGramHash60, TokenGramPos60}

/** SparkSessionExtensions hook registering the library's native
  * expressions as SQL functions. Activate with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` (all the
  * library's mains and the test session do).
  */
object GraftExtensions {

  // keyed on the session OBJECT via a WeakHashMap: identityHashCode is
  // neither unique nor evicted, so a GC'd session's slot could collide
  // with a later session and silently skip registration
  private val registered =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, java.lang.Boolean]()))

  /** Idempotently register the native functions in an EXISTING session —
    * belt-and-braces for harnesses that build their SparkSession without
    * `spark.sql.extensions=graft.GraftExtensions`. Called by
    * [[SparkEntry.queries]] so every driver entry point works regardless
    * of how the session was constructed.
    */
  def ensure(spark: org.apache.spark.sql.SparkSession): Unit =
    if (registered.add(spark)) {
      val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.functionRegistry
      new GraftExtensions().builders.foreach { case (ident, info, builder) =>
        if (!reg.functionExists(ident))
          reg.registerFunction(ident, info, builder)
      }
      // strategies for sessions built without spark.sql.extensions: the
      // experimental hook is the supported post-hoc registration point
      val exp = spark.experimental
      if (!exp.extraStrategies.contains(graft.plans.AsOfJoinStrategy))
        exp.extraStrategies =
          exp.extraStrategies :+ graft.plans.AsOfJoinStrategy
      // optimizer rules for sessions built without spark.sql.extensions
      if (!exp.extraOptimizations.contains(graft.plans.RangeJoinRewriteRule))
        exp.extraOptimizations = exp.extraOptimizations ++
          Seq(graft.plans.LevenshteinBoundRule,
            graft.plans.RangeJoinRewriteRule)
      // the path catalog for SQL DML on snapshot tables (resolved
      // lazily at first `graft_lake.…` reference, so a runtime conf
      // set is sufficient)
      if (!spark.conf.getOption("spark.sql.catalog.graft_lake").isDefined)
        spark.conf.set("spark.sql.catalog.graft_lake",
          classOf[graft.sources.GraftCatalog].getName)
    }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** shared foldable-literal extractor for the builders below */
  private def intLit(fn: String, what: String)(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Int = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"$fn: $what must be a foldable integer literal")
    e.eval() match {
      case i: java.lang.Integer => i.intValue
      case l: java.lang.Long => l.intValue
      case sh: java.lang.Short => sh.intValue
      case b: java.lang.Byte => b.intValue
      case other => throw new IllegalArgumentException(
        s"$fn: $what must be an integer literal, got $other")
    }
  }

  private[graft] val builders: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression)] = Seq(
    (new FunctionIdentifier("md5prefix60"),
      new ExpressionInfo(classOf[Md5Prefix60].getName, "md5prefix60"),
      children => Md5Prefix60(children.head)),
    (new FunctionIdentifier("bottomk"),
      new ExpressionInfo(classOf[graft.expressions.BottomK].getName,
        "bottomk"),
      children => graft.expressions.BottomK(children.head,
        intLit("bottomk", "k")(children(1)))),
    (new FunctionIdentifier("mg"),
      new ExpressionInfo(classOf[graft.expressions.MisraGriesAgg].getName,
        "mg"),
      children => graft.expressions.MisraGriesAgg(children.head,
        intLit("mg", "k")(children(1)))),
    (new FunctionIdentifier("dotq6"),
      new ExpressionInfo(classOf[DotQuant6].getName, "dotq6"),
      children => DotQuant6(children.head, children(1))),
    (new FunctionIdentifier("dotl"),
      new ExpressionInfo(classOf[DotLongs].getName, "dotl"),
      children => DotLongs(children.head, children(1))),
    (new FunctionIdentifier("normws"),
      new ExpressionInfo(classOf[NormalizeWs].getName, "normws"),
      children => NormalizeWs(children.head)),
    (new FunctionIdentifier("simhash60"),
      new ExpressionInfo(classOf[Simhash60].getName, "simhash60"),
      children => Simhash60(children.head)),
    (new FunctionIdentifier("tokengramhash60"),
      new ExpressionInfo(classOf[TokenGramHash60].getName, "tokengramhash60"),
      children => TokenGramHash60(children.head,
        intLit("tokengramhash60", "n")(children(1)))),
    (new FunctionIdentifier("tokengrampos60"),
      new ExpressionInfo(classOf[TokenGramPos60].getName, "tokengrampos60"),
      children => TokenGramPos60(children.head,
        intLit("tokengrampos60", "n")(children(1)))),
    (new FunctionIdentifier("quant6arr"),
      new ExpressionInfo(classOf[Quant6Array].getName, "quant6arr"),
      children => Quant6Array(children.head)),
    (new FunctionIdentifier("bandbuckets"),
      new ExpressionInfo(classOf[BandBuckets].getName, "bandbuckets"),
      children => BandBuckets(children.head,
        intLit("bandbuckets", "rowsPerBand")(children(1)),
        intLit("bandbuckets", "bands")(children(2)))),
    (new FunctionIdentifier("rhpbands"),
      new ExpressionInfo(classOf[RhpBandKeys].getName, "rhpbands"),
      children => RhpBandKeys(children.head)),
    (new FunctionIdentifier("hilbertindex"),
      new ExpressionInfo(classOf[HilbertIndex].getName, "hilbertindex"),
      children => HilbertIndex(children.head, children(1),
        intLit("hilbertindex", "bits")(children(2)))),
    (new FunctionIdentifier("shinglehash60"),
      new ExpressionInfo(classOf[ShingleHash60].getName, "shinglehash60"),
      children => ShingleHash60(children.head,
        intLit("shinglehash60", "n")(children(1)))),
    (new FunctionIdentifier("log2milli"),
      new ExpressionInfo(classOf[Log2Milli].getName, "log2milli"),
      children => Log2Milli(children.head)),
    (new FunctionIdentifier("minhashk"),
      new ExpressionInfo(classOf[MinHashK].getName, "minhashk"),
      children => MinHashK(children.head,
        intLit("minhashk", "k")(children(1)))))

  override def apply(ext: SparkSessionExtensions): Unit = {
    builders.foreach(ext.injectFunction)
    // domain optimizer rules
    ext.injectOptimizerRule(_ => graft.plans.LevenshteinBoundRule)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewriteRule)
    // whole-operator extension: the native as-of join's planner strategy
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
