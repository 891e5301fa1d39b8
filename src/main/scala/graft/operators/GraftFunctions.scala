package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal}
import org.apache.spark.sql.types.{DoubleType, StringType}

import graft.core.Direction

/**
 * SQL-surface registration: exposes the skyline aggregate to
 * `spark.sql(...)` so the whole engine is reachable without the Scala
 * DSL:
 *
 * {{{
 *   GraftFunctions.register(spark)
 *   spark.sql("""
 *     SELECT p[0] AS price, p[1] AS discount
 *     FROM (SELECT explode(skyline_agg('min,min', l_extendedprice, l_discount)) AS p
 *           FROM lineitem)
 *   """)
 * }}}
 *
 * `skyline_agg(<directions literal>, dim1, dim2, ...)` — the first
 * argument is a plain string literal, a comma-separated min/max list
 * with one entry per dimension column; returns array<array<double>>
 * (the sorted skyline). Dimensions are cast to double (numeric and
 * castable types work; rows whose cast yields null are dropped, the
 * same contract as the DSL path).
 */
object GraftFunctions {

  /** `fn`'s directions literal: a comma-separated min/max list, one
    * entry per dimension column; true = MIN. */
  private def directions(fn: String, arg: Expression, nDims: Int): Array[Boolean] = {
    val minDir = arg match {
      case Literal(s, StringType) if s != null =>
        s.toString.split(",").map(t => Direction.of(t).getOrElse(throw new IllegalArgumentException(
          s"$fn direction must be min or max, got '${t.trim.toLowerCase}'")).isMin)
      case other => throw new IllegalArgumentException(
        s"$fn's first argument must be a string literal of directions, got $other")
    }
    require(minDir.length == nDims, s"$fn: ${minDir.length} directions for $nDims dimension columns")
    minDir
  }

  /** The value of an integer-literal argument; `what` names it in the error. */
  private def intLiteral(what: String, arg: Expression): Int = arg match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }

  /** The buffer cap of the skyline-family aggregates. Builders run at
    * analysis time, so the active session's cap applies (the default
    * outside a session). */
  private def sessionCap: Int =
    try SkylineAggExpr.configuredCap(SparkSession.active)
    catch { case _: IllegalStateException => SkylineAggExpr.DefaultMaxBuffer }

  private def buildSkylineAgg(exprs: Seq[Expression]): Expression = {
    require(exprs.length >= 2,
      "skyline_agg(directions, dim1, ...) needs a directions literal and at least one dimension")
    val minDir = directions("skyline_agg", exprs.head, exprs.length - 1)
    // Cast every dimension to double like the DSL path does — without it
    // an int64 column would ClassCastException inside update() at runtime.
    SkylineAggExpr(exprs.tail.map(Cast(_, DoubleType)), minDir, sessionCap).toAggregateExpression()
  }

  private def arity(name: String, n: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    exprs => {
      require(exprs.length == n, s"$name expects $n arguments, got ${exprs.length}")
      build(exprs)
    }

  /** `topk_agg(score, id, k[, largest])`: bounded exact top-k as an
    * aggregate — array<struct<id,score>> best-first. k (and largest) must
    * be literals; score double, id bigint (cast in SQL as needed). */
  private def buildTopKAgg(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 3 || exprs.length == 4,
      s"topk_agg(score, id, k[, largest]) takes 3-4 arguments, got ${exprs.length}")
    val k = intLiteral("topk_agg's k", exprs(2))
    val largest = exprs.lift(3) match {
      case None => true
      case Some(Literal(b: Boolean, _)) => b
      case Some(other) => throw new IllegalArgumentException(
        s"topk_agg's largest flag must be a boolean literal, got $other")
    }
    TopKAggExpr(Cast(exprs(0), DoubleType),
      Cast(exprs(1), org.apache.spark.sql.types.LongType), k, largest)
      .toAggregateExpression()
  }

  /** `kskyband_agg(<directions literal>, k, dim1, ...)`: the k-skyband as
    * an aggregate — array<struct<p: array<double>, c: int>> with exact
    * dominator counts. Directions like skyline_agg; k an int literal. */
  private def buildKSkybandAgg(exprs: Seq[Expression]): Expression = {
    require(exprs.length >= 3,
      "kskyband_agg(directions, k, dim1, ...) needs a directions literal, k, and at least one dimension")
    val minDir = directions("kskyband_agg", exprs.head, exprs.length - 2)
    val k = intLiteral("kskyband_agg's k", exprs(1))
    KSkybandAggExpr(exprs.drop(2).map(Cast(_, DoubleType)), minDir, k, sessionCap)
      .toAggregateExpression()
  }

  /** Name -> expression builder for every SQL-surface function. The single
    * source of truth consumed by both registration paths: per-session
    * [[register]] and the cluster-wide [[graft.GraftExtensions]] config
    * entry point. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "skyline_agg" -> (buildSkylineAgg _),
    "kskyband_agg" -> (buildKSkybandAgg _),
    "topk_agg" -> (buildTopKAgg _),
    "graft_dot" ->
      arity("graft_dot", 2)(exprs => graft.functions.DotProduct(exprs(0), exprs(1))),
    "graft_squared_norm" ->
      arity("graft_squared_norm", 1)(exprs => graft.functions.SquaredNorm(exprs.head)),
    "graft_sorted_intersect_count" ->
      arity("graft_sorted_intersect_count", 2)(
        exprs => graft.functions.SortedIntersectCount(exprs(0), exprs(1))),
    "byte_entropy" ->
      arity("byte_entropy", 1)(exprs => graft.functions.ByteEntropy(exprs.head)),
    "vector_avg" ->
      arity("vector_avg", 1)(
        exprs => VectorAvgAggExpr(exprs.head).toAggregateExpression()),
    "vector_gram" ->
      arity("vector_gram", 1)(
        exprs => VectorGramAggExpr(exprs.head).toAggregateExpression()),
    "interleave_bits" ->
      arity("interleave_bits", 2)(exprs => graft.functions.InterleaveBits(
        exprs.head, intLiteral("interleave_bits' dimension count", exprs(1)))))

  /** Register graft's SQL functions on the session (idempotent). */
  def register(spark: SparkSession): Unit = {
    val reg = org.apache.spark.sql.graft.FunctionRegistration
    builders.foreach { case (name, b) => reg.registerFunction(spark, name, b) }
  }
}
