package graft

import graft.functions.expr.{CosineSimilarity, CountMinAgg, CountMinEstimate,
  CountMinUnionAgg, DamerauLevenshteinExpr, DistinctSketchAgg,
  DistinctSketchEstimate, DistinctSketchSingleton, GramMatrixAgg,
  JaroWinklerExpr, MinHashSketch, PolyFingerprint, SimHashAgg, SketchUnionAgg,
  TDigestAgg, TopKAgg}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.Bridge

/** Session extension installing the graft SQL surface
  * (`GraftSession.local`, a builder's `withExtensions(new GraftExtensions)`
  * or `spark.sql.extensions=graft.GraftExtensions`): the native expressions
  * become callable from SQL text, the analogue of the reference's
  * FunctionRegistry additions (cpp/src/arrow/compute/registry.h).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    GraftFunctions.table.foreach { f =>
      e.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(f.exprClass.getName, f.name), f.builder))
    }
  }
}

object GraftFunctions {

  /** One graft_* SQL function: its name, the expression class that
    * implements it and the builder from SQL arguments. */
  final case class SqlFunction(
      name: String, exprClass: Class[_], builder: Seq[Expression] => Expression)

  /** `graft_tdigest(x, p1, p2, ...)` — quantile percentages must be
    * foldable literals (same contract as percentile_approx). */
  val tdigestBuilder: Seq[Expression] => Expression = exprs => {
    val ps = exprs.tail.map { e =>
      require(e.foldable, "graft_tdigest percentages must be literals")
      e.eval() match {
        case d: Double => d
        case dec: org.apache.spark.sql.types.Decimal => dec.toDouble
        case i: Int => i.toDouble
        case l: Long => l.toDouble
        case other => other.toString.toDouble
      }
    }
    TDigestAgg(exprs.head, ps).toAggregateExpression()
  }

  /** `graft_minhash(hash_col, n)` — n must be a foldable literal. */
  val minhashBuilder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 2 && exprs(1).foldable,
      "graft_minhash takes (hash_col, n_hashes literal)")
    val n = exprs(1).eval() match {
      case i: Int  => i
      case l: Long => l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case other => throw new IllegalArgumentException(
        s"graft_minhash n_hashes must be an integral literal, got $other" +
          (if (other == null) "" else s" (${other.getClass.getSimpleName})"))
    }
    require(n >= 1, s"graft_minhash n_hashes must be >= 1, got $n")
    MinHashSketch(exprs.head, n).toAggregateExpression()
  }

  /** `graft_simhash(hash_col)` — exactly one argument. */
  val simhashBuilder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 1, "graft_simhash takes exactly one hash column")
    SimHashAgg(exprs.head).toAggregateExpression()
  }

  /** `graft_top_k(score, id, k)` — k must be a foldable literal. */
  val topKBuilder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 3 && exprs(2).foldable,
      "graft_top_k takes (score, id, k literal)")
    val k = exprs(2).eval() match {
      case i: Int  => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"graft_top_k k must be an integral literal, got $other")
    }
    TopKAgg(exprs(0), exprs(1), k).toAggregateExpression()
  }

  /** `graft_distinct_sketch(col [, exactCap, lgK])` — caps must be
    * foldable integral literals. */
  val distinctSketchBuilder: Seq[Expression] => Expression = exprs => {
    def intLit(e: Expression, what: String): Int = {
      require(e.foldable, s"graft_distinct_sketch $what must be a literal")
      e.eval() match {
        case i: Int  => i
        case l: Long => l.toInt
        case other => throw new IllegalArgumentException(
          s"graft_distinct_sketch $what must be an integral literal, got $other")
      }
    }
    exprs match {
      case Seq(c) => DistinctSketchAgg(c).toAggregateExpression()
      case Seq(c, cap, lg) =>
        DistinctSketchAgg(c, intLit(cap, "exactCap"), intLit(lg, "lgK"))
          .toAggregateExpression()
      case _ => throw new IllegalArgumentException(
        "graft_distinct_sketch takes (col) or (col, exactCap, lgK)")
    }
  }

  /** `graft_sketch_union(state_col [, exactCap, lgK])` — union of
    * serialized sketch states. */
  val sketchUnionBuilder: Seq[Expression] => Expression = exprs => {
    exprs match {
      case Seq(c) => SketchUnionAgg(c).toAggregateExpression()
      case Seq(c, cap, lg) =>
        SketchUnionAgg(c, intLitOf(cap, "graft_sketch_union exactCap"),
          intLitOf(lg, "graft_sketch_union lgK")).toAggregateExpression()
      case _ => throw new IllegalArgumentException(
        "graft_sketch_union takes (state) or (state, exactCap, lgK)")
    }
  }

  /** `graft_sketch_estimate(state_col [, exactCap, lgK])`. */
  val sketchEstimateBuilder: Seq[Expression] => Expression = exprs => {
    exprs match {
      case Seq(c) => DistinctSketchEstimate(c)
      case Seq(c, cap, lg) =>
        DistinctSketchEstimate(c, intLitOf(cap, "graft_sketch_estimate exactCap"),
          intLitOf(lg, "graft_sketch_estimate lgK"))
      case _ => throw new IllegalArgumentException(
        "graft_sketch_estimate takes (state) or (state, exactCap, lgK)")
    }
  }

  /** `graft_sketch_singleton(hash64 [, exactCap, lgK])` — one-element
    * serialized state, the SQL seed for `graft_sketch_union`. */
  val sketchSingletonBuilder: Seq[Expression] => Expression = exprs => {
    exprs match {
      case Seq(c) => DistinctSketchSingleton(c)
      case Seq(c, cap, lg) =>
        DistinctSketchSingleton(c, intLitOf(cap, "graft_sketch_singleton exactCap"),
          intLitOf(lg, "graft_sketch_singleton lgK"))
      case _ => throw new IllegalArgumentException(
        "graft_sketch_singleton takes (hash) or (hash, exactCap, lgK)")
    }
  }

  /** `graft_count_min(col [, exactCap, depth, width])` — mergeable
    * Count-Min frequency state. */
  val countMinBuilder: Seq[Expression] => Expression = exprs => {
    exprs match {
      case Seq(c) => CountMinAgg(c).toAggregateExpression()
      case Seq(c, cap, d, w) =>
        CountMinAgg(c, intLitOf(cap, "graft_count_min exactCap"),
          intLitOf(d, "graft_count_min depth"),
          intLitOf(w, "graft_count_min width")).toAggregateExpression()
      case _ => throw new IllegalArgumentException(
        "graft_count_min takes (col) or (col, exactCap, depth, width)")
    }
  }

  /** `graft_count_min_union(state [, exactCap, depth, width])`. */
  val countMinUnionBuilder: Seq[Expression] => Expression = exprs => {
    exprs match {
      case Seq(c) => CountMinUnionAgg(c).toAggregateExpression()
      case Seq(c, cap, d, w) =>
        CountMinUnionAgg(c, intLitOf(cap, "graft_count_min_union exactCap"),
          intLitOf(d, "graft_count_min_union depth"),
          intLitOf(w, "graft_count_min_union width")).toAggregateExpression()
      case _ => throw new IllegalArgumentException(
        "graft_count_min_union takes (state) or (state, exactCap, depth, width)")
    }
  }

  /** `graft_count_min_estimate(state, xxhash64(key) [, exactCap, depth,
    * width])`. */
  val countMinEstimateBuilder: Seq[Expression] => Expression = exprs => {
    exprs match {
      case Seq(s, h) => CountMinEstimate(s, h)
      case Seq(s, h, cap, d, w) =>
        CountMinEstimate(s, h, intLitOf(cap, "graft_count_min_estimate exactCap"),
          intLitOf(d, "graft_count_min_estimate depth"),
          intLitOf(w, "graft_count_min_estimate width"))
      case _ => throw new IllegalArgumentException(
        "graft_count_min_estimate takes (state, hash) or (state, hash, exactCap, depth, width)")
    }
  }

  /** `graft_gram_matrix(vec, dim)` — exact integer Gram/moment state. */
  val gramMatrixBuilder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 2,
      "graft_gram_matrix takes (vec, dim literal)")
    GramMatrixAgg(exprs.head, intLitOf(exprs(1), "graft_gram_matrix dim"))
      .toAggregateExpression()
  }

  private def intLitOf(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a literal")
    e.eval() match {
      case i: Int  => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"$what must be an integral literal, got $other")
    }
  }

  /** Every graft_* SQL function, declared once: [[GraftExtensions]]
    * injects the table into new sessions, [[register]] into live ones. */
  lazy val table: Seq[SqlFunction] = Seq(
    SqlFunction("graft_cosine", classOf[CosineSimilarity],
      exprs => CosineSimilarity(exprs(0), exprs(1))),
    SqlFunction("graft_fingerprint", classOf[PolyFingerprint],
      exprs => PolyFingerprint(exprs.head)),
    SqlFunction("graft_jaro_winkler", classOf[JaroWinklerExpr],
      exprs => JaroWinklerExpr(exprs(0), exprs(1))),
    SqlFunction("graft_damerau_levenshtein", classOf[DamerauLevenshteinExpr],
      exprs => DamerauLevenshteinExpr(exprs(0), exprs(1))),
    SqlFunction("graft_tdigest", classOf[TDigestAgg], tdigestBuilder),
    SqlFunction("graft_minhash", classOf[MinHashSketch], minhashBuilder),
    SqlFunction("graft_simhash", classOf[SimHashAgg], simhashBuilder),
    SqlFunction("graft_top_k", classOf[TopKAgg], topKBuilder),
    SqlFunction("graft_distinct_sketch", classOf[DistinctSketchAgg],
      distinctSketchBuilder),
    SqlFunction("graft_sketch_union", classOf[SketchUnionAgg], sketchUnionBuilder),
    SqlFunction("graft_sketch_estimate", classOf[DistinctSketchEstimate],
      sketchEstimateBuilder),
    SqlFunction("graft_sketch_singleton", classOf[DistinctSketchSingleton],
      sketchSingletonBuilder),
    SqlFunction("graft_count_min", classOf[CountMinAgg], countMinBuilder),
    SqlFunction("graft_count_min_union", classOf[CountMinUnionAgg],
      countMinUnionBuilder),
    SqlFunction("graft_count_min_estimate", classOf[CountMinEstimate],
      countMinEstimateBuilder),
    SqlFunction("graft_gram_matrix", classOf[GramMatrixAgg], gramMatrixBuilder))

  /** Idempotently register the graft_* SQL functions and the as-of-join
    * planner strategy on a live session (covers driver-created sessions
    * that didn't go through `withExtensions`). */
  def register(spark: SparkSession): Unit = {
    table.foreach(f => Bridge.registerFunction(spark, f.name, f.builder))
    if (!spark.experimental.extraStrategies.contains(graft.plans.AsOfJoinStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.AsOfJoinStrategy
    }
  }
}
