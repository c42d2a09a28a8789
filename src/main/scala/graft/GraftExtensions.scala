package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.binning.{BinAxis, NdHistogramAgg}

/** Session extension registering the engine's custom Catalyst functions
  * on the SQL surface, so `spark.sql` users get the operators without
  * touching the Scala API:
  *
  * {{{
  * // a session built with .withExtensions(new GraftExtensions),
  * // or with spark.sql.extensions=graft.GraftExtensions
  * spark.sql("""
  *   SELECT nd_histogram(value, user_id, 100, 0.0, 500.0, 40, 0.0, 200.0)
  *   FROM events
  * """)
  * }}}
  *
  * `nd_histogram(col1..colN, nbins1, lo1, hi1, ..., nbinsN, loN, hiN)`:
  * the dense N-D histogram TypedImperativeAggregate (SURVEY.md §4.3.1)
  * over one [[graft.binning.BinAxis]] per column; returns the flattened
  * row-major Array[Long] grid.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.ndHistogramDescriptor)
    ext.injectFunction(GraftExtensions.qdotDescriptor)
    ext.injectFunction(GraftExtensions.mgDescriptor)
    ext.injectFunction(GraftExtensions.blocklistDescriptor)
  }
}

object GraftExtensions {

  private def litInt(e: Expression): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(s"nd_histogram: expected integer literal, got $other")
  }

  private def litDouble(e: Expression): Double = e match {
    case Literal(v: Double, _) => v
    case Literal(v: Int, _) => v.toDouble
    case Literal(v: Long, _) => v.toDouble
    case Literal(v: java.math.BigDecimal, _) => v.doubleValue()
    case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
    case Literal(v: Float, _) => v.toDouble
    case other => throw new IllegalArgumentException(s"nd_histogram: expected numeric literal, got $other")
  }

  private def buildNdHistogram(args: Seq[Expression]): Expression = {
    require(args.length % 4 == 0 && args.nonEmpty,
      "nd_histogram(col1..colN, nbins1, lo1, hi1, ..., nbinsN, loN, hiN)")
    val n = args.length / 4
    // each axis is named after its column argument, so BinAxis's
    // nbins > 0 and lo < hi check names the axis it rejects
    val axes = args.take(n).zip(args.drop(n).grouped(3).toSeq).map { case (c, g) =>
      c -> BinAxis(c.sql, litInt(g(0)), litDouble(g(1)), litDouble(g(2)))
    }
    NdHistogramAgg.forAxes(axes).toAggregateExpression(isDistinct = false)
  }

  val ndHistogramDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("nd_histogram"),
    new ExpressionInfo(classOf[NdHistogramAgg].getName, "nd_histogram"),
    buildNdHistogram
  )

  private def buildQdot(args: Seq[Expression]): Expression = {
    require(args.length == 2, "qdot_e12(array<float>, array<float>)")
    graft.functions.QuantizedDotE12(args(0), args(1))
  }

  /** `qdot_e12(a, b)`: codegen'd quantized inner product (the similarity
    * engine's exact-integer dot; squared norm = qdot_e12(a, a)). */
  val qdotDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("qdot_e12"),
    new ExpressionInfo(classOf[graft.functions.QuantizedDotE12].getName, "qdot_e12"),
    buildQdot
  )

  private def buildMg(args: Seq[Expression]): Expression = {
    require(args.length == 2, "mg_candidates(string_col, k_integer_literal)")
    graft.text.MisraGriesAgg(args(0), litInt(args(1)))
      .toAggregateExpression(isDistinct = false)
  }

  /** `mg_candidates(col, k)`: the Misra-Gries heavy-hitter candidate
    * summary (sorted token array, k-bounded state) — candidates only;
    * verify with an exact pass as `TextQueries.heavyHitters` does. */
  val mgDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("mg_candidates"),
    new ExpressionInfo(classOf[graft.text.MisraGriesAgg].getName, "mg_candidates"),
    buildMg
  )

  private def litString(e: Expression): String = e match {
    case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) => v.toString
    case other => throw new IllegalArgumentException(
      s"blocklist_stats: expected string literal phrase, got $other")
  }

  private def buildBlocklist(args: Seq[Expression]): Expression = {
    require(args.length >= 2,
      "blocklist_stats(text_col, 'phrase1' [, 'phrase2', ...])")
    graft.functions.BlocklistStats(args.head, args.tail.map(litString))
  }

  /** `blocklist_stats(text, 'p1', 'p2', ...)`: the Aho-Corasick
    * multi-phrase scanner — [total overlapping occurrences, distinct
    * phrases hit] over the lowercased text in one pass. */
  val blocklistDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("blocklist_stats"),
    new ExpressionInfo(classOf[graft.functions.BlocklistStats].getName, "blocklist_stats"),
    buildBlocklist
  )

  /** Runtime registration on an existing session (alternative to
    * `withExtensions` for sessions the caller does not construct). */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "nd_histogram", buildNdHistogram, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "qdot_e12", buildQdot, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "mg_candidates", buildMg, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "blocklist_stats", buildBlocklist, "built-in")
  }
}
