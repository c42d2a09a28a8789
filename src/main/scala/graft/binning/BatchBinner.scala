package graft.binning

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec, FilterExec, InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.types.{DoubleType, FloatType, LongType}
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

/** [[Binning.foreachTile]]'s map side for one plan shape, counted
  * straight from a file scan's column batches: the executed key query is
  * a columnar [[FileSourceScanExec]], a `Filter` whose conjuncts are each
  * `IsNotNull(a)` or `a` compared with a literal, and the row-major flat
  * key of [[BinAxis.bin]]s, where every `a` and every axis input is a
  * float or double scan column (a float possibly under a widening cast).
  *
  * The filter becomes one [[BatchBinner.Range]] per column: the
  * conjuncts on that column, each turned into the closed interval and
  * NaN rule that keep exactly the values Catalyst's comparison keeps
  * (`SQLOrderingUtil.compareDoubles`, [[BatchBinner.range]]), intersected.
  * Per batch, a selection vector of row ids is narrowed one column at a
  * time. Each selected row then gets each axis's `min((long) floor((x -
  * lo) · nbins / width), nbins - 1)`, accumulated row-major in `long`, and
  * is counted into a [[TileTally]] — the expressions and the counting of
  * the row path, without a row in between.
  *
  * @param ranges the filter, one range per filtered column
  * @param inputs per axis, in key order: the batch column to bin
  */
private[binning] final case class BatchBinner(ranges: Array[BatchBinner.Range],
                                              inputs: Array[BatchBinner.Input], axes: Array[BinAxis]) {

  /** One task's counts over a grid of `cells` cells: emits `(tile,
    * packed counts)` for the tiles its events touched, as
    * [[TileCounter.countTiles]] does for rows. */
  def countTiles(batches: Iterator[ColumnarBatch], cells: Int): Iterator[(Int, Array[Byte])] = {
    val tally = new TileTally(cells)
    var sel = new Array[Int](0)
    var keys = new Array[Long](0)
    while (batches.hasNext) {
      val b = batches.next()
      val n = b.numRows
      if (sel.length < n) { sel = new Array[Int](n); keys = new Array[Long](n) }
      var i = 0
      while (i < n) { sel(i) = i; i += 1 }
      var m = n
      var c = 0
      while (c < ranges.length && m > 0) {
        m = ranges(c).narrow(b.column(ranges(c).in.column), sel, m)
        c += 1
      }
      var d = 0
      while (d < axes.length && m > 0) {
        BatchBinner.key(b.column(inputs(d).column), inputs(d).float, axes(d), d == 0, sel, keys, m)
        d += 1
      }
      i = 0
      while (i < m) { tally.add(keys(i).toInt); i += 1 }
    }
    tally.packed()
  }
}

private[binning] object BatchBinner extends PredicateHelper {

  /** A scan column read as double: `float` when it holds floats. */
  final case class Input(column: Int, float: Boolean)

  /** The values a filter keeps in one column: not null, and in
    * `[lower, upper]` or, when `nan` holds, NaN. A NaN bound keeps no
    * non-NaN value. */
  final case class Range(in: Input, lower: Double, upper: Double, nan: Boolean) {

    def keeps(x: Double): Boolean = (lower <= x) & (x <= upper) | (nan & (x != x))

    /** The values both ranges keep. `max`/`min` carry a NaN bound. */
    def and(o: Range): Range = Range(in, math.max(lower, o.lower), math.min(upper, o.upper), nan && o.nan)

    /** Keep the first `m` rows of `sel` that this range keeps, in order;
      * returns how many are kept. */
    def narrow(v: ColumnVector, sel: Array[Int], m: Int): Int = {
      val nulls = v.hasNull
      var k = 0
      var j = 0
      while (j < m) {
        val r = sel(j)
        val ok = keeps(value(v, in.float, r)) & !(nulls && v.isNullAt(r))
        sel(k) = r
        k += (if (ok) 1 else 0)
        j += 1
      }
      k
    }
  }

  /** The comparisons of a conjunct `x <op> literal`. */
  sealed trait Op
  case object Gt extends Op
  case object Ge extends Op
  case object Lt extends Op
  case object Le extends Op
  case object Eq extends Op

  /** The range of `x <op> lit` under Catalyst's ordering of doubles
    * (`SQLOrderingUtil.compareDoubles`): NaN is the largest value and
    * equals itself, and -0.0 equals 0.0 (so does IEEE `<=`). A strict
    * bound moves one ulp inward; nothing lies above +Inf or below -Inf
    * but NaN. A float compared with a float literal orders the same way
    * widened to double: the widening keeps order, NaN and zeros. */
  def range(in: Input, op: Op, lit: Double): Range = {
    val (inf, nan) = (Double.PositiveInfinity, Double.NaN)
    if (lit.isNaN) op match {
      case Gt => Range(in, nan, nan, nan = false)
      case Ge | Eq => Range(in, nan, nan, nan = true)
      case Lt => Range(in, -inf, inf, nan = false)
      case Le => Range(in, -inf, inf, nan = true)
    } else op match {
      case Gt => Range(in, if (lit == inf) nan else math.nextUp(lit), inf, nan = true)
      case Ge => Range(in, lit, inf, nan = true)
      case Lt => Range(in, -inf, if (lit == -inf) nan else math.nextDown(lit), nan = false)
      case Le => Range(in, -inf, lit, nan = false)
      case Eq => Range(in, lit, lit, nan = false)
    }
  }

  /** [[Binning.foreachTile]]'s choice of map side, from the executed
    * plan alone: for `plan`, an executed [[Binning.keyQuery]] over `axes`,
    * the scan it reads and the kernel that counts the scan's batches;
    * `None` for any other plan, which keeps the row path. */
  def of(plan: SparkPlan, axes: Seq[BinAxis]): Option[(FileSourceScanExec, BatchBinner)] = {
    val body = plan match {
      case w: WholeStageCodegenExec => w.child
      case p => p
    }
    body match {
      case ProjectExec(Seq(Alias(key, _)), FilterExec(cond, ColumnarToRowExec(scanNode))) =>
        val scan = scanNode match {
          case InputAdapter(s) => s
          case s => s
        }
        scan match {
          case s: FileSourceScanExec if s.supportsColumnar =>
            val column = (e: Expression) => input(e, s)
            for {
              ins <- keyInputs(key, axes.reverse.toList).map(_.reverse)
              cols <- traverse(ins)(column)
              conj <- traverse(splitConjunctivePredicates(cond))(conjunct(_, column))
              ranges = conj.groupBy(_.in.column).values.map(_.reduce(_ and _)).toSeq
                .sortBy(r => conj.indexWhere(_.in.column == r.in.column))
              // a null axis value never reaches the key: some range rejects it
              if cols.forall(c => ranges.exists(_.in.column == c.column))
            } yield s -> BatchBinner(ranges.toArray, cols.toArray, axes.toArray)
          case _ => None
        }
      case _ => None
    }
  }

  private def traverse[A, B](as: Seq[A])(f: A => Option[B]): Option[Seq[B]] = {
    val bs = as.flatMap(f(_))
    if (bs.length == as.length) Some(bs) else None
  }

  /** `e` as a float or double column of `scan`, possibly a float widened
    * to double. */
  private def input(e: Expression, scan: FileSourceScanExec): Option[Input] = {
    def column(a: Attribute) = scan.output.indexWhere(_.exprId == a.exprId) match {
      case -1 => None
      case i => Some(i)
    }
    e match {
      case a: Attribute if a.dataType == DoubleType => column(a).map(Input(_, float = false))
      case a: Attribute if a.dataType == FloatType => column(a).map(Input(_, float = true))
      case Cast(a: Attribute, DoubleType, _, _) if a.dataType == FloatType => column(a).map(Input(_, float = true))
      case _ => None
    }
  }

  /** The range of a conjunct the kernel evaluates, or `None`. */
  private def conjunct(e: Expression, column: Expression => Option[Input]): Option[Range] = {
    def cmp(x: Expression, lit: Literal, op: Op) = (lit.value, lit.dataType) match {
      case (d: Double, DoubleType) if x.dataType == DoubleType => column(x).map(range(_, op, d))
      case (f: Float, FloatType) if x.dataType == FloatType => column(x).map(range(_, op, f.toDouble))
      case _ => None
    }
    e match {
      case IsNotNull(x) => column(x).map(Range(_, Double.NegativeInfinity, Double.PositiveInfinity, nan = true))
      case GreaterThan(x, l: Literal) => cmp(x, l, Gt)
      case GreaterThanOrEqual(x, l: Literal) => cmp(x, l, Ge)
      case LessThan(x, l: Literal) => cmp(x, l, Lt)
      case LessThanOrEqual(x, l: Literal) => cmp(x, l, Le)
      case EqualTo(x, l: Literal) => cmp(x, l, Eq)
      case GreaterThan(l: Literal, x) => cmp(x, l, Lt)
      case GreaterThanOrEqual(l: Literal, x) => cmp(x, l, Le)
      case LessThan(l: Literal, x) => cmp(x, l, Gt)
      case LessThanOrEqual(l: Literal, x) => cmp(x, l, Ge)
      case EqualTo(l: Literal, x) => cmp(x, l, Eq)
      case _ => None
    }
  }

  /** The per-axis inputs of `key`, the flat key [[Binning.rangedFlatKey]]
    * builds over `axes` (given last axis first) as the optimizer leaves
    * it, in the same order; `None` unless every bin carries its axis's
    * own constants. */
  private def keyInputs(key: Expression, axes: List[BinAxis]): Option[List[Expression]] = (key, axes) match {
    case (Add(Multiply(rest, Literal(n: Long, LongType), _), b, _), a :: more) if n == a.nbins && more.nonEmpty =>
      for (x <- binInput(b, a); xs <- keyInputs(rest, more)) yield x :: xs
    case (b, a :: Nil) => binInput(b, a).map(List(_))
    case _ => None
  }

  /** The input of `e` when it is [[BinAxis.bin]] of axis `a`. */
  private def binInput(e: Expression, a: BinAxis): Option[Expression] = e match {
    case Cast(b, LongType, _, _) if b.dataType == LongType => binInput(b, a)
    case Least(Seq(Floor(Divide(Multiply(Subtract(x, Literal(lo: Double, DoubleType), _),
        Literal(n: Double, DoubleType), _), Literal(w: Double, DoubleType), _)), Literal(cap: Long, LongType)))
        if lo == a.lo && n == a.nbins.toDouble && w == a.width && cap == a.nbins - 1L => Some(x)
    case _ => None
  }

  /** Column `v`'s value at row `r` as a double. */
  @inline private def value(v: ColumnVector, float: Boolean, r: Int): Double =
    if (float) v.getFloat(r).toDouble else v.getDouble(r)

  /** Fold axis `a`'s bin of the first `m` selected rows into `keys`
    * row-major (`first`: the key's first axis). */
  private def key(v: ColumnVector, float: Boolean, a: BinAxis, first: Boolean,
                  sel: Array[Int], keys: Array[Long], m: Int): Unit = {
    val (lo, n, w, cap, stride) = (a.lo, a.nbins.toDouble, a.width, a.nbins - 1L, a.nbins.toLong)
    var j = 0
    while (j < m) {
      val bin = math.min(math.floor((value(v, float, sel(j)) - lo) * n / w).toLong, cap)
      keys(j) = if (first) bin else keys(j) * stride + bin
      j += 1
    }
  }
}
