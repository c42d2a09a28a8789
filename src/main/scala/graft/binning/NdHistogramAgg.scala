package graft.binning

import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.when
import org.apache.spark.sql.types._

/** The aggregate behind the `nd_histogram` SQL function: the flattened
  * row-major grid of shape `nbins` as one SQL array. Each group counts
  * into a [[TileTally]], so a task holds and ships only the tiles its
  * events touched, packed, and the final merge adds tallies by tile.
  * Its one input is [[Binning]]'s flat key, null for an event outside
  * the range (or null, or NaN) on any axis — the bin math lives in
  * [[BinAxis]] alone — and `update` counts a non-null key. The result is
  * one SQL row, so grids are capped at [[NdHistogramAgg.DENSE_MAX_CELLS]]. */
case class NdHistogramAgg(
    child: Expression,
    nbins: Array[Int],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TileTally] with UnaryLike[Expression] {

  private val cells: Int = {
    val n = Binning.cellCount(nbins)
    require(n <= NdHistogramAgg.DENSE_MAX_CELLS,
      s"nd_histogram dense path: ${nbins.mkString("x")} = $n cells exceeds the dense-grid limit " +
        s"of ${NdHistogramAgg.DENSE_MAX_CELLS} (the grid is one SQL row); use the relational " +
        "path (Binning.histogramNd) for grids this large")
    n.toInt
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): TileTally = new TileTally(cells)

  // Codegen-compiled projection of the key, built once per task:
  // per-row interpreted `child.eval` costs ~3-4x in the update hot loop
  // (measured at 50M rows).
  @transient private lazy val inputProj = UnsafeProjection.create(Seq(child))

  override def update(buffer: TileTally, input: InternalRow): TileTally = {
    val row = inputProj(input)
    if (!row.isNullAt(0)) buffer.add(row.getLong(0).toInt)
    buffer
  }

  override def merge(b1: TileTally, b2: TileTally): TileTally = b1.merge(b2)

  override def eval(buffer: TileTally): Any = {
    val data = new Array[Long](cells)
    buffer.addInto(data)
    new GenericArrayData(data)
  }

  override def serialize(buffer: TileTally): Array[Byte] = buffer.write()

  override def deserialize(bytes: Array[Byte]): TileTally = new TileTally(cells).read(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): NdHistogramAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): NdHistogramAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): NdHistogramAgg =
    copy(child = newChild)
  override def prettyName: String = "nd_histogram"
}

object NdHistogramAgg {

  /** Hard cell-count ceiling: ~1e7 cells is an 80 MB `Array[Long]` in
    * one SQL row, beyond which a grid belongs in rows
    * ([[Binning.histogramNd]]) or on the driver ([[Binning.histogramGrid]]). */
  val DENSE_MAX_CELLS: BigInt = BigInt(10000000)

  /** `nd_histogram` over `axes`, each column cast to double and binned
    * on its axis: the aggregate counts [[Binning.rangedFlatKey]]'s key
    * where the range predicate holds. The cast makes every axis compare
    * and bin in double, like [[Binning.histogramNd]] over a double
    * column, whatever the argument's SQL type. */
  def forAxes(axes: Seq[(Expression, BinAxis)]): NdHistogramAgg = {
    val (inRange, flat) = Binning.rangedFlatKey(
      axes.map { case (c, a) => GraftBridge.column(Cast(c, DoubleType)) -> a })
    NdHistogramAgg(GraftBridge.catalyst(when(inRange, flat)), axes.map(_._2.nbins).toArray)
  }
}
