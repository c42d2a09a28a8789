package graft.binning

import org.apache.spark.sql.catalyst.InternalRow

/** Event counts of one tile of a flattened grid: the `len` consecutive
  * flat cells starting at `tile · TileCounter.Cells`, held dense. A task
  * creates a counter only for a tile its events touch, so what it holds
  * and shuffles follows the occupied tiles, not the grid's size. */
private[binning] final class TileCounter(len: Int) extends Serializable {
  private val counts = new Array[Long](len)

  def add(off: Int): Unit = counts(off) += 1

  /** Add `o`'s counts into this counter and return it. */
  def merge(o: TileCounter): TileCounter = {
    var i = 0
    while (i < len) { counts(i) += o.counts(i); i += 1 }
    this
  }

  /** Write this tile's counts into `data` from flat index `base` on. */
  def copyInto(data: Array[Long], base: Int): Unit = System.arraycopy(counts, 0, data, base, len)
}

private[binning] object TileCounter {

  /** Cells per tile: a fixed run of 2^14 consecutive flat cells. */
  private val Bits = 14
  val Cells: Int = 1 << Bits
  private val Mask = Cells - 1

  def tiles(cells: Int): Int = (cells + Mask) >>> Bits

  /** Cells of tile `t` in a grid of `cells` cells: a full tile, except
    * possibly the last. */
  def length(cells: Int, t: Int): Int = math.min(Cells, cells - t * Cells)

  /** One task's counters: each row is one in-range event whose column 0
    * is its `long` flat cell index. Emits `(tile, counter)` for the
    * tiles the task touched only. */
  def countTiles(rows: Iterator[InternalRow], cells: Int): Iterator[(Int, TileCounter)] = {
    val counters = new Array[TileCounter](tiles(cells))
    while (rows.hasNext) {
      val flat = rows.next().getLong(0).toInt
      val t = flat >>> Bits
      var c = counters(t)
      if (c == null) {
        c = new TileCounter(length(cells, t))
        counters(t) = c
      }
      c.add(flat & Mask)
    }
    counters.indices.iterator.filter(counters(_) != null).map(t => t -> counters(t))
  }
}
