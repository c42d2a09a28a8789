package graft.binning

import org.apache.spark.sql.catalyst.InternalRow

/** Event counts of one tile of a flattened grid: the `len` consecutive
  * flat cells starting at `tile · TileCounter.Cells`.
  *
  * Dense in memory, packed on the wire. A counter holds its cells as one
  * dense `Array[Long]` (128 KB for a full tile), which is what counting
  * and merging index into; it stays `Serializable` in that form, so a
  * reducer can spill it. Between tasks and to the driver a tile travels
  * as [[pack]]'s bytes: the tile length, then one (gap, count) pair per
  * non-zero cell, every number an unsigned LEB128 varint. The gap is the
  * number of zero cells skipped since the previous non-zero cell (or the
  * tile start), so a pair is 2–5 bytes while counts stay below 2^21 and
  * never more than 12, against the 8 bytes of a dense cell. A task creates
  * a counter only for a tile its events touch, so what it holds and ships
  * follows the occupied tiles and cells, not the grid's size. */
private[binning] final class TileCounter(len: Int) extends Serializable {
  private val counts = new Array[Long](len)

  def add(off: Int): Unit = counts(off) += 1

  /** Count one event at each of `offs(0 until n)`. */
  def addAll(offs: Array[Int], n: Int): Unit = {
    var i = 0
    while (i < n) { counts(offs(i)) += 1; i += 1 }
  }

  /** Add `o`'s counts into this counter and return it. */
  def merge(o: TileCounter): TileCounter = {
    var i = 0
    while (i < len) { counts(i) += o.counts(i); i += 1 }
    this
  }

  /** Add a packed tile's counts into this counter and return it. */
  def addPacked(bytes: Array[Byte]): TileCounter = {
    TileCounter.addPacked(bytes, counts, 0)
    this
  }

  /** Write this tile's counts into `data` from flat index `base` on. */
  def copyInto(data: Array[Long], base: Int): Unit = System.arraycopy(counts, 0, data, base, len)

  /** This tile in its wire form (see the class comment). */
  def pack(): Array[Byte] = {
    import TileCounter.{putVarint, varintSize}
    var size = varintSize(len)
    var next = 0
    var i = 0
    while (i < len) {
      val c = counts(i)
      if (c != 0) { size += varintSize(i - next) + varintSize(c); next = i + 1 }
      i += 1
    }
    val out = new Array[Byte](size)
    var p = putVarint(out, 0, len)
    next = 0
    i = 0
    while (i < len) {
      val c = counts(i)
      if (c != 0) {
        p = putVarint(out, p, i - next)
        p = putVarint(out, p, c)
        next = i + 1
      }
      i += 1
    }
    out
  }
}

private[binning] object TileCounter {

  /** Cells per tile: a fixed run of 2^14 consecutive flat cells. */
  private val Bits = 14
  val Cells: Int = 1 << Bits
  private val Mask = Cells - 1

  /** Offsets a task stages per touched tile before it counts them into
    * the tile's dense array (4 KB of `Int`s). */
  private val Staged = 1024

  def tiles(cells: Int): Int = (cells + Mask) >>> Bits

  /** Cells of tile `t` in a grid of `cells` cells: a full tile, except
    * possibly the last. */
  def length(cells: Int, t: Int): Int = math.min(Cells, cells - t * Cells)

  /** One task's counts: each row is one in-range event whose column 0 is
    * its `long` flat cell index. Emits `(tile, packed counts)` for the
    * tiles the task touched only.
    *
    * The counting is buffered. A task may touch a hundred tiles, 128 KB
    * each, more than a core's cache holds, so incrementing each event's
    * cell directly would miss the cache on most events. Instead each
    * touched tile gets a small buffer of in-tile offsets, appended to in
    * order; a full buffer, and at the end every buffer, is counted into
    * its one tile at a time, while that tile stays in cache. */
  def countTiles(rows: Iterator[InternalRow], cells: Int): Iterator[(Int, Array[Byte])] = {
    val n = tiles(cells)
    val counters = new Array[TileCounter](n)
    val staged = new Array[Array[Int]](n)
    val fill = new Array[Int](n)
    while (rows.hasNext) {
      val flat = rows.next().getLong(0).toInt
      val t = flat >>> Bits
      var buf = staged(t)
      if (buf == null) {
        buf = new Array[Int](Staged)
        staged(t) = buf
        counters(t) = new TileCounter(length(cells, t))
      }
      val k = fill(t)
      buf(k) = flat & Mask
      if (k + 1 == Staged) {
        counters(t).addAll(buf, Staged)
        fill(t) = 0
      } else fill(t) = k + 1
    }
    (0 until n).iterator.filter(counters(_) != null).map { t =>
      val c = counters(t)
      c.addAll(staged(t), fill(t))
      counters(t) = null
      staged(t) = null
      t -> c.pack()
    }
  }

  /** A dense counter holding a packed tile's counts. */
  def unpack(bytes: Array[Byte]): TileCounter = {
    val len = new Reader(bytes).next()
    require(len > 0 && len <= Cells, s"packed tile of $len cells")
    new TileCounter(len.toInt).addPacked(bytes)
  }

  /** Add the counts of a packed tile ([[TileCounter.pack]]) into `into`
    * from flat index `base` on. */
  def addPacked(bytes: Array[Byte], into: Array[Long], base: Int): Unit = {
    val in = new Reader(bytes)
    val len = in.next()
    require(len > 0 && len <= Cells && base >= 0 && base.toLong + len <= into.length,
      s"packed tile of $len cells at $base into ${into.length} cells")
    val end = base + len.toInt
    var i = base
    while (in.hasNext) {
      val gap = in.next()
      if (gap < 0 || gap >= end - i) throw new IllegalArgumentException(s"packed cell past a tile of $len cells")
      i += gap.toInt
      into(i) += in.next()
      i += 1
    }
  }

  /** Bytes of `v` as an unsigned LEB128 varint: 7 bits per byte. */
  private def varintSize(v: Long): Int = {
    var size = 1
    var rest = v >>> 7
    while (rest != 0) { size += 1; rest >>>= 7 }
    size
  }

  /** Write `v` as an unsigned LEB128 varint at `p`; returns the position
    * after it. */
  private def putVarint(out: Array[Byte], p0: Int, v0: Long): Int = {
    var p = p0
    var v = v0
    while ((v & ~0x7fL) != 0) {
      out(p) = ((v & 0x7f) | 0x80).toByte
      p += 1
      v >>>= 7
    }
    out(p) = v.toByte
    p + 1
  }

  /** Sequential reader of unsigned LEB128 varints. */
  private final class Reader(bytes: Array[Byte]) {
    private var p = 0
    def hasNext: Boolean = p < bytes.length
    def next(): Long = {
      var v = 0L
      var shift = 0
      var b = 0
      do {
        if (p >= bytes.length || shift > 63) throw new IllegalArgumentException("truncated packed tile")
        b = bytes(p)
        p += 1
        v |= (b & 0x7fL) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      v
    }
  }
}
