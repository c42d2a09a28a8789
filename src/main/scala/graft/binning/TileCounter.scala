package graft.binning

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow

/** Event counts of one tile of a flattened grid: the `len` consecutive
  * flat cells starting at `tile · TileCounter.Cells`.
  *
  * Dense in memory, packed on the wire. A counter holds its cells as one
  * dense `Array[Long]` (128 KB for a full tile), which is what counting
  * and merging index into. Between tasks and to the driver a tile travels
  * as [[pack]]'s bytes: the tile length, then one (gap, count) pair per
  * non-zero cell, every number an unsigned LEB128 varint. The gap is the
  * number of zero cells skipped since the previous non-zero cell (or the
  * tile start), so a pair is 2–5 bytes while counts stay below 2^21 and
  * never more than 12, against the 8 bytes of a dense cell. A task creates
  * a counter only for a tile its events touch, so what it holds and ships
  * follows the occupied tiles and cells, not the grid's size. */
private[binning] final class TileCounter(len: Int) {
  private val counts = new Array[Long](len)

  /** Count one event at each of `offs(0 until n)`. */
  def addAll(offs: Array[Int], n: Int): Unit = {
    var i = 0
    while (i < n) { counts(offs(i)) += 1; i += 1 }
  }

  /** Add a packed tile's counts into this counter and return it. */
  def addPacked(bytes: Array[Byte]): TileCounter = {
    TileCounter.addPacked(bytes, counts, 0)
    this
  }

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
  private[binning] val Bits = 14
  val Cells: Int = 1 << Bits
  private[binning] val Mask = Cells - 1

  /** Offsets a task stages per touched tile before it counts them into
    * the tile's dense array (4 KB of `Int`s). */
  private[binning] val Staged = 1024

  def tiles(cells: Int): Int = (cells + Mask) >>> Bits

  /** Cells of tile `t` in a grid of `cells` cells: a full tile, except
    * possibly the last. */
  def length(cells: Int, t: Int): Int = math.min(Cells, cells - t * Cells)

  /** One task's counts: each row is one in-range event whose column 0 is
    * its `long` flat cell index. Emits `(tile, packed counts)` for the
    * tiles the task touched only. */
  def countTiles(rows: Iterator[InternalRow], cells: Int): Iterator[(Int, Array[Byte])] = {
    val tally = new TileTally(cells)
    while (rows.hasNext) tally.add(rows.next().getLong(0).toInt)
    tally.packed()
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

/** One task's counts over a grid of `cells` flat cells: a dense
  * [[TileCounter]] for each tile its events touched, and nothing for the
  * others. [[TileCounter.countTiles]] counts a task's rows in one,
  * [[BatchBinner.countTiles]] a task's column batches, a
  * [[Binning.histogramGrid]] reducer merges its tiles in one, and the
  * `nd_histogram` aggregate ([[NdHistogramAgg]]) keeps one per group
  * (hence public: it is that aggregate's buffer type).
  *
  * The counting is buffered. A task may touch a hundred tiles, 128 KB
  * each, more than a core's cache holds, so incrementing each event's
  * cell directly would miss the cache on most events. Instead each
  * touched tile gets a small buffer of in-tile offsets, appended to in
  * order; a full buffer, and at the end every buffer, is counted into
  * its one tile at a time, while that tile stays in cache. */
final class TileTally private[binning] (cells: Int) {
  import TileCounter.{Bits, Mask, Staged}

  private val counters = new Array[TileCounter](TileCounter.tiles(cells))
  private val staged = new Array[Array[Int]](counters.length)
  private val fill = new Array[Int](counters.length)

  /** Count one event at flat cell `flat`. */
  def add(flat: Int): Unit = {
    val t = flat >>> Bits
    var buf = staged(t)
    if (buf == null) {
      buf = new Array[Int](Staged)
      staged(t) = buf
      counter(t)
    }
    val k = fill(t)
    buf(k) = flat & Mask
    fill(t) = k + 1
    if (k + 1 == Staged) flush(t)
  }

  /** Tile `t`'s counter, created on first use. */
  private def counter(t: Int): TileCounter = {
    if (counters(t) == null) counters(t) = new TileCounter(TileCounter.length(cells, t))
    counters(t)
  }

  /** Count tile `t`'s staged offsets into its counter. */
  private def flush(t: Int): Unit = {
    counters(t).addAll(staged(t), fill(t))
    fill(t) = 0
  }

  /** Add packed tiles, `(tile, packed counts)` as [[packed]] emits them,
    * and return this tally. */
  def addPacked(tiles: Iterator[(Int, Array[Byte])]): TileTally = {
    for ((t, p) <- tiles) counter(t).addPacked(p)
    this
  }

  /** Add `o`'s counts into this tally and return it; `o` is left empty. */
  def merge(o: TileTally): TileTally = addPacked(o.packed())

  /** The touched tiles as `(tile, packed counts)`, in tile order. Each
    * tile is released as it is emitted, so the tally is empty once the
    * iterator is through. */
  def packed(): Iterator[(Int, Array[Byte])] = {
    for (t <- counters.indices if fill(t) > 0) flush(t)
    counters.indices.iterator.filter(counters(_) != null).map { t =>
      val p = counters(t).pack()
      counters(t) = null
      staged(t) = null
      t -> p
    }
  }

  /** Add every touched tile's counts into `data`, a grid of `cells`
    * cells, the way [[Binning.histogramGrid]]'s driver does; the tally is
    * left empty. */
  def addInto(data: Array[Long]): Unit =
    for ((t, p) <- packed()) TileCounter.addPacked(p, data, t * TileCounter.Cells)

  /** [[packed]]'s records as bytes: tile id, byte length, bytes. */
  def write(): Array[Byte] = {
    val bytes = new ByteArrayOutputStream
    val out = new DataOutputStream(bytes)
    for ((t, p) <- packed()) { out.writeInt(t); out.writeInt(p.length); out.write(p) }
    out.close()
    bytes.toByteArray
  }

  /** Add the tiles of [[write]]'s bytes into this tally and return it. */
  def read(bytes: Array[Byte]): TileTally = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    while (in.available() > 0) {
      val t = in.readInt()
      val p = new Array[Byte](in.readInt())
      in.readFully(p)
      counter(t).addPacked(p)
    }
    this
  }
}
