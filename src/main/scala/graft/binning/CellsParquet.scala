package graft.binning

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.bytes.HeapByteBufferAllocator
import org.apache.parquet.column.{Encoding, ParquetProperties}
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.column.values.delta.DeltaBinaryPackingValuesWriterForLong
import org.apache.parquet.hadoop.{CodecFactory, ParquetFileWriter, ParquetInputFormat, ParquetWriter}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{MessageType, PrimitiveType, Types}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, VectorizedParquetRecordReader}
import org.apache.spark.sql.execution.vectorized.WritableColumnVector
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The saved volume's cell files, written and read on the driver.
  *
  * A volume directory holds parquet with one row per non-empty cell and
  * the columns `bin_<axis>…: long, cnt: long` — exactly what
  * `spark.read.parquet` sees and what [[BinnedGrid.toDF]] yields. Neither
  * side builds a row or runs a Spark job: the volume is small next to the
  * events, and moving it one record per cell cost more than the aggregate
  * that built it.
  *
  * [[write]] lays the file out column by column through parquet-hadoop's
  * file writer: REQUIRED INT64 columns, `DELTA_BINARY_PACKED` values (the
  * bin columns of cells in flat order are runs of equal values) in SNAPPY
  * pages, and min/max statistics on every page and column chunk, so a
  * reader's filter on a bin column skips what it does not need.
  *
  * [[read]] decodes with Spark's own vectorized parquet reader, configured
  * as a scan of the session would be, and scatters each batch into the
  * dense array. One path serves [[write]]'s file and the several parts,
  * OPTIONAL columns included, that a Spark writer leaves.
  */
private[binning] object CellsParquet {

  /** Cells per data page and per row group. */
  private val PageCells = 1 << 16
  private val GroupCells = 1 << 20

  /** Replace `dir` with one `part-00000.parquet` of `grid`'s non-empty
    * cells, in flat order. Each row group's flat indices are gathered into
    * one reused buffer, then every column is encoded from it page by page. */
  def write(grid: BinnedGrid, conf: Configuration, dir: String,
            pageCells: Int = PageCells, groupCells: Int = GroupCells): Unit = {
    val d = new Path(dir)
    d.getFileSystem(conf).delete(d, true)
    val data = grid.data
    val n = data.length
    val ncols = grid.axes.length + 1
    val shape = grid.shape.map(_.toLong).toArray
    val strides = BinnedGrid.strides(grid.shape)
    val schema = CellsParquet.schema(grid.axes)
    val descs = schema.getColumns
    // no padding to file-system blocks, no encryption
    val file = new ParquetFileWriter(HadoopOutputFile.fromPath(new Path(d, "part-00000.parquet"), conf), schema,
      ParquetFileWriter.Mode.OVERWRITE, ParquetWriter.DEFAULT_BLOCK_SIZE, 0, null, ParquetProperties.builder().build())
    val codecs = new CodecFactory(conf, ParquetWriter.DEFAULT_PAGE_SIZE)
    val snappy = codecs.getCompressor(CompressionCodecName.SNAPPY)
    val values = new DeltaBinaryPackingValuesWriterForLong(
      1 << 16, ParquetWriter.DEFAULT_PAGE_SIZE, HeapByteBufferAllocator.getInstance)
    val flats = new Array[Int](math.min(groupCells, n))
    try {
      file.start()
      var next = 0
      while (next < n) {
        var rows = 0
        while (next < n && rows < flats.length) {
          if (data(next) != 0) { flats(rows) = next; rows += 1 }
          next += 1
        }
        if (rows > 0) {
          file.startBlock(rows)
          var c = 0
          while (c < ncols) {
            file.startColumn(descs.get(c), rows, CompressionCodecName.SNAPPY)
            var from = 0
            while (from < rows) {
              val until = math.min(rows, from + pageCells)
              val stats = Statistics.createStats(descs.get(c).getPrimitiveType)
              var k = from
              while (k < until) {
                val v = if (c < shape.length) (flats(k) / strides(c)) % shape(c) else data(flats(k))
                values.writeLong(v)
                stats.updateStats(v)
                k += 1
              }
              val raw = values.getBytes
              file.writeDataPage(until - from, raw.size.toInt, snappy.compress(raw), stats, (until - from).toLong,
                Encoding.RLE, Encoding.RLE, Encoding.DELTA_BINARY_PACKED)
              values.reset()
              from = until
            }
            file.endColumn()
            c += 1
          }
          file.endBlock()
        }
      }
      file.end(java.util.Collections.emptyMap[String, String]())
    } finally {
      values.close()
      codecs.release()
      file.close()
    }
  }

  /** Densify every `*.parquet` under `dir` (names starting with `_` or
    * `.` skipped) into a grid over `axes` — one file from [[write]], or
    * the several parts a Spark writer leaves. */
  def read(spark: SparkSession, dir: String, axes: Seq[BinAxis]): BinnedGrid = {
    val cols = columns(axes)
    val conf = graft.io.Sources.parquetConf(spark)
    conf.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA,
      StructType(cols.map(StructField(_, LongType))).json)
    val d = new Path(dir)
    val files = d.getFileSystem(conf).listStatus(d).toSeq
      .filter(s => s.isFile && isPart(s.getPath.getName)).sortBy(_.getPath.getName)
    require(files.nonEmpty, s"no parquet cell files under $dir")
    val n = axes.length
    val shape = axes.map(_.nbins.toLong).toArray
    val strides = BinnedGrid.strides(axes.map(_.nbins))
    val data = new Array[Long](axes.map(_.nbins).product)
    val batchRows = spark.sessionState.conf.parquetVectorizedReaderBatchSize
    val flats = new Array[Long](batchRows)
    files.foreach { st =>
      val file = st.getPath
      val r = new VectorizedParquetRecordReader(false, batchRows)
      try {
        r.initialize(new FileSplit(file, 0, st.getLen, Array.empty[String]),
          new TaskAttemptContextImpl(conf, new TaskAttemptID()))
        val batch = r.resultBatch()
        while (r.nextBatch()) {
          val rows = batch.numRows
          java.util.Arrays.fill(flats, 0, rows, 0L)
          var c = 0
          while (c <= n) {
            val v = batch.column(c)
            if (v.hasNull) {
              if (v.asInstanceOf[WritableColumnVector].isAllNull)
                throw new IllegalArgumentException(s"$file has no column ${cols(c)}")
              throw new IllegalArgumentException(s"$file: a cell has a null column")
            }
            c += 1
          }
          c = 0
          while (c < n) {
            val v = batch.column(c)
            var k = 0
            while (k < rows) {
              val b = v.getLong(k)
              if (b < 0 || b >= shape(c))
                throw new IllegalArgumentException(s"$file: ${cols(c)} = $b outside [0, ${shape(c)})")
              flats(k) += b * strides(c)
              k += 1
            }
            c += 1
          }
          val cnt = batch.column(n)
          var k = 0
          while (k < rows) { data(flats(k).toInt) = cnt.getLong(k); k += 1 }
        }
      } finally r.close()
    }
    BinnedGrid(data, axes)
  }

  private def isPart(name: String): Boolean =
    name.endsWith(".parquet") && !name.startsWith("_") && !name.startsWith(".")

  private def columns(axes: Seq[BinAxis]): Seq[String] = axes.map(a => s"bin_${a.name}") :+ "cnt"

  private def schema(axes: Seq[BinAxis]): MessageType = {
    val b = Types.buildMessage()
    columns(axes).foreach(c => b.required(PrimitiveType.PrimitiveTypeName.INT64).named(c))
    b.named("spark_schema")
  }
}
