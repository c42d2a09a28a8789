package graft.binning

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport, WriteSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.api.{Converter, GroupConverter, PrimitiveConverter, RecordConsumer, RecordMaterializer}
import org.apache.parquet.schema.{MessageType, PrimitiveType, Types}

/** The saved volume's cell files, written and read on the driver.
  *
  * A volume directory holds parquet with one row per non-empty cell and
  * the columns `bin_<axis>…: long, cnt: long` — exactly what
  * `spark.read.parquet` sees and what [[BinnedGrid.toDF]] yields. The
  * writer walks `grid.data` by flat index straight into parquet-hadoop's
  * record consumer and the reader decodes the columns straight into the
  * `Array[Long]`, so neither builds a `Row` nor runs a Spark job: the
  * volume is small next to the events, and moving it one relational row
  * per cell through a task cost more than the aggregate that built it.
  */
private[binning] object CellsParquet {

  /** Replace `dir` with one `part-00000.parquet` of `grid`'s non-empty cells. */
  def write(grid: BinnedGrid, conf: Configuration, dir: String): Unit = {
    val d = new Path(dir)
    d.getFileSystem(conf).delete(d, true)
    val w = new CellWriterBuilder(grid, new Path(d, "part-00000.parquet"), conf).build()
    try {
      val data = grid.data
      var flat = 0
      while (flat < data.length) {
        if (data(flat) != 0) w.write(flat)
        flat += 1
      }
    } finally w.close()
  }

  /** Densify every `*.parquet` under `dir` (names starting with `_` or
    * `.` skipped) into a grid over `axes` — one file from [[write]], or
    * the several parts a Spark writer leaves. */
  def read(conf: Configuration, dir: String, axes: Seq[BinAxis]): BinnedGrid = {
    val d = new Path(dir)
    val files = d.getFileSystem(conf).listStatus(d).toSeq
      .filter(s => s.isFile && isPart(s.getPath.getName)).map(_.getPath).sortBy(_.getName)
    require(files.nonEmpty, s"no parquet cell files under $dir")
    val data = new Array[Long](axes.map(_.nbins).product)
    files.foreach { f =>
      val r = ParquetReader.builder(new CellReadSupport(axes, data, f), f).withConf(conf).build()
      try while (r.read() != null) {} finally r.close()
    }
    BinnedGrid(data, axes)
  }

  private def isPart(name: String): Boolean =
    name.endsWith(".parquet") && !name.startsWith("_") && !name.startsWith(".")

  private def columns(axes: Seq[BinAxis]): Seq[String] = axes.map(a => s"bin_${a.name}") :+ "cnt"

  private def schema(axes: Seq[BinAxis]): MessageType = {
    val b = Types.buildMessage()
    columns(axes).foreach(c => b.optional(PrimitiveType.PrimitiveTypeName.INT64).named(c))
    b.named("spark_schema")
  }

  private final class CellWriterBuilder(grid: BinnedGrid, file: Path, conf: Configuration)
      extends ParquetWriter.Builder[Integer, CellWriterBuilder](HadoopOutputFile.fromPath(file, conf)) {
    withConf(conf)
    withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
    withCompressionCodec(CompressionCodecName.SNAPPY)
    protected def self(): CellWriterBuilder = this
    protected def getWriteSupport(c: Configuration): WriteSupport[Integer] = new CellWriteSupport(grid)
  }

  /** A record is a flat cell index; its fields are the row-major bin
    * coordinates and the count. */
  private final class CellWriteSupport(grid: BinnedGrid) extends WriteSupport[Integer] {
    private val names = columns(grid.axes).toArray
    private val shape = grid.shape.map(_.toLong).toArray
    private val strides = BinnedGrid.strides(grid.shape)
    private var out: RecordConsumer = _

    def init(c: Configuration): WriteSupport.WriteContext =
      new WriteSupport.WriteContext(schema(grid.axes), java.util.Collections.emptyMap[String, String]())
    def prepareForWrite(rc: RecordConsumer): Unit = out = rc

    def write(flat: Integer): Unit = {
      val f = flat.longValue
      out.startMessage()
      var d = 0
      while (d < shape.length) {
        put(d, (f / strides(d)) % shape(d))
        d += 1
      }
      put(d, grid.data(flat))
      out.endMessage()
    }

    private def put(i: Int, v: Long): Unit = {
      out.startField(names(i), i)
      out.addLong(v)
      out.endField(names(i), i)
    }
  }

  /** Reads the `bin_*`/`cnt` columns of one file (in axis order, whatever
    * the file's column order) and stores each record's count at its flat
    * index in `data`. Records are not materialised. */
  private final class CellReadSupport(axes: Seq[BinAxis], data: Array[Long], file: Path)
      extends ReadSupport[AnyRef] {
    private val n = axes.length
    private val shape = axes.map(_.nbins.toLong).toArray
    private val strides = BinnedGrid.strides(axes.map(_.nbins))

    override def init(ctx: InitContext): ReadSupport.ReadContext = {
      val fileSchema = ctx.getFileSchema
      val fields = columns(axes).map { c =>
        require(fileSchema.containsField(c), s"$file has no column $c")
        fileSchema.getType(fileSchema.getFieldIndex(c))
      }
      new ReadSupport.ReadContext(new MessageType(fileSchema.getName, fields: _*))
    }

    def prepareForRead(c: Configuration, kv: java.util.Map[String, String], fileSchema: MessageType,
                       ctx: ReadSupport.ReadContext): RecordMaterializer[AnyRef] =
      new RecordMaterializer[AnyRef] {
        private val vals = new Array[Long](n + 1)
        private var seen = 0
        private val converters: Array[Converter] = Array.tabulate(n + 1) { i =>
          new PrimitiveConverter {
            override def addLong(v: Long): Unit = { vals(i) = v; seen += 1 }
          }
        }
        private val root = new GroupConverter {
          def getConverter(i: Int): Converter = converters(i)
          def start(): Unit = seen = 0
          def end(): Unit = {
            if (seen != n + 1) throw new IllegalArgumentException(s"$file: a cell has a null column")
            var flat = 0L
            var d = 0
            while (d < n) {
              val b = vals(d)
              if (b < 0 || b >= shape(d))
                throw new IllegalArgumentException(s"$file: bin_${axes(d).name} = $b outside [0, ${shape(d)})")
              flat += b * strides(d)
              d += 1
            }
            data(flat.toInt) = vals(n)
          }
        }
        // any non-null marker: the reader treats a null record as "skip"
        def getCurrentRecord: AnyRef = this
        def getRootConverter: GroupConverter = root
      }
  }
}
