package graft.io

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Source/sink helpers — SURVEY.md §2.1 parity: FileCollection-style
  * gather/filter/select over file lists (`base.py:91-182`), natural sort
  * (`base.py:71-89`), multi-format readers, parquet append sink
  * (`fprocessing.py:2700-2722`), repartitioned split write
  * (`hdf5Splitter.split` analogue, `fprocessing.py:1885-1941`). The two
  * event-table sinks write uncompressed pages, as the reference does
  * (`writeEvents`); `writeSorted`, the corpus sink, keeps snappy.
  *
  * HDF5/Igor instrument formats are ingest-time conversions outside the
  * cluster path (the reference itself canonicalizes to parquet,
  * `fprocessing.py:843-849`); parquet is the on-cluster format.
  */
object Sources {

  /** Natural sort: split digit runs and compare numerically
    * (`natsorted` semantics for the common file-name case). */
  def naturalSort(names: Seq[String]): Seq[String] = {
    def key(s: String): Seq[Either[Long, String]] =
      "\\d+|\\D+".r.findAllIn(s).map { part =>
        if (part.head.isDigit && part.length <= 18) Left(part.toLong) else Right(part)
      }.toSeq
    names.sortWith { (a, b) =>
      val (ka, kb) = (key(a), key(b))
      ka.zip(kb).find { case (x, y) => x != y } match {
        case Some((Left(x), Left(y))) => x < y
        case Some((Left(_), Right(_))) => true // numbers before text
        case Some((Right(_), Left(_))) => false
        case Some((Right(x), Right(y))) => x < y
        case None => ka.length < kb.length
      }
    }
  }

  /** FileCollection.gather: `glob.glob(dir/pattern)`, natural-sorted.
    * The pattern matches whole names as `fnmatch` does ([[globRegex]]);
    * names starting with `.` (Spark's `.crc` files among them) are
    * skipped unless the pattern starts with `.`. */
  def gather(dir: String, pattern: String = "*"): Seq[String] = {
    val rx = globRegex(pattern).r
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter { f =>
        val name = f.getName
        (pattern.startsWith(".") || !name.startsWith(".")) && rx.matches(name)
      }
      .map(_.getPath).toSeq
    naturalSort(files)
  }

  /** Python's `fnmatch.translate` as a Java regex: `*` matches any run
    * of characters, `?` any one, `[seq]` one in the set and `[!seq]` one
    * not in it; every other character is literal. In a set, `-` between
    * two characters is a range (a reversed one holds nothing) and any
    * other `-` is literal; a `[` with no closing `]` is literal. */
  private def globRegex(pattern: String): String = {
    val p = pattern.codePoints.toArray
    def lit(c: Int) = f"\\x{$c%x}"
    val out = new StringBuilder("(?s)")
    var i = 0
    while (i < p.length) {
      val c = p(i)
      i += 1
      if (c == '*') out ++= ".*"
      else if (c == '?') out ++= "."
      else if (c != '[') out ++= lit(c)
      else {
        var j = i
        if (j < p.length && p(j) == '!') j += 1
        if (j < p.length && p(j) == ']') j += 1
        while (j < p.length && p(j) != ']') j += 1
        if (j == p.length) out ++= lit(c)
        else {
          val negate = p(i) == '!'
          val body = p.slice(if (negate) i + 1 else i, j)
          i = j + 1
          val set = new StringBuilder
          var k = 0
          while (k < body.length) {
            if (k + 2 < body.length && body(k + 1) == '-') {
              if (body(k) <= body(k + 2)) set ++= lit(body(k)) + "-" + lit(body(k + 2))
              k += 3
            } else {
              set ++= lit(body(k))
              k += 1
            }
          }
          out ++= (if (set.isEmpty) (if (negate) "." else "(?!)")
                   else if (negate) s"[^$set]" else s"[$set]")
        }
      }
    }
    out.result()
  }

  /** FileCollection.select by index ranges (`base.py:146-182`). */
  def select(files: Seq[String], ids: Seq[Int]): Seq[String] = ids.map(files)

  /** Multi-format reader (`readDataframe`, `fprocessing.py:1962-2027`). */
  def readFiles(spark: SparkSession, paths: Seq[String], ftype: String = "parquet"): DataFrame =
    ftype match {
      case "parquet" => parquet(spark, paths: _*)
      case "json" => spark.read.json(paths: _*)
      case "csv" => spark.read.option("header", "true").option("inferSchema", "true").csv(paths: _*)
      case "tsv" => spark.read.option("sep", "\t").option("header", "true")
        .option("inferSchema", "true").csv(paths: _*)
      case other => throw new IllegalArgumentException(s"unsupported ftype $other")
    }

  /** The engine's one parquet reader: `spark.read.parquet(paths)`
    * without the Spark job that reader runs to infer the schema.
    *
    * With `spark.sql.parquet.mergeSchema` off (the default), Spark's
    * inference reads the footer of one file and launches a one-task job
    * to do it. Here that footer is read on the driver instead
    * ([[footerSchema]]) and handed to the reader as its schema, so Spark
    * still lists the files and builds the same `HadoopFsRelation`, but
    * runs no job (its listing runs one only past
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` paths or
    * directories, as before). When the footer cannot decide the
    * schema, and when schema merging is on, the read goes to
    * `spark.read.parquet` unchanged, with Spark's own errors and
    * semantics.
    */
  def parquet(spark: SparkSession, paths: String*): DataFrame = {
    val schema =
      if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
      else footerSchema(spark, paths: _*)
    schema.fold(spark.read)(spark.read.schema).parquet(paths: _*)
  }

  /** The data schema Spark infers for `paths` without schema merging,
    * read from one footer on the driver.
    *
    * The file is the one Spark's inference picks among the listed leaf
    * files, sorted by path: the first `_common_metadata`, else the first
    * `_metadata`, else the first data file. Listing follows Spark's
    * hidden-name rule and stops at the first data file: the top of each
    * path (summary files sit there), then its subdirectories in path
    * order, depth first, for `key=value` layouts; globs expand with
    * `globStatus`. Summary files below the top level are not seen.
    *
    * `None` when Spark has to decide: a path or glob that matches
    * nothing, no data file (an empty directory), a streaming file sink's
    * output (Spark lists it from `_spark_metadata`), a footer that cannot
    * be read, or a footer column that is also a partition key of the
    * chosen file (Spark then types the partition column itself).
    */
  def footerSchema(spark: SparkSession, paths: String*): Option[StructType] = {
    val conf = parquetConf(spark)
    val roots = paths.map { p =>
      Try {
        val path = new Path(p)
        val fs = path.getFileSystem(conf)
        val matched =
          if (p.exists("{}[]*?\\".contains(_))) Option(fs.globStatus(path)).toSeq.flatten
          else Seq(fs.getFileStatus(path))
        matched.map(st => leaves(fs, st))
      }.getOrElse(Nil)
    }
    val found = if (roots.exists(r => r.isEmpty || r.contains(None))) Nil else roots.flatten.flatten
    def firstSummary(name: String) =
      found.flatMap(_.summaries).filter(_.getPath.getName == name).minByOption(_.getPath.toString)
    val chosen = firstSummary("_common_metadata").map(_ -> Seq.empty[String])
      .orElse(firstSummary("_metadata").map(_ -> Seq.empty[String]))
      .orElse(found.flatMap(_.data).minByOption(_._1.getPath.toString))
    chosen.flatMap { case (file, dirs) =>
      val keys = dirs.filter(_.contains('=')).map(_.takeWhile(_ != '=').toLowerCase).toSet
      Try {
        val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf), SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
          new ParquetToSparkSchemaConverter(conf))
      }.toOption.filterNot(_.fieldNames.exists(n => keys(n.toLowerCase)))
    }
  }

  /** What Spark's listing of one root path offers its schema inference:
    * the summary files at the root's top level, and its first data file
    * in path order with the directory names between the root and it. */
  private final case class Leaves(summaries: Seq[FileStatus], data: Option[(FileStatus, Seq[String])])

  private def leaves(fs: FileSystem, root: FileStatus): Option[Leaves] = {
    val name = root.getPath.getName
    if (root.isDirectory) {
      val all = fs.listStatus(root.getPath).toSeq
      // a streaming file sink's output: Spark reads the files its log names
      if (all.exists(_.getPath.getName == "_spark_metadata")) None
      else {
        val top = all.filterNot(st => hidden(st.getPath.getName))
        Some(Leaves(top.filter(st => st.isFile && isSummary(st.getPath.getName)), firstData(fs, top, Nil)))
      }
    } else if (hidden(name)) Some(Leaves(Nil, None))
    else if (isSummary(name)) Some(Leaves(Seq(root), None))
    else Some(Leaves(Nil, Some(root -> Nil)))
  }

  /** The first data file among `children` and below, in the order of
    * their full paths: a directory `d` sorts as `d/`, and is listed only
    * when no earlier entry holds a data file. */
  private def firstData(fs: FileSystem, children: Seq[FileStatus],
                        dirs: Seq[String]): Option[(FileStatus, Seq[String])] =
    children.sortBy(st => st.getPath.getName + (if (st.isDirectory) "/" else "")).iterator.map { st =>
      val name = st.getPath.getName
      if (st.isDirectory) firstData(fs, visible(fs, st.getPath), dirs :+ name)
      else if (isSummary(name)) None
      else Some(st -> dirs)
    }.collectFirst { case Some(f) => f }

  private def visible(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.filterNot(st => hidden(st.getPath.getName))

  /** Spark's rule for names its file listing skips
    * (`HadoopFSUtils.shouldFilterOutPathName`): `_` and `.` names, except
    * `_` names holding `=` and the summary files, and `._COPYING_`
    * files. */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") || name.endsWith("._COPYING_")) &&
      !name.startsWith("_common_metadata") && !name.startsWith("_metadata")

  private def isSummary(name: String): Boolean = name == "_common_metadata" || name == "_metadata"

  /** The session's Hadoop conf with the flags Spark's parquet schema
    * conversion reads set from the session, as `ParquetFileFormat` sets
    * them on the conf of its readers and of its schema inference. */
  private[graft] def parquetConf(spark: SparkSession): Configuration = {
    val c = spark.sessionState.conf
    val conf = spark.sessionState.newHadoopConf()
    Seq(SQLConf.PARQUET_BINARY_AS_STRING -> c.isParquetBinaryAsString,
      SQLConf.PARQUET_INT96_AS_TIMESTAMP -> c.isParquetINT96AsTimestamp,
      SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED -> c.parquetInferTimestampNTZEnabled,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG -> c.legacyParquetNanosAsLong,
      SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION -> c.parquetReaderRespectUnknownTypeAnnotation,
      SQLConf.CASE_SENSITIVE -> c.caseSensitiveAnalysis
    ).foreach { case (entry, v) => conf.setBoolean(entry.key, v) }
    conf
  }

  /** Parquet sink with append option (`convert(form='parquet')`),
    * uncompressed pages ([[writeEvents]]). */
  def writeParquet(df: DataFrame, path: String, append: Boolean = false): Unit =
    writeEvents(df, path, if (append) "append" else "overwrite")

  /** Split one table into n roughly equal files (`hdf5Splitter.split`
    * analogue): repartition + write, one file per partition,
    * uncompressed pages ([[writeEvents]]). */
  def splitWrite(df: DataFrame, path: String, nSplits: Int): Unit =
    writeEvents(df.repartition(nSplits), path, "overwrite")

  /** The event-table sink behind [[writeParquet]] and [[splitWrite]]:
    * parquet with uncompressed pages, as the reference's
    * `convert(form='parquet')` writes them.
    *
    * An event table is written once and re-binned many times, and snappy
    * buys it almost nothing: on 1.46e6 calibrated events (doubles) it saves
    * 4.3 % of `kx` and `ky` and none of `E` (34.2 MB snappy vs 35.2 MB
    * plain), on 1e6 raw float32 events 2.3 % of `X`/`Y` and none of
    * `t`/`ADC`. Every read pays for it, though: parquet-mr copies each
    * compressed page out through a decompression stream before Spark's
    * vectorized reader sees it, which was about a third of the executor
    * CPU of a re-binning pass. Plain pages are sliced straight out of the
    * column chunk.
    *
    * The codec is a per-write option, not a session setting: corpus
    * text ([[writeSorted]]) and binned volumes (`CellsParquet`, whose
    * delta-packed cells snappy shrinks by ~30 %) keep snappy, which pays
    * off there. The codec is recorded per column chunk, so snappy tables
    * written before, and appends that mix both codecs, read as before. */
  private def writeEvents(df: DataFrame, path: String, mode: String): Unit =
    df.write.mode(mode).option("compression", "uncompressed").parquet(path)

  /** Scale-aware materialization: range-partition on `sortCols`, sort
    * within partitions on the same keys, and cap rows per output file —
    * the layout a 100 TB corpus write actually needs. Range partitioning
    * (not hash) makes every file cover a contiguous key interval, so a
    * downstream reader filtering on the leading sort key prunes whole
    * files via parquet min/max; the in-file sort tightens row-group
    * statistics the same way; `maxRecordsPerFile` keeps any single task
    * from emitting an unsplittable monster file regardless of skew.
    * `nPartitions` sizes the parallelism explicitly (files-per-write ≈
    * nPartitions × ceil(rows_in_partition / maxRecordsPerFile)).
    */
  def writeSorted(df: DataFrame, path: String, sortCols: Seq[String],
                  nPartitions: Int, maxRecordsPerFile: Long): Unit = {
    require(sortCols.nonEmpty, "writeSorted needs at least one sort column")
    val keys = sortCols.map(org.apache.spark.sql.functions.col)
    df.repartitionByRange(nPartitions, keys: _*)
      .sortWithinPartitions(keys: _*)
      .write
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .mode("overwrite")
      .parquet(path)
  }
}
