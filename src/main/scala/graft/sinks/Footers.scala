package graft.sinks

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.filter2.compat.{FilterCompat, RowGroupFilter}
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType}
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Driver-side reads of the parquet footers of a lake dir — what a
  * written dir holds, answered with zero Spark jobs: its data files,
  * their summed row count, and whether a file can hold a value in a
  * point or range probe.
  *
  * Pruning uses what parquet-mr stores per row group: min/max stats
  * for every column, the dictionary page, and the native bloom filter
  * (written inside the write task when the writer sets
  * `parquet.bloom.filter.enabled#<col>`, see [[bloomOptions]]) — the
  * same `RowGroupFilter` levels Spark's own scan applies. parquet-mr
  * drops the bloom of a fully dictionary-encoded chunk; the dictionary
  * then answers exactly. A file is ruled out only when every row group
  * is, so a probe has no false negatives; false positives cost a scan.
  *
  * Cost: one footer open (about 1 ms) per file of a probed dir, serial
  * on the driver — cheap at the one-to-few-file dirs a commit writes,
  * and growing with the file count of a many-file base.
  */
private[graft] object Footers {

  /** Footer reads are serial driver round trips: past this many files
    * a dir's row count is left to a Spark job. */
  val MaxFiles = 64

  /** The parquet data files directly under `dir` (sidecars, markers
    * and hidden files excluded); empty when `dir` is absent. */
  def dataFiles(fs: FileSystem, dir: Path): Seq[Path] = listData(fs, dir).map(_.getPath)

  /** [[dataFiles]] with their file statuses, as a scan needs them. */
  def listData(fs: FileSystem, dir: Path): Seq[FileStatus] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.filter { st =>
      val n = st.getPath.getName; st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }

  def dataFiles(spark: SparkSession, dir: String): Seq[String] = {
    val p = new Path(dir)
    dataFiles(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p).map(_.toString)
  }

  /** Rows under `dir`, summed from its footers (exact); None past
    * [[MaxFiles]] files, for a partitioned (nested) or missing dir, or
    * on an unreadable footer. */
  def rowCount(spark: SparkSession, dir: String): Option[Long] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p) || fs.listStatus(p).exists(st => st.isDirectory &&
        !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))) return None
    val files = dataFiles(fs, p)
    if (files.size > MaxFiles) None
    else scala.util.Try(files.map { f =>
      val r = open(conf, f)
      try r.getRecordCount finally r.close()
    }.sum).toOption
  }

  /** A reader of `file`'s footer, its options taken from `conf`: the
    * default options build a fresh Hadoop `Configuration`, whose
    * resource parse cost about 8 ms of every open. */
  private def open(conf: Configuration, file: Path): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      HadoopReadOptions.builder(conf).build())

  /** Write options that make parquet-mr build a bloom filter for each
    * of `cols` inside the write task, sized for `expectedPerFile`
    * distinct values per column chunk. */
  def bloomOptions(cols: Seq[String], expectedPerFile: Long): Map[String, String] =
    cols.distinct.flatMap(c => Seq(
      s"parquet.bloom.filter.enabled#$c" -> "true",
      s"parquet.bloom.filter.expected.ndv#$c" -> expectedPerFile.toString)).toMap

  /** The data files of `dir` that can hold a row with `colName` in
    * [`lo`, `hi`] (inclusive). A bound is the column's value — a
    * number, a string, a date — or its string rendering, as Spark's
    * cast to string gives it (a point probe `lo == hi` of
    * `cast(colName as string) = value`). */
  def pruneDir(spark: SparkSession, dir: String, colName: String,
               lo: Any, hi: Any): Seq[String] = {
    val keep = mayHold(spark, colName, lo, hi)
    dataFiles(spark, dir).filter(f => keep(new Path(f)))
  }

  /** [[pruneDir]]'s probe as a test of one file. */
  def mayHold(spark: SparkSession, colName: String, lo: Any, hi: Any): Path => Boolean = {
    val conf = spark.sessionState.newHadoopConf()
    mayContain(conf, _, colName, lo, hi)
  }

  private val Levels = Seq(RowGroupFilter.FilterLevel.STATISTICS,
    RowGroupFilter.FilterLevel.DICTIONARY, RowGroupFilter.FilterLevel.BLOOMFILTER).asJava

  private def mayContain(conf: Configuration, file: Path, colName: String,
                         lo: Any, hi: Any): Boolean =
    try {
      val r = open(conf, file)
      try rangePredicate(r.getFileMetaData.getSchema, colName, lo, hi).forall(p =>
        !RowGroupFilter.filterRowGroups(Levels, FilterCompat.get(p), r.getRowGroups, r).isEmpty)
      finally r.close()
    } catch { case _: Exception => true }

  /** `lo <= colName <= hi` as a parquet predicate — `eq` for a point —
    * with the bounds read as the column's type: INT32/INT64 integers,
    * FLOAT/DOUBLE, UTF-8 strings and INT32 dates. These are the
    * comparators Spark's scan itself pushes down, in the order Spark
    * compares (UTF-8 byte order for strings), and the eq form is what
    * a bloom hashed at write time. None (keep the file) for any other
    * type, a dotted (nested-looking) name, a NaN, a string bound on a
    * number column that does not parse, a number bound on a string or
    * date column, or an out-of-range bound. */
  private def rangePredicate(schema: MessageType, colName: String,
                             lo: Any, hi: Any): Option[FilterPredicate] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import FilterApi._
    type Col[T <: Comparable[T]] = org.apache.parquet.filter2.predicate.Operators.Column[T]
      with org.apache.parquet.filter2.predicate.Operators.SupportsLtGt
    def between[T <: Comparable[T]](c: Col[T], conv: Any => T): FilterPredicate = {
      val (l, h) = (conv(lo), conv(hi))
      if (l.compareTo(h) == 0) FilterApi.eq(c, l) else and(gtEq(c, l), ltEq(c, h))
    }
    def long(v: Any): java.lang.Long = v match {
      case n @ (_: java.lang.Long | _: java.lang.Integer | _: java.lang.Short | _: java.lang.Byte) =>
        n.asInstanceOf[Number].longValue
      case s: String => s.toLong
    }
    // a number bound converts as Spark's cast does (long → float/double)
    def float(v: Any): java.lang.Float = {
      val f = v match { case n: Number => n.floatValue; case s: String => s.toFloat }
      require(!f.isNaN, "NaN bound"); f
    }
    def double(v: Any): java.lang.Double = {
      val d = v match { case n: Number => n.doubleValue; case s: String => s.toDouble }
      require(!d.isNaN, "NaN bound"); d
    }
    def day(v: Any): Integer = Math.toIntExact((v match {
      case d: java.sql.Date => d.toLocalDate
      case d: java.time.LocalDate => d
      case s: String => java.time.LocalDate.parse(s)
    }).toEpochDay)
    if (colName.contains('.')) return None
    schema.getFields.asScala.find(f => f.getName == colName && f.isPrimitive)
      .map(_.asPrimitiveType).flatMap { pt =>
        val ann = pt.getLogicalTypeAnnotation
        val plainInt = ann == null || (ann match {
          case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
          case _ => false
        })
        scala.util.Try[Option[FilterPredicate]](pt.getPrimitiveTypeName match {
          case INT64 if plainInt => Some(between(longColumn(colName), long))
          case INT32 if plainInt =>
            Some(between(intColumn(colName), v => Integer.valueOf(Math.toIntExact(long(v)))))
          case INT32 if ann.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation] =>
            Some(between(intColumn(colName), day))
          case FLOAT if ann == null => Some(between(floatColumn(colName), float))
          case DOUBLE if ann == null => Some(between(doubleColumn(colName), double))
          case BINARY if ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
            Some(between(binaryColumn(colName), v => Binary.fromString(v.asInstanceOf[String])))
          case _ => None
        }).toOption.flatten
      }
  }
}
