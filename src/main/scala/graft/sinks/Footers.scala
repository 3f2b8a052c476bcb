package graft.sinks

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
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
  * their summed row count, and whether a file can hold a point-lookup
  * value.
  *
  * Point pruning uses what parquet-mr stores per row group: the native
  * bloom filter (written inside the write task when the writer sets
  * `parquet.bloom.filter.enabled#<col>`, see [[bloomOptions]]), the
  * dictionary page, and min/max stats — the same
  * `RowGroupFilter` levels Spark's own scan applies. parquet-mr drops
  * the bloom of a fully dictionary-encoded chunk; the dictionary then
  * answers exactly. A file is ruled out only when every row group is,
  * so a probe has no false negatives; false positives cost a scan.
  */
private[graft] object Footers {

  /** Footer reads are serial driver round trips: past this many files
    * a dir's row count is left to a Spark job. */
  val MaxFiles = 64

  /** The parquet data files directly under `dir` (sidecars, markers
    * and hidden files excluded); empty when `dir` is absent. */
  def dataFiles(fs: FileSystem, dir: Path): Seq[Path] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.filter(_.isFile).map(_.getPath).filter { p =>
      val n = p.getName; !n.startsWith("_") && !n.startsWith(".")
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
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try r.getRecordCount finally r.close()
    }.sum).toOption
  }

  /** Write options that make parquet-mr build a bloom filter for each
    * of `cols` inside the write task, sized for `expectedPerFile`
    * distinct values per column chunk. */
  def bloomOptions(cols: Seq[String], expectedPerFile: Long): Map[String, String] =
    cols.distinct.flatMap(c => Seq(
      s"parquet.bloom.filter.enabled#$c" -> "true",
      s"parquet.bloom.filter.expected.ndv#$c" -> expectedPerFile.toString)).toMap

  /** The files among `files` that can hold a row whose `colName`
    * renders (Spark's cast to string) as `value`. */
  def pruneFiles(spark: SparkSession, files: Seq[String], colName: String,
                 value: String): Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    files.filter(f => mayContain(conf, new Path(f), colName, value))
  }

  private val Levels = Seq(RowGroupFilter.FilterLevel.STATISTICS,
    RowGroupFilter.FilterLevel.DICTIONARY, RowGroupFilter.FilterLevel.BLOOMFILTER).asJava

  private def mayContain(conf: Configuration, file: Path, colName: String,
                         value: String): Boolean =
    try {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      try equalsPredicate(r.getFileMetaData.getSchema, colName, value).forall(p =>
        !RowGroupFilter.filterRowGroups(Levels, FilterCompat.get(p), r.getRowGroups, r).isEmpty)
      finally r.close()
    } catch { case _: Exception => true }

  /** `colName = value` with the value parsed as the column's physical
    * type — INT64/INT32 integers, DOUBLE, UTF8 BINARY — which is what
    * the bloom hashed at write time. None (keep the file) for any
    * other type, a dotted (nested-looking) name, a NaN or an
    * unparseable value. */
  private def equalsPredicate(schema: MessageType, colName: String,
                              value: String): Option[FilterPredicate] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    if (colName.contains('.')) return None
    schema.getFields.asScala.find(f => f.getName == colName && f.isPrimitive)
      .map(_.asPrimitiveType).flatMap { pt =>
        val ann = pt.getLogicalTypeAnnotation
        val plainInt = ann == null || ann.isInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation]
        scala.util.Try[Option[FilterPredicate]](pt.getPrimitiveTypeName match {
          case INT64 if plainInt =>
            Some(FilterApi.eq(FilterApi.longColumn(colName), java.lang.Long.valueOf(value.toLong)))
          case INT32 if plainInt =>
            Some(FilterApi.eq(FilterApi.intColumn(colName), Integer.valueOf(value.toInt)))
          case DOUBLE if ann == null && !value.toDouble.isNaN =>
            Some(FilterApi.eq(FilterApi.doubleColumn(colName), java.lang.Double.valueOf(value.toDouble)))
          case BINARY if ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
            Some(FilterApi.eq(FilterApi.binaryColumn(colName), Binary.fromString(value)))
          case _ => None
        }).toOption.flatten
      }
  }
}
