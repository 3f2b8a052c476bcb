package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Per-file key-range sidecars ("zone maps") for [[TxLog]]-backed lake
  * dirs: after a data dir is fully written, one small Spark job records
  * each file's min/max of the table's key columns into `<dir>/_zonemap`,
  * and point/range reads prune to the files whose range can match —
  * DRIVER-SIDE, before any parquet footer is opened.
  *
  * Why this matters at 100 TB: parquet row-group stats also prune, but
  * only after the scan has LISTED and OPENED every file's footer — at a
  * million files that is a million round trips per query. A manifest-
  * adjacent zone map makes a point lookup's file set ∝ files that can
  * contain the key (after [[PkTableSink.compactTx]]'s key-range-sorted
  * bin-packing: usually exactly one per dir), the same role file-level
  * min/max stats play in Delta's checkpoint / Iceberg's manifest
  * entries, and zone maps in the reference's StarRocks storage engine
  * (segment-level short-key index; create-starrocks-tables.sh:1-51
  * tables are all `PRIMARY KEY` + `DISTRIBUTED BY HASH`).
  *
  * Cost: the stats job reads ONLY the just-written dir (∝ batch, never
  * the table) and collects one row per file. The sidecar is written
  * INSIDE the data dir before the manifest commit claims it, so every
  * committed dir either carries a sidecar or (legacy dirs) none —
  * readers treat a missing sidecar as "all files may match".
  *
  * Ordering contract: stats come from Spark's own min/max, and pruning
  * compares with the same total order (numeric for numeric key types,
  * UTF8 binary for strings — Spark's string ordering), so a file is
  * never pruned while holding a matching key.
  */
object ZoneMap {

  private val FileName = "_zonemap"

  /** One file's recorded key ranges: values are the STRING renderings
    * of Spark's min/max, tagged with the column's type kind so the
    * pruner compares in the right order. */
  final case class FileStat(file: String, rows: Long,
                            mins: Map[String, String], maxs: Map[String, String],
                            kinds: Map[String, String])

  private def kindOf(dt: org.apache.spark.sql.types.DataType): Option[String] = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | IntegerType | ShortType | ByteType => Some("long")
      case DoubleType | FloatType                        => Some("double")
      case StringType                                    => Some("string")
      case _: DecimalType                                => Some("double")
      // ISO yyyy-MM-dd renders compare lexicographically ≡
      // chronologically, so the string branch of the pruner's compare
      // is the right order. (The old "long" tag was a latent crash:
      // the job path records the CAST-to-string rendering, which
      // toLong cannot parse.)
      case DateType                                      => Some("date")
      // timestamp renderings vary (fractional seconds appear only
      // when nonzero) — not recorded; the pruner never prunes on an
      // unrecorded column
      case _                                             => None // unsupported: column not recorded
    }
  }

  /** Record per-file min/max of `keyCols` for every parquet file under
    * `dir`. Columns of unsupported types are skipped (the pruner then
    * never prunes on them).
    *
    * Fast path (r17 optimization round, guide §1.2 "per-task work"):
    * the stats a zone map needs are ALREADY in every parquet footer
    * (row count + per-column min/max), so for the batch-sized dirs the
    * transactional commit path writes (one to a handful of files) they
    * are read driver-side with zero Spark jobs — the old
    * `groupBy(input_file_name())` job paid a full shuffle + collect
    * per committed dir, which at ~6 committed dirs per MV-gate round
    * was a measurable slice of every lifecycle gate. Falls back to the
    * Spark job when the dir is large (many files — at 100 TB a
    * distributed stats job beats a serial driver loop) or when any
    * footer's stats are unusable (missing, truncated-unsafe non-ASCII
    * strings, exotic types), so recorded values stay exactly the
    * min/max the old path recorded.
    *
    * Assumption: the dirs are SELF-WRITTEN with Spark's default
    * parquet config — in particular no writer-side statistics
    * truncation (`parquet.statistics.truncate.length`). A truncated
    * min (prefix) / incremented max cannot be told apart from exact
    * values in the footer; pruning would stay safe (bounds only
    * widen) but the footer≡job exact-equivalence contract would not
    * hold for such dirs. */
  def write(spark: SparkSession, dir: String, keyCols: Seq[String]): Unit = {
    if (footerWrite(spark, dir, keyCols)) return
    writeViaJob(spark, dir, keyCols)
  }

  private[graft] def footerWrite(spark: SparkSession, dir: String, keyCols: Seq[String]): Boolean = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val conf = spark.sessionState.newHadoopConf()
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf)
    if (!fs.exists(dirPath)) return false
    // per-footer reads are serial driver round trips — fine for
    // commit-batch dirs, wrong at scale
    val files = Footers.dataFiles(fs, dirPath)
    if (files.length > Footers.MaxFiles) return false
    val lines = files.toSeq.flatMap { f =>
      val footer = try {
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
        try r.getFooter finally r.close()
      } catch { case _: Exception => return false }
      val md = footer.getBlocks
      val schema = footer.getFileMetaData.getSchema
      val rows = md.asScala.map(_.getRowCount).sum
      if (rows == 0) None // the job path's empty-file behavior: no line
      else {
        val cols = keyCols.flatMap { c =>
          if (!schema.containsField(c)) Nil
          else schema.getFields.asScala.find(_.getName == c).get match {
            case pt: org.apache.parquet.schema.PrimitiveType =>
              val ann = pt.getLogicalTypeAnnotation
              val isString = ann != null &&
                ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
              val isDecimal = ann != null &&
                ann.isInstanceOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation]
              val isDate = ann != null &&
                ann.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation]
              val isTs = ann != null &&
                ann.isInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation]
              // decimals are binary-packed in footer stats — defer the
              // whole dir to the job, whose cast rendering is exact
              if (isDecimal) return false
              val kind = pt.getPrimitiveTypeName match {
                case INT32 if isDate            => Some("date")
                case INT64 if isTs              => None // mirrors kindOf: not recorded
                case INT32 | INT64 if !isString => Some("long")
                case FLOAT | DOUBLE             => Some("double")
                case BINARY if isString         => Some("string")
                case _                          => None // unsupported: skip column
              }
              kind match {
                case None => Nil
                case Some(k) =>
                  // fold per-row-group stats; every chunk must carry
                  // usable stats or the whole dir defers to the job
                  val chunks = md.asScala.map(_.getColumns.asScala
                    .find(_.getPath.toDotString == c).getOrElse(return false))
                  val stats = chunks.map(_.getStatistics)
                  if (stats.exists(s => s == null || s.isEmpty)) return false
                  val nonNull = stats.filter(_.hasNonNullValue)
                  if (nonNull.isEmpty) Nil // all-null column: not prunable
                  else if (nonNull.size + stats.count(s =>
                      !s.hasNonNullValue && s.getNumNulls >= 0) != stats.size)
                    return false
                  else {
                    def render(v: AnyRef): Option[String] = v match {
                      // INT32-days date: render Spark's cast-to-string
                      // form (ISO), exactly what the job path records
                      case i: java.lang.Integer if k == "date" =>
                        Some(java.time.LocalDate.ofEpochDay(i.longValue).toString)
                      case i: java.lang.Integer => Some(i.toString)
                      case l: java.lang.Long    => Some(l.toString)
                      // Float.toString, NOT doubleValue.toString: Spark's
                      // FloatType→string cast renders the float's own
                      // shortest form ("0.3"), and the job path records
                      // that — widening first ("0.30000001192092896")
                      // broke footer≡job parity and could prune a file
                      // holding the matching key (r18, ADVICE fix)
                      case f: java.lang.Float   => Some(f.toString)
                      case d: java.lang.Double  => Some(d.toString)
                      case b: org.apache.parquet.io.api.Binary =>
                        val s = b.toStringUsingUTF8
                        // UTF8-binary vs UTF16 order agree on ASCII only
                        if (s.forall(ch => ch < 0x80)) Some(s) else None
                      case _ => None
                    }
                    val mins = nonNull.map(s => render(s.genericGetMin.asInstanceOf[AnyRef]))
                    val maxs = nonNull.map(s => render(s.genericGetMax.asInstanceOf[AnyRef]))
                    if ((mins ++ maxs).exists(_.isEmpty)) return false
                    def cmp(a: String, b: String): Int = k match {
                      case "long"   => java.lang.Long.compare(a.toLong, b.toLong)
                      case "double" => java.lang.Double.compare(a.toDouble, b.toDouble)
                      case _        => a.compareTo(b)
                    }
                    val mn = mins.flatten.reduce((a, b) => if (cmp(a, b) <= 0) a else b)
                    val mx = maxs.flatten.reduce((a, b) => if (cmp(a, b) >= 0) a else b)
                    Seq(s"${c}.kind=$k", s"${c}.min=${esc(mn)}", s"${c}.max=${esc(mx)}")
                  }
              }
            case _ => return false // nested key column: defer to the job
          }
        }
        Some((Seq(s"f=${esc(f.getName)}", s"n=$rows") ++ cols).mkString("\t"))
      }
    }
    val body = lines.sorted.mkString("", "\n", "\n")
    val out = fs.create(new Path(dirPath, FileName), true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    true
  }

  private[graft] def writeViaJob(spark: SparkSession, dir: String, keyCols: Seq[String]): Unit = {
    val df = spark.read.parquet(dir)
    val usable = keyCols.filter(c => df.schema.fields.exists(f =>
      f.name == c && kindOf(f.dataType).isDefined))
    val kinds = usable.map(c => c ->
      kindOf(df.schema(c).dataType).get).toMap
    val aggs = usable.flatMap(c => Seq(
      min(col(c)).cast("string").as(s"min_$c"),
      max(col(c)).cast("string").as(s"max_$c")))
    val stats = df.groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("rows"), aggs: _*)
      .collect() // one row per file in ONE dir — batch-sized by construction
    val body = stats.map { r =>
      val fname = new Path(r.getString(0)).getName
      val cols = usable.flatMap { c =>
        val mn = r.getAs[String](s"min_$c"); val mx = r.getAs[String](s"max_$c")
        if (mn == null || mx == null) Nil // all-null key file: never prunable
        else Seq(s"${c}.kind=${kinds(c)}", s"${c}.min=${esc(mn)}", s"${c}.max=${esc(mx)}")
      }
      (Seq(s"f=${esc(fname)}", s"n=${r.getAs[Long]("rows")}") ++ cols).mkString("\t")
    }.sorted.mkString("", "\n", "\n")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(dir, FileName), true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  // tab/newline are the record separators; escape them plus backslash
  private def esc(s: String): String = s.flatMap {
    case '\\' => "\\\\"; case '\t' => "\\t"; case '\n' => "\\n"
    case c => c.toString
  }
  private def unesc(s: String): String = {
    val b = new StringBuilder; var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 't' => b += '\t'; case 'n' => b += '\n'; case x => b += x
        }
        i += 2
      } else { b += c; i += 1 }
    }
    b.toString
  }

  /** The sidecar's stats, or None when the dir predates zone maps. */
  def read(spark: SparkSession, dir: String): Option[Seq[FileStat]] = {
    val p = new Path(dir, FileName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val txt = { val in = fs.open(p); try new String(in.readAllBytes(), "UTF-8") finally in.close() }
    Some(txt.linesIterator.filter(_.nonEmpty).map { line =>
      val kv = line.split("\t").map(_.split("=", 2))
        .collect { case Array(k, v) => k -> unesc(v) }.toMap
      val cols = kv.keys.collect { case k if k.endsWith(".kind") => k.dropRight(5) }
      FileStat(kv("f"), kv("n").toLong,
        cols.flatMap(c => kv.get(s"$c.min").map(c -> _)).toMap,
        cols.flatMap(c => kv.get(s"$c.max").map(c -> _)).toMap,
        cols.map(c => c -> kv(s"$c.kind")).toMap)
    }.toSeq)
  }

  /** True when the recorded range [min,max] of `keyCol` can intersect
    * the query range [lo,hi] (inclusive). A file with no recorded
    * stats for the column is never pruned. */
  private[sinks] def mayMatch(st: FileStat, keyCol: String, lo: String, hi: String): Boolean =
    (st.mins.get(keyCol), st.maxs.get(keyCol), st.kinds.get(keyCol)) match {
      case (Some(mn), Some(mx), Some(kind)) =>
        def cmp(a: String, b: String): Int = kind match {
          case "long"   => java.lang.Long.compare(a.toLong, b.toLong)
          case "double" => java.lang.Double.compare(a.toDouble, b.toDouble)
          case _        => a.compareTo(b)
        }
        cmp(mx, lo) >= 0 && cmp(mn, hi) <= 0
      case _ => true
    }

  /** Absolute paths of the parquet files under `dir` whose zone can
    * intersect [lo,hi] on `keyCol`. Without a sidecar, ALL files (the
    * reader stays correct on legacy dirs, it just doesn't skip). */
  def pruneFiles(spark: SparkSession, dir: String, keyCol: String,
                 lo: String, hi: String): Seq[String] = {
    read(spark, dir) match {
      case None => Footers.dataFiles(spark, dir)
      case Some(stats) =>
        stats.filter(mayMatch(_, keyCol, lo, hi))
          .map(st => new Path(dir, st.file).toString)
    }
  }
}
