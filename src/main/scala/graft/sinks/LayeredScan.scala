package graft.sinks

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCoercion
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Merge-on-read's read of a table's layers — its base and deltas, in
  * manifest order — as ONE parquet relation. Each layer dir is one
  * partition whose value, the layer's position in the list, is the
  * column [[CommitSeq]], so ordering equal versions by commit costs no
  * per-row work.
  *
  * An N-way union of per-dir scans would add a scan node, and a
  * whole-stage codegen stage, per layer: every new delta would change
  * the plan and renumber the generated classes after it, so a steady
  * stream of rounds would compile, with Janino, code it had compiled
  * before. One relation keeps the plan, and its generated code, the
  * same at any delta depth.
  *
  * Files come from the driver-side listing [[Footers]] does (no
  * listing job at any depth); the schema is the layers' recorded
  * schemas ([[graft.SchemaCache]]) widened in layer order, so a column
  * an older layer lacks reads as null (the ADD COLUMN default) and no
  * schema is inferred.
  */
private[graft] object LayeredScan {

  /** The layer-position column every scan carries. */
  val CommitSeq = "__graft_commit_seq"

  private val partitionSchema = StructType(Array(StructField(CommitSeq, LongType, nullable = false)))

  /** The columns of a merged read of `dirs`: each layer's recorded
    * schema in order, a column first seen in a later layer appended,
    * a column whose type differs across layers widened to the wider
    * type (the parquet reader reads the narrower layers up to it). */
  def schema(spark: SparkSession, dirs: Seq[String]): StructType =
    StructType(dirs.map(graft.SchemaCache.schemaOf(spark, _).fields.toSeq).reduce { (a, b) =>
      a.map(f => b.find(_.name == f.name).fold(f)(g =>
        if (g.dataType == f.dataType) f
        else f.copy(dataType = TypeCoercion.findWiderTypeForTwo(f.dataType, g.dataType)
          .getOrElse(throw new IllegalStateException(
            s"layers disagree on column ${f.name}: ${f.dataType.simpleString} vs " +
              g.dataType.simpleString))))) ++
        b.filterNot(g => a.exists(_.name == g.name))
    })

  /** One scan over the data files of `dirs` that `keep` accepts, with
    * [[CommitSeq]] = the layer's index in `dirs`; None when no file is kept. */
  def scan(spark: SparkSession, dirs: Seq[String],
           keep: Path => Boolean = _ => true): Option[DataFrame] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val layers = dirs.zipWithIndex.map { case (d, i) =>
      val p = new Path(d)
      i.toLong -> Footers.listData(p.getFileSystem(conf), p).filter(st => keep(st.getPath))
    }.filter(_._2.nonEmpty)
    if (layers.isEmpty) None
    else {
      val rel = HadoopFsRelation(LayerIndex(dirs.map(new Path(_)), layers),
        partitionSchema, schema(spark, dirs), None, new ParquetFileFormat, Map.empty)(spark)
      Some(GraftSqlBridge.ofRows(spark, LogicalRelation(rel, isStreaming = false)))
    }
  }

  /** The empty frame of a merged read of `dirs`: [[schema]] plus
    * [[CommitSeq]], with no scan under it (the optimizer folds it away). */
  def empty(spark: SparkSession, dirs: Seq[String]): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](),
      StructType(schema(spark, dirs).fields ++ partitionSchema.fields))

  /** The layers' files, one partition per layer, listed once when
    * the scan is built: Tx dirs are immutable, so there is nothing to
    * refresh. Equal indexes scan equal files, which lets Spark reuse
    * an exchange over the same layers within a plan. */
  private final case class LayerIndex(rootPaths: Seq[Path], layers: Seq[(Long, Seq[FileStatus])])
      extends FileIndex {
    override def partitionSchema: StructType = LayeredScan.partitionSchema

    override def listFiles(partitionFilters: Seq[Expression],
                           dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      // partition filters are not re-applied above the scan, so the
      // index must apply them itself
      val bound = partitionFilters.map(f => Predicate.createInterpreted(f.transform {
        case a: AttributeReference if a.name == CommitSeq => BoundReference(0, LongType, nullable = false)
      }))
      layers.map { case (i, files) => InternalRow(i) -> files }
        .filter { case (row, _) => bound.forall(_.eval(row)) }
        .map { case (row, files) =>
          PartitionDirectory(row, files.map(FileStatusWithMetadata(_, Map.empty)).toList) }
    }

    override def inputFiles: Array[String] =
      layers.flatMap(_._2.map(_.getPath.toString)).toArray

    override def refresh(): Unit = ()

    override def sizeInBytes: Long = layers.map(_._2.map(_.getLen).sum).sum
  }
}
