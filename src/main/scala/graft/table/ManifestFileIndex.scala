package graft.table

import graft.manifest.DataFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.execution.datasources.{FileFormat, FileIndex, FilePartition, HadoopFsRelation, LogicalRelation, PartitionDirectory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftbridge.CatalystBridge
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** A Spark file index over files the manifests already list, with the
  * sizes the manifests recorded (ref `scan.rs:82-109`: a task reads the
  * manifest's file list as given). Spark never checks a path, expands a
  * glob or lists a directory for it, so a location holding `[`, `*` or
  * `?` reads like any other.
  *
  * With `constants`, each file is its own partition whose values are the
  * file's constants (its manifest path, its data sequence number, …):
  * every row carries them as per-file values rather than per-row
  * rewrites of `_metadata`. Its relations read the files with the table's
  * catalog conf ([[ManifestFileIndex.relation]]). */
private[graft] final class ManifestFileIndex(files: Seq[DataFile],
                                             constants: Seq[ManifestFileIndex.Constant])
    extends FileIndex {

  private val statuses = files.map(f =>
    new FileStatus(f.fileSizeInBytes, false, 0, 0, 0, new Path(f.filePath)))

  override val partitionSchema: StructType = ManifestFileIndex.partitionSchema(constants)

  private lazy val directories = files.zip(statuses).map { case (f, s) =>
    PartitionDirectory(ManifestFileIndex.values(f, constants), Array(s))
  }

  override def rootPaths: Seq[Path] = statuses.map(_.getPath)

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    if (constants.isEmpty) Seq(PartitionDirectory(InternalRow.empty, statuses.toArray))
    else {
      // Spark does not re-check partition filters after the scan, so the
      // index must apply them, binding each column to its ordinal
      val keep = partitionFilters.reduceOption(And).map { cond =>
        val p = Predicate.createInterpreted(cond.transform {
          case a: AttributeReference =>
            val i = partitionSchema.fieldIndex(a.name)
            BoundReference(i, partitionSchema(i).dataType, partitionSchema(i).nullable)
        })
        p.initialize(0)
        p
      }
      directories.filter(d => keep.forall(_.eval(d.values)))
    }

  override def inputFiles: Array[String] = files.map(_.filePath).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = files.map(_.fileSizeInBytes).sum
}

private[graft] object ManifestFileIndex {
  /** A per-file constant column: every row of a file reads `value(file)`
    * (a `String`, `Long` or `Int`, or null when `nullable`). */
  final case class Constant(name: String, dataType: DataType, value: DataFile => Any,
                            nullable: Boolean = false)

  /** The columns of `constants`, as a relation's partition schema. */
  def partitionSchema(constants: Seq[Constant]): StructType =
    StructType(constants.map(c => StructField(c.name, c.dataType, c.nullable)))

  /** `file`'s values of `constants`, as a partition row. */
  private def values(file: DataFile, constants: Seq[Constant]): InternalRow =
    InternalRow.fromSeq(constants.map(c => c.value(file) match {
      case v: String => UTF8String.fromString(v)
      case v => v
    }))

  /** Parquet `files` read as `schema` (columns bind by name) with the
    * catalog's `conf`, plus the `constants` columns. Hidden `_metadata`
    * columns (`row_index`, …) resolve as on any parquet read. */
  def read(spark: SparkSession, files: Seq[DataFile], schema: StructType, conf: Configuration,
           constants: Seq[Constant] = Nil): DataFrame =
    CatalystBridge.dataFrame(spark, relation(spark, files, schema, conf, constants))

  /** The relation [[read]] wraps. Its scans read the files with the
    * catalog's `conf` (see [[TableParquet]]); with `label`, plans name them
    * by the label in place of "parquet". Its `_metadata` column joins the
    * output through `withMetadataColumns()`. */
  def relation(spark: SparkSession, files: Seq[DataFile], schema: StructType, conf: Configuration,
               constants: Seq[Constant] = Nil, label: Option[String] = None): LogicalRelation = {
    val index = new ManifestFileIndex(files, constants)
    LogicalRelation(HadoopFsRelation(index, index.partitionSchema, CatalystBridge.asNullable(schema),
      bucketSpec = None, new TableParquet(conf, label), Map.empty)(spark))
  }

  /** Spark's parquet row reader over files written as `schema`, built
    * once on the driver as the scans of [[relation]] build theirs: it reads
    * a file's `required` columns (bound by name) with the catalog's `conf`
    * (see [[TableParquet]]), each row followed by the file's values of
    * `constants` (see [[file]]). The function ships to the tasks, with the
    * conf's broadcast inside. */
  def rowReader(spark: SparkSession, schema: StructType, required: StructType, constants: Seq[Constant],
                conf: Configuration): PartitionedFile => Iterator[InternalRow] =
    new TableParquet(conf, None).buildReaderWithPartitionValues(spark, CatalystBridge.asNullable(schema),
      partitionSchema(constants), CatalystBridge.asNullable(required), Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), CatalystBridge.hadoopConf(spark))

  /** The whole of `file` as one input of a [[rowReader]], with its values
    * of `constants`. */
  def file(file: DataFile, constants: Seq[Constant]): PartitionedFile =
    PartitionedFile(values(file, constants), SparkPath.fromPath(new Path(file.filePath)), 0,
      file.fileSizeInBytes, Array.empty, 0, file.fileSizeInBytes)

  /** `files` packed into the tasks a Spark file scan would read them in:
    * larger files first, each task up to the split size the session's
    * conf gives for their total size ([[FilePartition]]), so a batch of
    * many small files runs as a few tasks. */
  def pack(spark: SparkSession, files: Seq[PartitionedFile]): Seq[Array[PartitionedFile]] = {
    val statuses = files.map(f => new FileStatus(f.fileSize, false, 0, 0, 0, f.toPath)).toArray
    val maxSplitBytes = FilePartition.maxSplitBytes(spark, Seq(PartitionDirectory(InternalRow.empty, statuses)))
    FilePartition.getFilePartitions(spark, files.sortBy(-_.length), maxSplitBytes).map(_.files)
  }

  /** Parquet read with the table's own I/O settings (ref `scan.rs:82-109`,
    * `storage_options`). Spark's reader gets [[TableScan.readerConf]]: the
    * session's [[TableScan.trimmed]] entries with the catalog's on top, so a
    * catalog-only file system or `hadoop.*` option reaches the data files,
    * and the per-scan broadcast and per-file copy Spark makes of that conf
    * hold tens of entries rather than over a thousand. With `label` (the
    * graft table and snapshot read), scans show it as their name in
    * EXPLAIN and the SQL UI. */
  private final class TableParquet(@transient conf: Configuration, label: Option[String])
      extends ParquetFileFormat {
    override def shortName(): String = label.getOrElse(super.shortName())

    override def buildReaderWithPartitionValues(
        sparkSession: SparkSession, dataSchema: StructType, partitionSchema: StructType,
        requiredSchema: StructType, filters: Seq[Filter], options: Map[String, String],
        hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] =
      super.buildReaderWithPartitionValues(sparkSession, dataSchema, partitionSchema,
        requiredSchema, filters, options, TableScan.readerConf(sparkSession, hadoopConf, conf))
  }
}
