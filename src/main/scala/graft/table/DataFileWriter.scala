package graft.table

import graft.UnsupportedFeatureError
import graft.manifest.DataFile
import graft.meta.PartitionSpec
import graft.transforms.Transform
import graft.types._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.parquet.hadoop.{ParquetOutputFormat, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopStreams
import org.apache.parquet.io.{OutputFile, PositionOutputStream}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.graftbridge.WriteBridge
import org.apache.spark.sql.types._

import scala.collection.mutable

/**
 * The one writer of table files — data files, position deletes and
 * equality deletes, for batch writes, dynamic overwrite and both
 * streaming sinks. Each task fans its rows out to one open Parquet file
 * per partition tuple (files roll at `targetFileRows`) through Spark's own
 * [[ParquetWriteSupport]], and hands back a [[DataFile]] per file whose
 * stats come from the writer's footer after close (ref `table.rs:83-112`):
 * no file is re-opened and no directory is listed. The driver commits
 * metadata only — driver work is O(files), never O(rows).
 *
 * Tasks run under Spark's DSv2 task protocol (`DataWritingSparkTask`, with
 * the output commit coordinator): a failed task aborts and deletes its own
 * files; files orphaned by a dead executor are never committed and are
 * reclaimed by `removeOrphanFiles`.
 */
object DataFileWriter {

  /** What the files are to the table: data (content 0; every bound and
    * null count), position deletes (1; only the `file_path` bounds) or
    * equality deletes (2; the key columns' bounds and their field ids). */
  final case class Content(id: Int, boundColumns: Option[Set[String]], equalityIds: Seq[Int])

  val Data: Content = Content(0, None, Nil)
  val PositionDeletes: Content = Content(1, Some(Set("file_path")), Nil)
  def equalityDeletes(keyNames: Seq[String], keyIds: Seq[Int]): Content =
    Content(2, Some(keyNames.toSet), keyIds)

  /** One partition field's tuple string for a row ("" for null). */
  sealed trait PartitionValue extends Serializable {
    def name: String
    def apply(row: InternalRow): String
  }

  /** A tuple string the batch plan already computed as a string column —
    * Spark's own cast, so the strings are the ones table data has always
    * carried, for every transform result type. */
  final case class Precomputed(name: String, ordinal: Int) extends PartitionValue {
    def apply(row: InternalRow): String =
      if (row.isNullAt(ordinal)) "" else row.getUTF8String(ordinal).toString
  }

  /** A tuple string computed per row from its source column, for DSv2
    * writes whose rows Spark hands over as they are. Result types are
    * gated by [[checkWritableSpec]] to those whose JVM string equals
    * Spark's cast-to-string, so both kinds of value agree. */
  final case class Evaluated(name: String, ordinal: Int, sparkType: DataType,
                             transform: Transform, srcType: IType) extends PartitionValue {
    def apply(row: InternalRow): String =
      if (row.isNullAt(ordinal)) ""
      else transform(jvmValue(row), srcType) match {
        case null => ""
        case other => other.toString
      }

    private def jvmValue(row: InternalRow): Any = sparkType match {
      case StringType => row.getUTF8String(ordinal).toString
      case IntegerType => row.getInt(ordinal)
      case LongType => row.getLong(ordinal)
      case BooleanType => row.getBoolean(ordinal)
      case DateType => java.time.LocalDate.ofEpochDay(row.getInt(ordinal).toLong)
      case TimestampType | TimestampNTZType =>
        val micros = row.getLong(ordinal)
        java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(micros, 1000000L),
          (Math.floorMod(micros, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)
      case d: DecimalType => row.getDecimal(ordinal, d.precision, d.scale).toJavaBigDecimal
      case BinaryType => row.getBinary(ordinal)
      case other => throw new UnsupportedFeatureError(
        s"unsupported partition source type for the DSv2 writer: $other")
    }
  }

  /** Gate for [[Evaluated]]: every partition field's RESULT type must have
    * a JVM string equal to Spark's cast-to-string, or tuples written by a
    * DSv2 write would not match the batch path's. */
  def checkWritableSpec(spec: PartitionSpec, schema: Schema): Unit =
    spec.fields.foreach { pf =>
      val src = schema.fieldById(pf.sourceId).getOrElse(
        throw new UnsupportedFeatureError(s"partition source id ${pf.sourceId} not in schema"))
      Transform.parse(pf.transform).resultType(src.fieldType) match {
        case IInt | ILong | IString | IDate | IBoolean | IDecimal(_, _) => ()
        case other => throw new UnsupportedFeatureError(
          s"partition field ${pf.name}: result type $other has no unambiguous " +
            "string form for the executor-side writer; use an int/long/string/" +
            "date/decimal-valued transform (day/hour/bucket/truncate) instead")
      }
    }

  /** The streaming upsert's keys: which input ordinals form the merge key,
    * their names (for errors) and the field ids the delete files declare. */
  final case class UpsertKeys(names: Seq[String], ordinals: Seq[Int], ids: Seq[Int])

  /** The files one task wrote — all the driver ever sees of the data. */
  final case class WrittenFiles(files: Seq[DataFile]) extends WriterCommitMessage

  /**
   * Serializable factory: one [[DataFileWriter]] per task (and per epoch
   * for streaming); with `upsert`, an [[UpsertWriter]] that also writes
   * the batch's keys as equality deletes.
   *
   * @param dir       qualified directory the files go to
   * @param schema    the columns each file holds
   * @param columns   input ordinals of `schema`'s columns; None when the
   *                  input row is exactly `schema`
   */
  final case class Factory(
      dir: String,
      schema: StructType,
      sconf: Broadcast[SerializableHadoopConf],
      targetFileRows: Long,
      partition: Seq[PartitionValue] = Nil,
      columns: Option[Seq[Int]] = None,
      content: Content = Data,
      prefix: String = "part",
      upsert: Option[UpsertKeys] = None)
    extends DataWriterFactory with StreamingDataWriterFactory {

    private def make(uid: String): DataWriter[InternalRow] = upsert match {
      case Some(keys) => new UpsertWriter(uid, this, keys)
      case None => new DataFileWriter(uid, this)
    }

    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      make(s"$partitionId-$taskId")

    override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
      make(s"$epochId-$partitionId-$taskId")
  }

  /** `dir` in the file system's qualified form (`file:/w/…` for a local
    * path without a scheme) — the one form manifests record. */
  def qualify(dir: Path, conf: Configuration): String =
    dir.getFileSystem(conf).makeQualified(dir).toString

  /**
   * Write every partition of `df`'s executed plan as `content` files under
   * `dir`, a directory fresh to this call, and return them. The job is one
   * SQL execution (query listeners and the SQL UI see it); its tasks
   * report the bytes and records they wrote. The last
   * `partitionColumns.size` columns of `df`, if any, are the tuple strings
   * of those partition fields and are not written. If the job fails, `dir`
   * is deleted with whatever finished tasks wrote into it.
   */
  def write(df: DataFrame, dir: Path, conf: Configuration, targetFileRows: Long,
            content: Content = Data, partitionColumns: Seq[String] = Nil): Seq[DataFile] = {
    val width = df.schema.length - partitionColumns.size
    val factory = Factory(
      dir = qualify(dir, conf),
      schema = StructType(df.schema.fields.take(width)),
      sconf = TableScan.taskConf(df.sparkSession, conf),
      targetFileRows = targetFileRows,
      partition = partitionColumns.zipWithIndex.map { case (n, i) => Precomputed(n, width + i) },
      columns = if (partitionColumns.isEmpty) None else Some(0 until width),
      content = content)
    try WriteBridge.runWriteJob(df, factory).toSeq.flatMap(files)
    catch {
      case e: Throwable =>
        try dir.getFileSystem(conf).delete(dir, true) catch { case _: Exception => }
        throw e
    }
  }

  def files(message: WriterCommitMessage): Seq[DataFile] = message match {
    case WrittenFiles(fs) => fs
    case _ => Nil
  }

  /** Hadoop conf wired for [[ParquetWriteSupport]] writing `schema`. */
  private def parquetConf(sconf: Broadcast[SerializableHadoopConf], schema: StructType): Configuration = {
    val c = new Configuration(sconf.value.value)
    ParquetWriteSupport.setSchema(schema, c)
    c.set("spark.sql.parquet.writeLegacyFormat", "false")
    c.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    c.set("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
    c.set("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
    c.set("spark.sql.parquet.fieldId.write.enabled", "false")
    c.set("spark.sql.parquet.variant.annotateLogicalType.enabled", "false")
    c
  }

  private class RowWriterBuilder(out: OutputFile)
    extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](out) {
    override def self(): RowWriterBuilder = this
    override def getWriteSupport(c: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport().asInstanceOf[WriteSupport[InternalRow]]
  }

  /** A Parquet [[OutputFile]] over a stream we opened ourselves, so the
    * file's length is the stream's position after close. */
  private final class StreamFile(path: Path, out: FSDataOutputStream) extends OutputFile {
    override def create(blockSizeHint: Long): PositionOutputStream = HadoopStreams.wrap(out)
    override def createOrOverwrite(blockSizeHint: Long): PositionOutputStream = HadoopStreams.wrap(out)
    override def supportsBlockSize(): Boolean = false
    override def defaultBlockSize(): Long = 0L
    override def getPath: String = path.toString
  }

  /** Input ordinals → a row of `schema`. */
  private[table] def projection(ordinals: Seq[Int], schema: StructType): UnsafeProjection =
    UnsafeProjection.create(ordinals.zip(schema.fields).map { case (o, field) =>
      BoundReference(o, field.dataType, nullable = true): Expression })

  /** Best-effort delete of one written file. */
  private[graft] def delete(conf: Configuration, path: String): Unit = {
    val p = new Path(path)
    try p.getFileSystem(conf).delete(p, false) catch { case _: Exception => }
  }
}

/** Task-side writer: routes each row to the open file of its partition
  * tuple, rolling files at the factory's `targetFileRows`. */
final class DataFileWriter(taskUid: String, f: DataFileWriter.Factory)
  extends DataWriter[InternalRow] {
  import DataFileWriter._

  private val conf: Configuration = parquetConf(f.sconf, f.schema)
  private val project: InternalRow => InternalRow =
    f.columns.fold[InternalRow => InternalRow](identity)(projection(_, f.schema))

  private final class Open(val path: Path, val out: FSDataOutputStream,
                           val writer: ParquetWriter[InternalRow],
                           val partition: Map[String, String]) { var rows = 0L }

  private val open = mutable.HashMap.empty[Seq[String], Open]
  private val written = mutable.Buffer.empty[DataFile]
  private var fileNo = 0

  private def newOpen(tuple: Seq[String]): Open = {
    val p = new Path(f.dir, s"${f.prefix}-$taskUid-$fileNo.parquet")
    fileNo += 1
    val out = TableFiles.create(p.getFileSystem(conf), p, overwrite = false)
    val w = new RowWriterBuilder(new StreamFile(p, out))
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withRowGroupSize(ParquetOutputFormat.getLongBlockSize(conf))
      .withPageSize(ParquetOutputFormat.getPageSize(conf))
      .build()
    new Open(p, out, w, f.partition.map(_.name).zip(tuple).toMap)
  }

  private def finish(o: Open): Unit = {
    o.writer.close()
    val stats = ParquetStats.fromFooter(o.writer.getFooter)
    def kept[V](m: Map[String, V]): Map[String, V] =
      f.content.boundColumns.fold(m)(cols => m.view.filterKeys(cols).toMap)
    written += DataFile(
      filePath = o.path.toString,
      fileFormat = "PARQUET",
      partition = o.partition,
      recordCount = stats.recordCount,
      fileSizeInBytes = o.out.getPos,
      lowerBounds = kept(stats.lowerBounds),
      upperBounds = kept(stats.upperBounds),
      nullCounts = if (f.content.id == 0) stats.nullCounts else Map.empty,
      content = f.content.id,
      equalityIds = f.content.equalityIds)
  }

  override def write(row: InternalRow): Unit = {
    val tuple = f.partition.map(_(row))
    val o = open.getOrElseUpdate(tuple, newOpen(tuple))
    o.writer.write(project(row))
    o.rows += 1
    if (o.rows >= f.targetFileRows) {
      open.remove(tuple)
      finish(o)
    }
  }

  override def commit(): WriterCommitMessage = {
    open.values.foreach(finish)
    open.clear()
    WriteBridge.addTaskOutput(written.map(_.fileSizeInBytes).sum, written.map(_.recordCount).sum)
    WrittenFiles(written.toSeq)
  }

  override def abort(): Unit = {
    open.values.foreach(o => try o.writer.close() catch { case _: Exception => })
    val paths = open.values.map(_.path.toString) ++ written.map(_.filePath)
    open.clear()
    written.clear()
    paths.foreach(delete(conf, _))
  }

  override def close(): Unit = ()
}

/** Upsert-mode task writer: data rows go to a [[DataFileWriter]] exactly
  * as in append mode, and every row's merge KEY also goes to a second one
  * writing equality deletes (key columns only, global partition scope —
  * the shape the batch upsert writes). The write requests a strict
  * clustering + ordering on the keys, so same-key rows are task-local AND
  * adjacent: NULL and duplicate keys in one epoch are rejected loudly with
  * O(1) per-row state, matching [[Table.upsert]]'s batch-side contract. */
private final class UpsertWriter(taskUid: String, f: DataFileWriter.Factory,
                                 keys: DataFileWriter.UpsertKeys)
  extends DataWriter[InternalRow] {

  private val data = new DataFileWriter(taskUid, f.copy(upsert = None))
  private val keySchema = StructType(keys.ordinals.map(f.schema.fields(_)).toArray)
  private val deletes = new DataFileWriter(taskUid, f.copy(schema = keySchema,
    partition = Nil, columns = None, prefix = "eqdel",
    content = DataFileWriter.equalityDeletes(keys.names, keys.ids), upsert = None))
  private val keyProj = DataFileWriter.projection(keys.ordinals, keySchema)
  private var prevKey: UnsafeRow = null

  override def write(row: InternalRow): Unit = {
    if (keys.ordinals.exists(row.isNullAt))
      throw new graft.InvalidDataError(
        s"upsert key contains NULL (keys: ${keys.names.mkString(", ")}): " +
          "filter null-key rows out of the stream first")
    val key = keyProj(row)
    if (prevKey != null && key == prevKey)
      throw new graft.InvalidDataError(
        "streaming upsert epoch has duplicate keys: reduce to one row per key " +
          "per trigger first (last-wins is undefined within a batch)")
    prevKey = key.copy()
    deletes.write(key)
    data.write(row)
  }

  override def commit(): WriterCommitMessage =
    DataFileWriter.WrittenFiles(
      DataFileWriter.files(data.commit()) ++ DataFileWriter.files(deletes.commit()))

  override def abort(): Unit = { deletes.abort(); data.abort() }

  override def close(): Unit = ()
}
