package graft.table

import graft.manifest.DataFile
import graft.puffin.{DeletionVector, Puffin}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter}
import org.apache.parquet.schema.MessageType
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.longlong.Roaring64NavigableMap

import scala.collection.mutable

/** One delete file a data file's rows are checked against: a
  * deletion-vector blob at `offset`/`length` of a Puffin file, or a whole
  * position-delete file (`length` < 0). */
private[graft] final case class PositionDeleteRef(path: String, offset: Long, length: Long) {
  def isDeletionVector: Boolean = length >= 0
}

private[graft] object PositionDeleteRef {
  def of(d: DataFile): PositionDeleteRef =
    if (d.isDeletionVector)
      PositionDeleteRef(d.filePath, d.contentOffset.getOrElse(0L),
        d.contentSizeInBytes.getOrElse(d.fileSizeInBytes))
    else PositionDeleteRef(d.filePath, 0L, -1L)

  /** A position delete file may name a local file "file:///x" while the
    * manifest (Hadoop `Path.toString`) says "file:/x". */
  def normalize(path: String): String =
    if (!path.startsWith("file://")) path
    else {
      var i = 7
      while (i < path.length && path.charAt(i) == '/') i += 1
      "file:/" + path.substring(i)
    }
}

/**
 * The deleted positions of the data files a scan reads, looked up inside
 * the scan's own tasks (ref `scan.rs:82-109`: a task applies its file's
 * deletes). `scope` maps each data file (normalized path) to exactly the
 * position deletes and deletion vectors planning paired with it; it and
 * the Hadoop conf reach the tasks as broadcasts, so a task deserializes
 * neither with its closure.
 *
 * A task holds the bitmap of the data file it is reading, and reads each
 * position-delete file at most once, keeping only the rows of data files
 * that delete file is paired with. One instance serves one task: it is
 * deserialized with each task, and its state is never shared.
 */
private[graft] final class DeletedPositions(
    conf: Broadcast[SerializableHadoopConf],
    scope: Broadcast[Map[String, Array[PositionDeleteRef]]],
    deleteFiles: Int, deletionVectors: Int, dataFiles: Int) extends Serializable {

  @transient private var file: UTF8String = _
  @transient private var positions: Roaring64NavigableMap = _
  @transient private var deleteFileRows: mutable.HashMap[String, Map[String, Roaring64NavigableMap]] = _

  /** Whether row `pos` of data file `path` is deleted. */
  def contains(path: UTF8String, pos: Long): Boolean = {
    if (file == null || !file.equals(path)) load(path)
    positions != null && positions.contains(pos)
  }

  private def load(path: UTF8String): Unit = {
    file = path.clone()
    val dataPath = PositionDeleteRef.normalize(file.toString)
    positions = scope.value.get(dataPath) match {
      case None => null
      case Some(refs) =>
        val out = new Roaring64NavigableMap()
        refs.foreach { r =>
          if (r.isDeletionVector) out.or(readDeletionVector(r))
          else positionsIn(r.path).get(dataPath).foreach(out.or)
        }
        out
    }
  }

  private def readDeletionVector(r: PositionDeleteRef): Roaring64NavigableMap = {
    val p = new Path(r.path)
    DeletionVector.deserialize(Puffin.readBlob(p.getFileSystem(conf.value.value), p, r.offset, r.length))
  }

  /** The rows of position-delete file `deletePath`, as one bitmap per data
    * file (normalized path) that planning paired the delete file with. */
  private def positionsIn(deletePath: String): Map[String, Roaring64NavigableMap] = {
    if (deleteFileRows == null) deleteFileRows = mutable.HashMap.empty
    deleteFileRows.getOrElseUpdate(deletePath, {
      val byFile = mutable.HashMap[String, Roaring64NavigableMap]()
      var lastPath: Binary = null
      var target: Roaring64NavigableMap = null
      DeletedPositions.readRows(conf.value.value, new Path(deletePath)) { (filePath, pos) =>
        // rows come sorted by file_path: resolve each path once
        if (lastPath == null || !lastPath.equals(filePath)) {
          lastPath = Binary.fromConstantByteArray(filePath.getBytes)
          val dataPath = PositionDeleteRef.normalize(filePath.toStringUsingUTF8)
          target =
            if (!scope.value.get(dataPath).exists(_.exists(_.path == deletePath))) null
            else byFile.getOrElseUpdate(dataPath, new Roaring64NavigableMap())
        }
        if (target != null) target.addLong(pos)
      }
      byFile.toMap
    })
  }

  override def toString: String = {
    val kinds = Seq(deleteFiles -> "position delete files", deletionVectors -> "deletion vectors")
      .collect { case (n, what) if n > 0 => s"$n $what" }
    s"${kinds.mkString(" and ")} over $dataFiles data files"
  }
}

private[graft] object DeletedPositions {
  /** Every non-null (`file_path`, `pos`) row of a position-delete file,
    * read column by column, with no record assembly. */
  def readRows(conf: Configuration, path: Path)(f: (Binary, Long) => Unit): Unit = {
    val reader = ParquetFiles.open(conf, path)
    try {
      val meta = reader.getFooter.getFileMetaData
      val fileSchema = meta.getSchema
      val requested = new MessageType(fileSchema.getName,
        Seq("file_path", "pos").map(c => fileSchema.getType(fileSchema.getFieldIndex(c))): _*)
      reader.setRequestedSchema(requested)
      val Array(pathCol, posCol) = Array("file_path", "pos").map(c => requested.getColumnDescription(Array(c)))
      var pages = reader.readNextRowGroup()
      while (pages != null) {
        val store = new ColumnReadStoreImpl(pages, IgnoreValues, requested, meta.getCreatedBy)
        val paths = store.getColumnReader(pathCol)
        val poss = store.getColumnReader(posCol)
        var i = 0L
        while (i < pages.getRowCount) {
          if (paths.getCurrentDefinitionLevel == pathCol.getMaxDefinitionLevel &&
              poss.getCurrentDefinitionLevel == posCol.getMaxDefinitionLevel)
            f(paths.getBinary, poss.getLong)
          paths.consume()
          poss.consume()
          i += 1
        }
        pages = reader.readNextRowGroup()
      }
    } finally reader.close()
  }

  /** Column readers take a converter tree; values are read directly. */
  private object IgnoreValues extends GroupConverter {
    private val leaf = new PrimitiveConverter {}
    override def getConverter(fieldIndex: Int): Converter = leaf
    override def start(): Unit = ()
    override def end(): Unit = ()
  }
}

/** Keeps a row unless its position (`pos`, the file-global
  * `_metadata.row_index`) is deleted in its data file (`file`, the
  * manifest path). Evaluated in the scan's tasks, so a merge-on-read read
  * joins nothing for position deletes and deletion vectors. */
private[graft] final case class NotDeleted(file: Expression, pos: Expression, deletes: DeletedPositions)
    extends BinaryExpression with Predicate {
  override def left: Expression = file
  override def right: Expression = pos

  override protected def nullSafeEval(f: Any, p: Any): Any =
    !deletes.contains(f.asInstanceOf[UTF8String], p.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val d = ctx.addReferenceObj("deletes", deletes)
    defineCodeGen(ctx, ev, (f, p) => s"!$d.contains($f, $p)")
  }

  override def toString: String = s"not deleted ($file, $pos): $deletes"

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): NotDeleted =
    copy(file = newLeft, pos = newRight)
}
