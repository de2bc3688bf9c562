package graft.spark

import graft.UnsupportedFeatureError
import graft.manifest.DataFile
import graft.table.{ManifestFileIndex, StaticTable, TableScan, Table => GTable}
import graft.types._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BindReferences, Expression, UnsafeProjection}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReportsSourceMetrics, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.PartitionedFile

/** The streaming offset: the table's own sequence number, written as
  * `"<seq>"` — the wire form of the former V1 source's `LongOffset`, so a
  * checkpoint that source wrote still resumes here. */
case class GraftStreamOffset(seq: Long) extends Offset {
  override def json(): String = seq.toString
}

object GraftStreamOffset {
  /** The sequence number of an offset the engine hands back: this class, or
    * its checkpointed form (Spark's `SerializedOffset`, which a restart into
    * a batch that has no commit mark passes on). */
  def seqOf(o: Offset): Long = o.json().toLong
}

/**
 * DataSource V2 micro-batch stream over a graft table — the one
 * `spark.readStream` path, reached by `format("graft").load(dir)`, by
 * `format("graft")` with `warehouse`+`table` options and by
 * `spark.readStream.table("cat.db.t")`.
 *
 * Why V2: offsets travel THROUGH the API (`latestOffset(start, limit)`
 * receives the last committed offset), so rate limiting is stateless —
 * no driver-side "last seen" memory that a restart must reconstruct — and
 * a micro-batch's files are read directly on executors, packed into
 * [[InputPartition]]s as a batch scan packs its files
 * ([[ManifestFileIndex.pack]]). A partition reads its files as batch
 * reads do: with Spark's parquet row reader, built once per writer schema
 * and batch on the driver ([[ManifestFileIndex.rowReader]]), and the
 * field-id projection of [[TableScan.fieldIdProjection]], so every type a
 * batch read returns streams, with the same values.
 *
 * CDC mode (`read-changes=true`): the stream schema gains `_change_type` /
 * `_commit_snapshot_id` / `_commit_sequence` and every commit shape
 * streams as row-level changes with [[graft.streaming.StreamingOps
 * .changesBetween]]'s exact semantics. Append commits — the dominant CDC
 * shape — plan as their own added files, whose change metadata rides as
 * per-file values of the reader (pure executor-side reads, zero extra
 * IO); every other shape materializes its per-commit diff once to
 * scratch parquet under the table's `_cdc_scratch/` (a distributed job,
 * never a driver collect) and streams those files; scratch is deleted as
 * soon as the engine commits the batch.
 *
 * Semantics: append-commit consumption along MAIN's published ancestry
 * (branch-staged WAP commits never stream),
 * O(commit) planning from each commit's own manifests
 * ([[graft.table.TableScan.addedFiles]]), loud failure when a checkpointed
 * offset's snapshot has been expired, `skip-non-appends`,
 * `starting-snapshot-id`, `branch` (stream the named ref's ancestry —
 * the write-audit-publish audit consumer), `max-snapshots-per-trigger`,
 * `max-rows-per-trigger` (appended-row cap at commit granularity, from
 * snapshot summaries), and `hadoop.*` conf overlays. `Trigger.AvailableNow` is native
 * ([[SupportsTriggerAvailableNow]]): the backlog end is captured at query
 * start and rate-limited triggers drain exactly to it. Progress reports
 * carry `behindCommits` lag ([[ReportsSourceMetrics]]).
 * Schema is pinned at query start; files written under an
 * earlier table schema are projected by FIELD ID (a renamed column keeps
 * its data; an added column reads its initial-default).
 */
class GraftMicroBatchStream(
    loader: () => GTable,
    sourceDesc: String,
    parameters: Map[String, String],
    streamSchema: Schema,
    baseConf: Configuration = new Configuration()) extends MicroBatchStream
    with SupportsAdmissionControl
    with SupportsTriggerAvailableNow with ReportsSourceMetrics {

  private val conf: Configuration =
    GraftDataSource.hadoopConf(parameters, new Configuration(baseConf))
  private val skipNonAppends =
    parameters.get("skip-non-appends").exists(_.toBoolean)
  private val readChanges =
    parameters.get("read-changes").exists(_.toBoolean)
  private val maxSnapshotsPerTrigger: Option[Int] =
    parameters.get("max-snapshots-per-trigger").map(_.toInt)
  private val maxRowsPerTrigger: Option[Long] =
    parameters.get("max-rows-per-trigger").map(_.toLong)
  // stream the named branch's ancestry instead of main's (the WAP audit
  // consumer: staged commits are published TO IT before they reach main)
  private val branch: Option[String] = parameters.get("branch")
  for (k <- Seq("snapshot-id", "as-of-timestamp-ms") if parameters.contains(k))
    throw new graft.InvalidDataError(
      s"$k cannot stream: a pinned snapshot has no commit sequence to consume; " +
        "use starting-snapshot-id (a resume point) or branch (a live ref)")

  private def loadTable(): GTable = loader()

  private val startSeq: Long = parameters.get("starting-snapshot-id") match {
    case None => Long.MinValue
    case Some(id) =>
      loadTable().snapshotById(id.toLong).getOrElse(
        throw new graft.InvalidDataError(s"no snapshot with id $id")).sequenceNumber
  }

  override def initialOffset(): Offset = GraftStreamOffset(startSeq)
  override def deserializeOffset(json: String): Offset = GraftStreamOffset(json.toLong)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  // CDC scratch per materialized commit sequence: the dir plus its data
  // files, so each diff is materialized exactly once. Deleted as soon as
  // the engine commits an end offset at or past the sequence (and on stop).
  private val scratch =
    scala.collection.concurrent.TrieMap.empty[Long, (Path, Seq[DataFile])]
  private def dropScratch(upToSeq: Long): Unit =
    scratch.keys.filter(_ <= upToSeq).foreach { k =>
      scratch.remove(k).foreach { case (dir, _) =>
        try dir.getFileSystem(conf).delete(dir, true) catch { case _: Exception => }
      }
    }

  override def commit(end: Offset): Unit =
    dropScratch(GraftStreamOffset.seqOf(end))
  override def stop(): Unit = dropScratch(Long.MaxValue)

  override def latestOffset(): Offset =
    latestOffset(GraftStreamOffset(startSeq), ReadLimit.allAvailable())

  /** Trigger.AvailableNow: the end of the backlog is captured ONCE here, at
    * query start; rate-limited triggers then drain to exactly that point and
    * the query stops. Commits that land mid-drain are NOT consumed — they
    * wait for the next invocation (the bounded-backfill contract). */
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    val t = loadTable()
    availableNowCap = Some(graft.streaming.StreamingOps.streamHead(t, branch)
      .map(_.sequenceNumber).getOrElse(startSeq))
  }

  /** Progress-report metrics: how far this consumer trails the table head,
    * in commits on main's published ancestry (the unit the rate limit and
    * offsets use). One metadata-JSON read per progress report — no manifest
    * IO. */
  override def metrics(latestConsumedOffset: java.util.Optional[Offset])
      : java.util.Map[String, String] = {
    val consumed =
      if (latestConsumedOffset.isPresent)
        GraftStreamOffset.seqOf(latestConsumedOffset.get)
      else startSeq
    val t = loadTable()
    val headSeq = graft.streaming.StreamingOps.streamHead(t, branch)
      .map(_.sequenceNumber).getOrElse(Long.MinValue)
    val behind = graft.streaming.StreamingOps.streamAncestry(t, branch)
      .count(_.sequenceNumber > consumed)
    java.util.Map.of(
      "behindCommits", behind.toString,
      "latestSequenceNumber", headSeq.toString)
  }

  /** Admission control: the end offset for the next batch, at most
    * `max-snapshots-per-trigger` MAIN commits past `start` (the engine
    * hands us the true resume point, checkpointed or initial — no
    * source-side state to restore after a restart). */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val t = loadTable()
    val head = graft.streaming.StreamingOps.streamHead(t, branch)
      .getOrElse(return start)
    val from = GraftStreamOffset.seqOf(start)
    val uncapped = math.max(head.sequenceNumber, startSeq)
    val target = availableNowCap.fold(uncapped)(math.min(uncapped, _))
    val capped = graft.streaming.StreamingOps.cappedEndSeq(
      graft.streaming.StreamingOps.streamAncestry(t, branch),
      from, target, maxSnapshotsPerTrigger, maxRowsPerTrigger)
    GraftStreamOffset(math.max(capped, from))
  }

  // The engine builds a batch's physical plan several times, and each
  // build asks for the batch's partitions again (six times per batch on
  // Spark 4.1). A range of sequence numbers names immutable commits, so the
  // last range's partitions answer every ask after the first.
  @volatile private var planned: Option[((Long, Long), Array[InputPartition])] = None

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val range = (GraftStreamOffset.seqOf(start), GraftStreamOffset.seqOf(end))
    planned.collect { case (`range`, parts) => parts }.getOrElse {
      val parts = plan(range._1, range._2)
      planned = Some(range -> parts)
      parts
    }
  }

  private def plan(fromSeq: Long, toSeq: Long): Array[InputPartition] = {
    val t = loadTable()
    val ancestry = graft.streaming.StreamingOps.streamAncestry(t, branch)
    // an expired (or off-main) resume point means the commits in between
    // are unrecoverable — fail loudly rather than silently skipping or
    // replaying
    if (fromSeq > Long.MinValue && !ancestry.exists(_.sequenceNumber == fromSeq))
      throw new graft.InvalidDataError(
        s"cannot resume streaming read of $sourceDesc: the snapshot at " +
          s"checkpointed offset (sequence $fromSeq) has expired or is not on " +
          "main; restart from a fresh checkpoint (or starting-snapshot-id)")
    val snaps = ancestry
      .filter(s => s.sequenceNumber > fromSeq && s.sequenceNumber <= toSeq)
    val batch = new BatchFiles(t.metadata)
    if (readChanges) {
      val fromId =
        if (fromSeq == Long.MinValue) None
        else ancestry.find(_.sequenceNumber == fromSeq).map(_.snapshotId)
      planChanges(t, snaps, fromId, batch)
    } else snaps.foreach { s =>
      s.operation.getOrElse("append") match {
        case "append" =>
          t.scan(Some(s.snapshotId)).addedFiles().foreach(task => batch.add(task.schemaId, task.file))
        case other if skipNonAppends =>
        case other => throw new UnsupportedFeatureError(
          s"streaming read hit a non-append commit (operation=$other, snapshot " +
            s"${s.snapshotId}); consume row-level changes via read-changes=true " +
            "(CDC), or set skip-non-appends=true to stream appended rows only")
      }
    }
    batch.partitions()
  }

  /** The files of one batch and their readers: Spark's parquet row reader
    * and the field-id projection to the stream schema, built once per
    * writer schema (`None`: CDC scratch files, written under the stream
    * schema) and bound on the driver. In CDC mode a data file's rows read
    * the stream's data columns, and its commit's change metadata follows as
    * the file's per-file values — not as literals, which would make every
    * commit generate and compile a projection of its own. */
  private final class BatchFiles(meta: graft.meta.TableMetadata) {
    private val spark = SparkSession.active
    private val changeFields =
      streamSchema.fields.filter(f => readChanges && GraftMicroBatchStream.CdcMetaNames.contains(f.name))
    // writer schema id (None: scratch) -> its reader and files
    private val bySchema = scala.collection.mutable.LinkedHashMap
      .empty[Option[Int], (StreamFileReader, scala.collection.mutable.ArrayBuffer[PartitionedFile])]

    private def changes(s: graft.meta.Snapshot): Seq[ManifestFileIndex.Constant] = {
      val values = Map[String, Any]("_change_type" -> "insert",
        "_commit_snapshot_id" -> s.snapshotId, "_commit_sequence" -> s.sequenceNumber)
      changeFields.map(f => ManifestFileIndex.Constant(f.name,
        SparkSchemaConverter.toSparkType(f.fieldType), _ => values(f.name)))
    }

    private def addFile(schemaId: Option[Int], file: DataFile, constants: Seq[ManifestFileIndex.Constant])
                       (reader: => StreamFileReader): Unit =
      bySchema.getOrElseUpdate(schemaId, (reader, scala.collection.mutable.ArrayBuffer.empty))._2 +=
        ManifestFileIndex.file(file, constants)

    /** A data file written under schema `schemaId`, in CDC mode as a change
      * of commit `commit`. */
    def add(schemaId: Int, file: DataFile, commit: Option[graft.meta.Snapshot] = None): Unit = {
      val constants = commit.toSeq.flatMap(changes)
      addFile(Some(schemaId), file, constants)(build(meta.schemaById(schemaId).getOrElse(meta.currentSchema),
        streamSchema.fields.filterNot(changeFields.contains), constants))
    }

    /** A CDC scratch file: the full change row, under the stream schema. */
    def addScratch(file: DataFile): Unit =
      addFile(None, file, Nil)(build(streamSchema, streamSchema.fields, Nil))

    /** Each reader's files, packed into tasks as a batch scan packs them. */
    def partitions(): Array[InputPartition] = bySchema.values.toArray.flatMap { case (reader, files) =>
      ManifestFileIndex.pack(spark, files.toSeq).map(GraftStreamInputPartition(_, reader))
    }

    private def build(writeSchema: Schema, fields: Seq[NestedField],
                      constants: Seq[ManifestFileIndex.Constant]): StreamFileReader = {
      val ids = fields.map(_.id).toSet
      val required = SparkSchemaConverter.toSpark(writeSchema.copy(fields = writeSchema.fields.filter(f => ids(f.id))))
      // the reader's row: the required columns, then the per-file values
      val input = (required ++ ManifestFileIndex.partitionSchema(constants))
        .map(f => AttributeReference(f.name, f.dataType)())
      val projection = TableScan.fieldIdProjection(spark, fields, writeSchema, input) ++
        input.takeRight(constants.size)
      StreamFileReader(
        ManifestFileIndex.rowReader(spark, SparkSchemaConverter.toSpark(writeSchema), required, constants, conf),
        BindReferences.bindReferences(projection, input))
    }
  }

  /** CDC partitions for one batch, commit by commit in sequence order.
    * Append commits stream their own added files with their change
    * metadata as per-file values — no extra IO, no diff. Metadata-only
    * `replace` commits provably change nothing. Every other shape gets the
    * EXACT [[graft.streaming.StreamingOps.changesBetween]] per-commit diff,
    * materialized once to `_cdc_scratch/` parquet by a distributed job
    * (the diff is a join/exceptAll — per-partition readers cannot express
    * it) and streamed from there; the scratch files carry the full CDC
    * row including the metadata columns, written and read under the
    * pinned stream schema. */
  private def planChanges(t: GTable, snaps: Seq[graft.meta.Snapshot],
                          startId: Option[Long], batch: BatchFiles): Unit = {
    var prevId: Option[Long] = startId
    snaps.foreach { s =>
      val op = s.operation.getOrElse("append")
      if (s.summary.get("operation").contains("replace")) {
        // metadata-only reorganization: no row changes by construction
      } else if (op == "append") {
        t.scan(Some(s.snapshotId)).addedFiles().foreach(task =>
          batch.add(task.schemaId, task.file, Some(s)))
      } else {
        val files = scratch.get(s.sequenceNumber) match {
          case Some((_, fs)) => fs // already materialized for this commit
          case None =>
            val diff = graft.streaming.StreamingOps.changesBetween(
              SparkSession.active, t, prevId, Some(s.snapshotId))
            val dir = new Path(t.location,
              s"_cdc_scratch/${java.util.UUID.randomUUID().toString}")
            val fs = graft.table.DataFileWriter.write(diff, dir, conf, Long.MaxValue)
            scratch.put(s.sequenceNumber, (dir, fs))
            fs
        }
        files.foreach(batch.addScratch)
      }
      prevId = Some(s.snapshotId)
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = GraftStreamReaderFactory

  override def toString: String = s"GraftMicroBatchStream($sourceDesc)"
}

object GraftMicroBatchStream {

  /** Path-resolved stream: the table re-resolves per trigger through
    * `metadata/version-hint` (the form `readStream.format("graft")
    * .load(dir)` takes). */
  def forPath(tableDir: String, parameters: Map[String, String],
              streamSchema: Schema): GraftMicroBatchStream = {
    val conf = GraftDataSource.hadoopConf(parameters)
    new GraftMicroBatchStream(
      () => StaticTable.load(GraftDataSource.metadataPathFor(tableDir, conf), conf),
      tableDir, parameters, streamSchema, conf)
  }

  /** Catalog-resolved stream (`spark.readStream.table("cat.db.t")`): the
    * table refreshes through its own catalog per trigger — works for every
    * backend (Hadoop, JDBC, REST, in-memory), no filesystem layout
    * assumption. */
  def forCatalogTable(t: GTable, parameters: Map[String, String],
                      streamSchema: Schema): GraftMicroBatchStream =
    new GraftMicroBatchStream(() => t.refresh(), t.ident.toString,
      parameters, streamSchema, t.hadoopConf)

  /** The CDC metadata columns, in output order. */
  private[spark] val CdcMetaNames =
    Seq("_change_type", "_commit_snapshot_id", "_commit_sequence")

  /** The schema of a CDC read (the pinned stream schema, and the shape of
    * [[graft.streaming.StreamingOps.changesBetween]]): the data schema plus
    * the change-metadata fields. Their synthetic ids extend the data
    * schema's id space; scratch diff files are written and read under this
    * same schema, so id-based projection stays consistent within the
    * query. */
  private[graft] def cdcSchema(s: Schema): Schema = {
    val base = math.max(s.highestFieldId, 0)
    s.copy(fields = s.fields ++ Seq(
      NestedField(base + 1, "_change_type", IString, required = true),
      NestedField(base + 2, "_commit_snapshot_id", ILong, required = true),
      NestedField(base + 3, "_commit_sequence", ILong, required = true)))
  }
}

/** Data files of a micro-batch — each whole, with its per-file values —
  * and the reader of the schema that wrote them. */
case class GraftStreamInputPartition(files: Array[PartitionedFile], reader: StreamFileReader)
  extends InputPartition

/** Spark's parquet row reader over the files of one writer schema, and the
  * field-id projection of its rows to the stream schema, bound to the
  * reader's row. Built once on the driver per writer schema and batch; the
  * reader function carries Spark's broadcast of its Hadoop conf. */
case class StreamFileReader(read: PartitionedFile => Iterator[InternalRow], projection: Seq[Expression])

/** Reads a [[GraftStreamInputPartition]]: its files through the reader, each
  * row through the projection (generated once per projection and JVM:
  * Spark caches the compiled code by expression). Append-commit files carry
  * no applicable deletes by construction (see TableScan.addedFiles), so no
  * delete is applied here. */
object GraftStreamReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftStreamInputPartition]
    val project = UnsafeProjection.create(p.reader.projection)
    new PartitionReader[InternalRow] {
      private val files = p.files.iterator
      private var rows: Iterator[InternalRow] = Iterator.empty
      private var current: InternalRow = _
      override def next(): Boolean = {
        while (!rows.hasNext) {
          if (!files.hasNext) return false
          close()
          rows = p.reader.read(files.next())
        }
        current = project(rows.next())
        true
      }
      override def get(): InternalRow = current
      override def close(): Unit = rows match {
        case c: AutoCloseable => c.close()
        case _ =>
      }
    }
  }
}
