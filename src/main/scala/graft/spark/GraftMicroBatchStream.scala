package graft.spark

import graft.UnsupportedFeatureError
import graft.table.{SerializableHadoopConf, StaticTable, TableScan, Table => GTable}
import graft.types._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReportsSourceMetrics, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.unsafe.types.UTF8String

/** The streaming offset: the table's own sequence number — same wire form
  * (`json = "<seq>"`) as the V1 source's LongOffset, so a checkpoint
  * written by either implementation resumes under the other. */
case class GraftStreamOffset(seq: Long) extends Offset {
  override def json(): String = seq.toString
}

/**
 * DataSource V2 micro-batch stream over a graft table — the native
 * `spark.readStream.format("graft")` path (the V1 `Source` remains as the
 * fallback via `v1-source=true`).
 *
 * Why V2: offsets travel THROUGH the API (`latestOffset(start, limit)`
 * receives the last committed offset), so rate limiting is stateless —
 * no driver-side "last seen" memory that a restart must reconstruct — and
 * each file of a micro-batch is its own [[InputPartition]], read directly
 * on executors without any driver-side DataFrame rebinding (the V1 path
 * needed a private[sql] bridge to re-tag a batch plan as streaming).
 *
 * CDC mode (`read-changes=true`): the stream schema gains `_change_type` /
 * `_commit_snapshot_id` / `_commit_sequence` and every commit shape
 * streams as row-level changes with [[graft.streaming.StreamingOps
 * .changesBetween]]'s exact semantics. Append commits — the dominant CDC
 * shape — plan as their own added files with CONSTANT change metadata
 * (pure executor-side reads, zero extra IO); every other shape
 * materializes its per-commit diff once to scratch parquet under the
 * table's `_cdc_scratch/` (a distributed job, never a driver collect) and
 * streams those files; scratch is deleted as soon as the engine commits
 * the batch. Offsets stay the table sequence number, so a V1 CDC
 * checkpoint resumes under V2 unchanged.
 *
 * Semantics match the V1 source exactly: append-commit consumption along
 * MAIN's published ancestry (branch-staged WAP commits never stream),
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
  // files. Doubles as a plan cache — the engine re-invokes
  // planInputPartitions for the same range during physical planning, and
  // each diff must be materialized exactly once. Deleted as soon as the
  // engine commits an end offset at or past the sequence (and on stop).
  private val scratch =
    scala.collection.concurrent.TrieMap.empty[Long, (Path, Seq[String])]
  private def dropScratch(upToSeq: Long): Unit =
    scratch.keys.filter(_ <= upToSeq).foreach { k =>
      scratch.remove(k).foreach { case (dir, _) =>
        try dir.getFileSystem(conf).delete(dir, true) catch { case _: Exception => }
      }
    }

  override def commit(end: Offset): Unit =
    dropScratch(end.asInstanceOf[GraftStreamOffset].seq)
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
        latestConsumedOffset.get.asInstanceOf[GraftStreamOffset].seq
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
    val from = start.asInstanceOf[GraftStreamOffset].seq
    val uncapped = math.max(head.sequenceNumber, startSeq)
    val target = availableNowCap.fold(uncapped)(math.min(uncapped, _))
    val capped = graft.streaming.StreamingOps.cappedEndSeq(
      graft.streaming.StreamingOps.streamAncestry(t, branch),
      from, target, maxSnapshotsPerTrigger, maxRowsPerTrigger)
    GraftStreamOffset(math.max(capped, from))
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val t = loadTable()
    val fromSeq = start.asInstanceOf[GraftStreamOffset].seq
    val toSeq = end.asInstanceOf[GraftStreamOffset].seq
    val ancestry = graft.streaming.StreamingOps.streamAncestry(t, branch)
    // same contract as the V1 source: an expired (or off-main) resume point
    // means the commits in between are unrecoverable — fail loudly rather
    // than silently skipping or replaying
    if (fromSeq > Long.MinValue && !ancestry.exists(_.sequenceNumber == fromSeq))
      throw new graft.InvalidDataError(
        s"cannot resume streaming read of $sourceDesc: the snapshot at " +
          s"checkpointed offset (sequence $fromSeq) has expired or is not on " +
          "main; restart from a fresh checkpoint (or starting-snapshot-id)")
    val snaps = ancestry
      .filter(s => s.sequenceNumber > fromSeq && s.sequenceNumber <= toSeq)
    val meta = t.metadata
    val confBc = TableScan.taskConf(org.apache.spark.sql.SparkSession.active, conf)
    if (readChanges) {
      val fromId =
        if (fromSeq == Long.MinValue) None
        else ancestry.find(_.sequenceNumber == fromSeq).map(_.snapshotId)
      return planChangePartitions(t, snaps, fromId, confBc)
    }
    snaps.flatMap { s =>
      s.operation.getOrElse("append") match {
        case "append" =>
          t.scan(Some(s.snapshotId)).addedFiles().map { task =>
            val writeSchema = meta.schemaById(task.schemaId).getOrElse(meta.currentSchema)
            GraftStreamInputPartition(task.filePath,
              GraftMicroBatchStream.schemaJson(writeSchema), confBc)
          }
        case other if skipNonAppends => Nil
        case other => throw new UnsupportedFeatureError(
          s"streaming read hit a non-append commit (operation=$other, snapshot " +
            s"${s.snapshotId}); consume row-level changes via read-changes=true " +
            "(CDC), or set skip-non-appends=true to stream appended rows only")
      }
    }.toArray
  }

  /** CDC partitions for one batch, commit by commit in sequence order.
    * Append commits stream their own added files with constant change
    * metadata — no extra IO, no diff. Metadata-only `replace` commits
    * provably change nothing. Every other shape gets the EXACT
    * [[graft.streaming.StreamingOps.changesBetween]] per-commit diff,
    * materialized once to `_cdc_scratch/` parquet by a distributed job
    * (the diff is a join/exceptAll — per-partition readers cannot express
    * it) and streamed from there; the scratch files carry the full CDC
    * row including the metadata columns, written and read under the
    * pinned stream schema. */
  private def planChangePartitions(t: GTable, snaps: Seq[graft.meta.Snapshot],
                                   startId: Option[Long],
                                   confBc: Broadcast[SerializableHadoopConf]): Array[InputPartition] = {
    val meta = t.metadata
    val cdcJson = GraftMicroBatchStream.schemaJson(streamSchema)
    var prevId: Option[Long] = startId
    val parts = Array.newBuilder[InputPartition]
    snaps.foreach { s =>
      val op = s.operation.getOrElse("append")
      if (s.summary.get("operation").contains("replace")) {
        // metadata-only reorganization: no row changes by construction
      } else if (op == "append") {
        t.scan(Some(s.snapshotId)).addedFiles().foreach { task =>
          val writeSchema = meta.schemaById(task.schemaId).getOrElse(meta.currentSchema)
          parts += GraftStreamInputPartition(task.filePath,
            GraftMicroBatchStream.schemaJson(writeSchema), confBc,
            cdcMeta = Some(CdcMeta("insert", s.snapshotId, s.sequenceNumber)))
        }
      } else {
        val files = scratch.get(s.sequenceNumber) match {
          case Some((_, fs)) => fs // already materialized for this commit
          case None =>
            val spark = org.apache.spark.sql.SparkSession.active
            val diff = graft.streaming.StreamingOps.changesBetween(
              spark, t, prevId, Some(s.snapshotId))
            val dir = new Path(t.location,
              s"_cdc_scratch/${java.util.UUID.randomUUID().toString}")
            val fs = graft.table.DataFileWriter.write(diff, dir, conf, Long.MaxValue)
              .map(_.filePath)
            scratch.put(s.sequenceNumber, (dir, fs))
            fs
        }
        files.foreach(f =>
          parts += GraftStreamInputPartition(f, cdcJson, confBc))
      }
      prevId = Some(s.snapshotId)
    }
    parts.result()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftStreamReaderFactory(GraftMicroBatchStream.schemaJson(streamSchema))

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
  import org.json4s.jackson.JsonMethods

  /** The CDC metadata columns, in output order. */
  private[spark] val CdcMetaNames =
    Seq("_change_type", "_commit_snapshot_id", "_commit_sequence")

  /** The pinned stream schema of a CDC read: the data schema plus the
    * change-metadata fields. Their synthetic ids extend the data schema's
    * id space; scratch diff files are written and read under this same
    * schema, so id-based projection stays consistent within the query. */
  private[spark] def cdcSchema(s: Schema): Schema = {
    val base = math.max(s.highestFieldId, 0)
    s.copy(fields = s.fields ++ Seq(
      NestedField(base + 1, "_change_type", IString, required = true),
      NestedField(base + 2, "_commit_snapshot_id", ILong, required = true),
      NestedField(base + 3, "_commit_sequence", ILong, required = true)))
  }

  /** The data-only prefix of a [[cdcSchema]]. */
  private[spark] def dataSchemaOf(cdc: Schema): Schema =
    cdc.copy(fields = cdc.fields.filterNot(f => CdcMetaNames.contains(f.name)))

  private[spark] def schemaJson(s: Schema): String =
    JsonMethods.compact(JsonMethods.render(graft.meta.MetadataJson.schemaToJson(s)))
  private[spark] def schemaOf(json: String): Schema =
    graft.meta.MetadataJson.schemaFromJson(JsonMethods.parse(json))

  /** Can the executor-side Group reader produce this schema? Primitives and
    * lists of primitives cover the streaming tables; anything richer
    * (struct/map/uuid/fixed/time/nanos) falls back to the V1 source, which
    * materializes through the full DataFrame scan path. */
  private[spark] def streamable(schema: Schema): Boolean = {
    def prim(t: IType): Boolean = t match {
      case IBoolean | IInt | ILong | IFloat | IDouble | IString | IDate |
           ITimestamp | ITimestampTz | IBinary => true
      case IDecimal(_, _) => true
      case _ => false
    }
    schema.fields.forall(f => f.fieldType match {
      case t if prim(t) => true
      case IList(_, elem, _) => prim(elem)
      case _ => false
    })
  }
}

/** Constant change metadata of an append-commit CDC partition: every row
  * of the file streams as this (changeType, snapshotId, sequence). */
case class CdcMeta(changeType: String, snapshotId: Long, sequence: Long)

/** One data file of one append commit, with the schema that WROTE it (for
  * field-id projection to the pinned stream schema). `cdcMeta` set means
  * the file is a data file streamed in CDC mode: the reader appends the
  * constant metadata columns to each row. */
case class GraftStreamInputPartition(
    filePath: String,
    writeSchemaJson: String,
    conf: Broadcast[SerializableHadoopConf],
    cdcMeta: Option[CdcMeta] = None) extends InputPartition

case class GraftStreamReaderFactory(streamSchemaJson: String) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftStreamInputPartition]
    val streamSchema = GraftMicroBatchStream.schemaOf(streamSchemaJson)
    p.cdcMeta match {
      case None => new GraftGroupReader(p, streamSchema)
      case Some(m) =>
        // data file in CDC mode: project the DATA columns from the file,
        // append the commit-constant metadata columns per row
        new GraftGroupReader(p, GraftMicroBatchStream.dataSchemaOf(streamSchema),
          extra = Array[Any](UTF8String.fromString(m.changeType),
            m.snapshotId, m.sequence))
    }
  }
}

/**
 * Row-level parquet reader for one streamed data file, built on parquet-mr's
 * Group API (no Spark-internal readers): the parquet footer is projected to
 * only the columns the stream schema needs (by the WRITE schema's names),
 * each Group decodes straight to catalyst values, and stream columns the
 * file predates read their initial-default. Append-commit files carry no
 * applicable deletes by construction (see TableScan.addedFiles), so no
 * delete application is needed here.
 */
class GraftGroupReader(part: GraftStreamInputPartition, streamSchema: Schema,
                       extra: Array[Any] = Array.empty)
    extends PartitionReader[InternalRow] {
  import org.apache.parquet.example.data.Group
  import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
  import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type => PType}
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
  import scala.jdk.CollectionConverters._

  private val writeSchema = GraftMicroBatchStream.schemaOf(part.writeSchemaJson)
  private val conf = part.conf.value.value
  private val path = new Path(part.filePath)

  // current stream field -> the column name it had when this file was written
  private val writeById = writeSchema.fields.map(f => f.id -> f).toMap
  private val plans: Array[(NestedField, Option[NestedField])] =
    streamSchema.fields.map(cf => (cf, writeById.get(cf.id))).toArray

  // one open, with read options from the task's conf: the file schema
  // comes from the footer, then only the projected columns' chunks are read
  private val (reader, requested) = {
    val in = graft.table.ParquetFiles.open(conf, path)
    val fileSchema = in.getFooter.getFileMetaData.getSchema
    val needed = plans.flatMap(_._2).map(_.name).toSet
    val kept = fileSchema.getFields.asScala.filter(f => needed(f.getName))
    // pathological all-defaults projection: still need the row COUNT, so
    // read the narrowest file column as a carrier
    val req = new MessageType(fileSchema.getName,
      (if (kept.nonEmpty) kept else fileSchema.getFields.asScala.take(1)).asJava)
    in.setRequestedSchema(req)
    (in, req)
  }
  private val columnIO = new org.apache.parquet.io.ColumnIOFactory().getColumnIO(requested)
  private var rows: org.apache.parquet.io.RecordReader[Group] = _
  private var rowsLeft = 0L
  private val idxByName: Map[String, Int] =
    requested.getFields.asScala.zipWithIndex.map { case (f, i) => f.getName -> i }.toMap

  // initial-defaults converted to catalyst form once
  private val defaults: Array[Any] = plans.map {
    case (cf, w) if w.isEmpty || !idxByName.contains(w.get.name) =>
      cf.initialDefault.map(v => toCatalyst(v, cf.fieldType)).orNull
    case _ => null
  }

  private var current: Group = _

  override def next(): Boolean = {
    while (rowsLeft == 0) {
      val pages = reader.readNextRowGroup()
      if (pages == null) return false
      rows = columnIO.getRecordReader(pages, new GroupRecordConverter(requested))
      rowsLeft = pages.getRowCount
    }
    current = rows.read()
    rowsLeft -= 1
    true
  }

  override def get(): InternalRow = {
    val row = new GenericInternalRow(plans.length + extra.length)
    var i = 0
    while (i < plans.length) {
      val (cf, w) = plans(i)
      val v = w.flatMap(wf => idxByName.get(wf.name)) match {
        case Some(idx) =>
          if (current.getFieldRepetitionCount(idx) == 0) null
          else decode(current, idx, requested.getType(idx), cf.fieldType)
        case None => defaults(i)
      }
      row.update(i, v)
      i += 1
    }
    var j = 0
    while (j < extra.length) { row.update(plans.length + j, extra(j)); j += 1 }
    row
  }

  override def close(): Unit = reader.close()

  /** Decode one defined field value to its catalyst representation. The
    * PARQUET type (physical + logical annotation) drives interpretation;
    * the STREAM type drives the target width (int→long / float→double
    * promotion, decimal precision). */
  private def decode(g: Group, idx: Int, pt: PType, target: IType): Any = target match {
    case IList(_, elem, _) =>
      // Spark's standard 3-level list: group (LIST) { repeated group list
      // { optional elem element } }
      val outer = g.getGroup(idx, 0)
      val n = outer.getFieldRepetitionCount(0)
      val elemType = pt.asGroupType().getType(0).asGroupType().getType(0)
      val out = new Array[Any](n)
      var j = 0
      while (j < n) {
        val holder = outer.getGroup(0, j)
        out(j) =
          if (holder.getFieldRepetitionCount(0) == 0) null
          else decodePrimitive(holder, 0, 0, elemType, elem)
        j += 1
      }
      new GenericArrayData(out)
    case t => decodePrimitive(g, idx, 0, pt, t)
  }

  private def decodePrimitive(g: Group, idx: Int, rep: Int, pt: PType, target: IType): Any = {
    val prim = pt.asPrimitiveType().getPrimitiveTypeName
    target match {
      case IBoolean => g.getBoolean(idx, rep)
      case IInt => g.getInteger(idx, rep)
      case ILong =>
        if (prim == INT32) g.getInteger(idx, rep).toLong else g.getLong(idx, rep)
      case IFloat => g.getFloat(idx, rep)
      case IDouble =>
        if (prim == FLOAT) g.getFloat(idx, rep).toDouble else g.getDouble(idx, rep)
      case IDate => g.getInteger(idx, rep)
      case ITimestamp | ITimestampTz => prim match {
        case INT96 => int96Micros(g.getInt96(idx, rep).getBytes)
        case _ =>
          val raw = g.getLong(idx, rep)
          pt.asPrimitiveType().getLogicalTypeAnnotation match {
            case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => ts.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MILLIS => raw * 1000L
              case LogicalTypeAnnotation.TimeUnit.NANOS => raw / 1000L
              case _ => raw
            }
            case _ => raw // unannotated INT64: written as micros by this engine
          }
      }
      case IString => UTF8String.fromBytes(g.getBinary(idx, rep).getBytes)
      case IBinary => g.getBinary(idx, rep).getBytes
      case IDecimal(p, s) =>
        val unscaled = prim match {
          case INT32 => java.math.BigInteger.valueOf(g.getInteger(idx, rep).toLong)
          case INT64 => java.math.BigInteger.valueOf(g.getLong(idx, rep))
          case _ => new java.math.BigInteger(g.getBinary(idx, rep).getBytes)
        }
        org.apache.spark.sql.types.Decimal(new java.math.BigDecimal(unscaled, s), p, s)
      case other => throw new UnsupportedFeatureError(
        s"streaming V2 reader does not support type ${other.typeString}")
    }
  }

  /** INT96 (legacy parquet timestamp): 8 bytes little-endian nanos-of-day +
    * 4 bytes little-endian julian day → micros since epoch. */
  private def int96Micros(bytes: Array[Byte]): Long = {
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val nanosOfDay = bb.getLong
    val julianDay = bb.getInt
    (julianDay - 2440588L) * 86400000000L + nanosOfDay / 1000L
  }

  /** Initial-default literal (a plain JVM value from the schema JSON) to
    * catalyst form. */
  private def toCatalyst(v: Any, t: IType): Any = (v, t) match {
    case (null, _) => null
    case (s: String, IString) => UTF8String.fromString(s)
    case (n: Number, IInt) => n.intValue()
    case (n: Number, ILong) => n.longValue()
    case (n: Number, IFloat) => n.floatValue()
    case (n: Number, IDouble) => n.doubleValue()
    case (n: Number, IDate) => n.intValue()
    case (n: Number, ITimestamp | ITimestampTz) => n.longValue()
    case (b: Boolean, IBoolean) => b
    case (d, IDecimal(p, s)) =>
      org.apache.spark.sql.types.Decimal(new java.math.BigDecimal(d.toString), p, s)
    case (other, _) => other
  }
}
