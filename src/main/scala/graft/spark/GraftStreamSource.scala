package graft.spark

import graft.UnsupportedFeatureError
import graft.table.{StaticTable, Table => GTable}
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.types.StructType

/**
 * Streaming SOURCE over a graft table: `spark.readStream.format("graft")
 * .load(tableDir)` consumes the table's commits as micro-batches — every
 * atomic snapshot is a natural offset, so the source is exactly-once by
 * construction (offsets are the table's own sequence numbers, replayable
 * from any checkpoint against the immutable snapshot log).
 *
 * Semantics: APPEND consumption. Each append commit contributes exactly
 * the files it added (per-commit manifest diff — O(commit), planned from
 * metadata, no data re-read). Non-append commits (overwrite, delete,
 * row-level DML) fail loudly by default — their row-level effect is not
 * expressible as appended rows; consume those via
 * [[graft.streaming.StreamingOps.changesBetween]] (CDC) instead. With
 * `skip-non-appends=true` they are skipped (compactions and other
 * rewrites add no NEW rows, so skipping them is exact for append-only
 * pipelines that also run maintenance).
 *
 * CDC mode (`read-changes=true`): every commit — appends, upserts, MOR
 * and COW deletes, compactions — arrives as row-level change records
 * with `_change_type` ('insert' | 'delete'), `_commit_snapshot_id` and
 * `_commit_sequence` columns (the [[graft.streaming.StreamingOps
 * .changesBetween]] shape), so a downstream can mirror the table
 * exactly. No commit shape ever errors in CDC mode.
 *
 * Options: `starting-snapshot-id` (consume strictly after the given
 * snapshot; default: from the beginning), `skip-non-appends`
 * (default false), `read-changes` (CDC mode, default false),
 * `branch` (consume the named ref's ancestry instead of main's — the
 * write-audit-publish audit consumer), `max-snapshots-per-trigger`
 * (bound how many commits a
 * micro-batch spans once the stream is flowing — a consumer catching up
 * on a long-lived table must not plan one giant batch; the very first
 * offer after a cold start is unbounded unless `starting-snapshot-id`
 * narrows it), `max-rows-per-trigger` (cap a batch by APPENDED ROWS at
 * commit granularity, from snapshot summaries — metadata only; commits
 * vary wildly in size, so a commit-count cap alone cannot bound batch
 * work), plus the same `hadoop.*` conf overlay batch reads take.
 * The table resolves per trigger through `metadata/version-hint`, so a
 * FS-visible (Hadoop-catalog) table is required.
 */
class GraftStreamSource(sqlContext: SQLContext, tableDir: String,
                        parameters: Map[String, String]) extends Source {

  private val conf: Configuration = GraftDataSource.hadoopConf(parameters)
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
  // highest sequence number already offered/consumed — the rate-limit base
  @volatile private var lastSeenSeq: Option[Long] = None

  private def loadTable(): GTable =
    StaticTable.load(GraftDataSource.metadataPathFor(tableDir, conf), conf)

  private val startSeq: Long = parameters.get("starting-snapshot-id") match {
    case None => Long.MinValue
    case Some(id) =>
      loadTable().snapshotById(id.toLong).getOrElse(
        throw new graft.InvalidDataError(s"no snapshot with id $id")).sequenceNumber
  }

  override val schema: StructType = {
    val base = graft.types.SparkSchemaConverter.toSpark(loadTable().currentSchema)
    if (readChanges) GraftStreamSource.withChangeColumns(base) else base
  }

  override def getOffset: Option[Offset] = {
    val t = loadTable()
    graft.streaming.StreamingOps.streamHead(t, branch).map { s =>
      val target = math.max(s.sequenceNumber, startSeq)
      // advance by at most max-snapshots-per-trigger COMMITS and
      // max-rows-per-trigger appended rows (sequence numbers may be sparse
      // — commits staged on OTHER refs consume numbers too, so both caps
      // count commits on the consumed ancestry only)
      val seen = lastSeenSeq.getOrElse(startSeq)
      val capped = graft.streaming.StreamingOps.cappedEndSeq(
        graft.streaming.StreamingOps.streamAncestry(t, branch),
        seen, target, maxSnapshotsPerTrigger, maxRowsPerTrigger)
      lastSeenSeq = Some(capped)
      LongOffset(capped)
    }
  }

  private def seqOf(o: Offset): Long = o.json.toLong

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val t = loadTable()
    val fromSeq = start.map(seqOf).getOrElse(startSeq)
    val toSeq = seqOf(end)
    // restart replay: resume rate limiting from the checkpointed batch end
    if (lastSeenSeq.forall(_ < toSeq)) lastSeenSeq = Some(toSeq)
    // Only the consumed ref's published ancestry (main's, or `branch`'s):
    // commits staged on other refs share the table-global sequence-number
    // space, so a seq-range filter over ALL snapshots would stream
    // unpublished rows.
    val ancestry = graft.streaming.StreamingOps.streamAncestry(t, branch)
    // A checkpointed offset whose snapshot no longer exists means routine
    // maintenance (expireSnapshots) outran this consumer — the commits
    // between that offset and the oldest retained snapshot are GONE, and
    // resolving "from the beginning" instead would replay the whole table
    // as duplicates into a sink that believes this source is exactly-once.
    // Loud failure is the only correct answer (Iceberg's changelog reads
    // error the same way).
    if (fromSeq > Long.MinValue && !ancestry.exists(_.sequenceNumber == fromSeq))
      throw new graft.InvalidDataError(
        s"cannot resume streaming read of $tableDir: the snapshot at " +
          s"checkpointed offset (sequence $fromSeq) has expired or is not on " +
          "main; restart from a fresh checkpoint (or starting-snapshot-id)")
    val snaps = ancestry
      .filter(s => s.sequenceNumber > fromSeq && s.sequenceNumber <= toSeq)
    val spark = sqlContext.sparkSession
    if (readChanges) {
      // CDC: row-level changes over the commit range, any commit shape
      val batch =
        if (snaps.isEmpty)
          spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
        else {
          val fromId =
            if (fromSeq == Long.MinValue) None
            else ancestry.find(_.sequenceNumber == fromSeq).map(_.snapshotId)
          graft.streaming.StreamingOps.changesBetween(
            spark, t, fromId, Some(snaps.last.snapshotId))
        }
      return org.apache.spark.sql.graftbridge.CatalystBridge
        .asStreamingDataFrame(spark, batch)
    }
    val addedTasks: Seq[graft.table.FileScanTask] = snaps.flatMap { s =>
      s.operation.getOrElse("append") match {
        case "append" =>
          // the commit's own manifests (addedSnapshotId == commit) name
          // exactly what it added — O(commit) planning, no parent walk
          t.scan(Some(s.snapshotId)).addedFiles()
        case other if skipNonAppends => Nil
        case other => throw new UnsupportedFeatureError(
          s"streaming read hit a non-append commit (operation=$other, snapshot " +
            s"${s.snapshotId}); consume row-level changes via StreamingOps.changesBetween " +
            "(CDC), or set skip-non-appends=true to stream appended rows only")
      }
    }
    val batch =
      if (addedTasks.isEmpty)
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      else
        // the table's own materialization: field-ID projection per writer
        // schema, so a column renamed between commits still reads its data
        // (plain spark.read.parquet would name-bind it to null); the final
        // select pins the stream's fixed schema (columns added to the
        // table mid-stream don't widen a running query)
        t.scan().materializeTasks(spark, addedTasks)
          .select(schema.fieldNames.toIndexedSeq.map(org.apache.spark.sql.functions.col): _*)
    org.apache.spark.sql.graftbridge.CatalystBridge.asStreamingDataFrame(spark, batch)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def toString: String = s"GraftStreamSource($tableDir)"
}

object GraftStreamSource {
  /** The CDC read shape: the table columns plus the change metadata
    * columns [[graft.streaming.StreamingOps.changesBetween]] appends. */
  private[spark] def withChangeColumns(base: StructType): StructType =
    StructType(base.fields ++ Seq(
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("_commit_snapshot_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("_commit_sequence",
        org.apache.spark.sql.types.LongType, nullable = false)))
}
