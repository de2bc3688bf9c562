package graft.spark

import graft.UnsupportedFeatureError
import graft.table.{Table => GTable}
import graft.types.SparkSchemaConverter
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, SupportsWrite, TableCapability, Table => SparkTable}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsDynamicOverwrite, SupportsOverwrite, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.graftbridge.CatalystBridge
import org.apache.spark.sql.sources.{Filter, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/**
 * A graft table exposed through Spark's DSv2 connector API, so
 * `spark.sql("SELECT … FROM graft.ns.t")`, INSERT [OVERWRITE], DELETE and
 * TRUNCATE route natively through the session catalog (SURVEY.md §7.3's
 * sanctioned optional step; the wrapper-level [[graft.sql.GraftSql]] stays
 * as the reference-parity surface).
 *
 * A batch read is a [[GraftScan]]: its pushdown outcome (filters, pruned
 * columns, limit) becomes the graft table scan's own logical plan, which
 * [[GraftScanStrategy]] plans inside the caller's query. So everything the
 * native path does — manifest-level partition-transform + column-bounds
 * pruning from the pushed filters, distributed planning past 64 manifests,
 * MOR delete application, deletion vectors, schema-evolution field-id
 * projection — applies identically under SQL, and the parquet scan, delete
 * filter and the query's own operators share one physical plan.
 */
class GraftSparkTable(
    val graftTable: GTable,
    pinnedSnapshotId: Option[Long] = None,
    streamOptions: Map[String, String] = Map.empty)
  extends SparkTable with SupportsRead with SupportsWrite with SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** Iceberg-parity metadata columns: `SELECT _file, _pos, c FROM t`
    * surfaces each row's source data file and ordinal — the audit handle
    * for bad-file triage and position-delete debugging. A (pathological)
    * user column with the same name wins: the metadata column is hidden. */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    val taken = graftTable.currentSchema.fields.map(_.name).toSet
    Array(GraftSparkTable.FileColumn, GraftSparkTable.PosColumn)
      .filterNot(c => taken.contains(c.name))
  }

  override def name(): String = graftTable.ident.toString

  /** This table read at a fixed snapshot: its own pin, else the current one. */
  private[graft] def pinned: GraftSparkTable = new GraftSparkTable(graftTable,
    pinnedSnapshotId.orElse(graftTable.currentSnapshotId), streamOptions)

  /** A CDC provider load (`format("graft").option("read-changes", true)`
    * with a path, or with warehouse+table) resolves with the
    * change-metadata columns appended, so the stream's rows type-check
    * against the relation. Such an instance only ever backs that streaming
    * read. */
  private val readsChanges = streamOptions.get("read-changes").exists(_.toBoolean)

  override def schema(): StructType = SparkSchemaConverter.toSpark(
    if (readsChanges) GraftMicroBatchStream.cdcSchema(graftTable.currentSchema)
    else graftTable.currentSchema)

  override def capabilities(): java.util.Set[TableCapability] = {
    // BATCH_WRITE rides alongside V1_BATCH_WRITE only to satisfy the
    // dynamic-overwrite capability check; the physical plan still picks
    // the V1 exec whenever build() returns a V1Write (append/truncate/
    // filter overwrite), and the V2 exec for the dynamic-overwrite Write.
    // Every streaming write (toTable, or format("graft") with
    // warehouse+table) is the epoch write; a table with no catalog to
    // commit through fails there with a typed error
    val caps = java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC, TableCapability.STREAMING_WRITE)
    // micro-batch streaming, whatever the schema, whenever the table can
    // re-resolve per trigger: by path (format("graft").load(dir)) or
    // through its own catalog (format("graft") with warehouse+table, or
    // spark.readStream.table("cat.db.t")). It is the one stream source:
    // without this capability readStream fails at once
    if (streamOptions.contains("path") || graftTable.catalog.isDefined)
      caps.add(TableCapability.MICRO_BATCH_READ)
    caps
  }

  override def partitioning(): Array[Transform] =
    TransformBridge.toSparkTransforms(
      graftTable.defaultPartitionSpec, graftTable.currentSchema)

  override def properties(): java.util.Map[String, String] =
    graftTable.properties.asJava

  // ---------------------------------------------------------------- read

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    GraftScanStrategy.install(SparkSession.active)
    new ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
        with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
        with org.apache.spark.sql.connector.read.SupportsPushDownLimit {
      private var pushed: Array[Filter] = Array.empty
      private var required: StructType = schema()
      private var aggResult: Option[(StructType, Seq[Any])] = None
      // a DECLINED aggregate must not re-run the manifest walk when Spark
      // probes both supportCompletePushDown and pushAggregation
      private var aggTried = false
      // the tasks the aggregate planned: the scan of a declined aggregate
      // reads them rather than planning the snapshot again
      private var planned: Option[Seq[graft.table.FileScanTask]] = None
      private var limitHint: Option[Int] = None

      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        // filters over metadata columns (_file/_pos) stay Spark-side: they
        // are not in the data schema the pushed-filter machinery prunes on
        val dataCols = schema().fieldNames.toSet
        val (ok, residual) = filters.partition(f =>
          FilterBridge.toColumn(f).isDefined && f.references.forall(dataCols.contains))
        pushed = ok
        residual
      }

      // LIMIT as a planning hint: partial-only (Spark keeps its own Limit
      // on top — made explicit below, not left to the interface default),
      // and an unfiltered LIMIT n plans only enough files to cover n rows.
      // With filters pushed the hint is useless (a filtered file's yield
      // is unknowable), so decline and keep EXPLAIN honest.
      override def pushLimit(n: Int): Boolean =
        if (pushed.nonEmpty) false else { limitHint = Some(n); true }
      override def isPartiallyPushed(): Boolean = true
      override def pushedFilters(): Array[Filter] = pushed
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema

      // Metadata-only aggregates: COUNT(*) / COUNT(col) / MIN / MAX over
      // the whole table are answered from manifest record counts, null
      // counts and column bounds — zero data files read on a 100 TB table.
      // Declined (scan proceeds normally) whenever exactness is not
      // provable: filters present, group-by, delete files in any task, a
      // file missing the needed stat, or a type whose bound ordering
      // differs from Spark's.
      private def tryAggregation(agg: aggregate.Aggregation): Boolean = {
        if (!aggTried) {
          aggTried = true
          aggResult = MetadataAggregates.compute(graftTable, pushed, agg, {
            val tasks = graftTable.scan(pinnedSnapshotId).planFilesDistributed(SparkSession.active)
            planned = Some(tasks)
            tasks
          })
        }
        aggResult.isDefined
      }
      override def supportCompletePushDown(agg: aggregate.Aggregation): Boolean =
        tryAggregation(agg)
      override def pushAggregation(agg: aggregate.Aggregation): Boolean =
        tryAggregation(agg)

      override def build(): Scan = aggResult match {
        case Some((aggSchema, values)) =>
          new GraftMetadataAggScan(graftTable, aggSchema, values)
        case None =>
          // per-scan options (readStream.table(...).option(...) arrives
          // here, not at table resolution) overlay the table-level ones
          val scanOpts = {
            val b = Map.newBuilder[String, String]
            options.asCaseSensitiveMap().forEach((k, v) => b += (k.toLowerCase -> v))
            b.result()
          }
          new GraftScan(graftTable, pinnedSnapshotId, pushed, required,
            limitHint, streamOptions ++ scanOpts, planned, readsChanges)
      }
    }
  }

  // --------------------------------------------------------------- write

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    if (pinnedSnapshotId.isDefined)
      throw new UnsupportedFeatureError("cannot write to a time-travel table")
    // SupportsStreamingUpdateAsAppend is advertised ONLY with merge-keys:
    // then Update output mode reaches the sink as per-epoch appends and
    // each epoch UPSERTS — exactly update mode's "changed rows per
    // trigger" contract. Without merge-keys, update-as-append would
    // silently accumulate stale versions, so Spark's own rejection stands.
    if (info.options.containsKey("merge-keys"))
      new GraftWriteBuilder(info)
        with org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend
    else new GraftWriteBuilder(info)
  }

  private class GraftWriteBuilder(info: LogicalWriteInfo)
      extends WriteBuilder with SupportsOverwrite with SupportsDynamicOverwrite {
      private var overwriteAll = false
      private var overwriteFilters: Option[Array[Filter]] = None
      private var dynamic = false
      override def truncate(): WriteBuilder = { overwriteAll = true; this }
      /** Dynamic-partition overwrite has no V1 fallback exec in Spark, so
        * it is the one batch path on the executor-side V2 writer. */
      override def overwriteDynamicPartitions(): WriteBuilder = { dynamic = true; this }
      /** Filter-scoped overwrite (static-mode `INSERT OVERWRITE …
        * PARTITION (p=v)` and `DataFrameWriterV2.overwrite(cond)`):
        * accepted whenever every filter maps to a [[graft.table.ScanPredicate]]
        * — then [[GTable.overwriteWhere]] replaces exactly the matching rows
        * in ONE atomic snapshot, dropping fully-matched files from metadata
        * alone. Inexpressible conditions are rejected at analysis. */
      override def canOverwrite(filters: Array[Filter]): Boolean =
        FilterBridge.isDeleteAll(filters) ||
          filters.forall(f => FilterBridge.toPredicate(f).isDefined)
      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        overwriteFilters = Some(filters); this
      }
      override def build(): Write =
        if (dynamic) new GraftDynamicOverwriteWrite(graftTable, info.schema())
        else if (info.options.containsKey("merge-keys")) {
          // the upsert write is returned DIRECTLY (not V1Write-wrapped):
          // V2Writes.prepareQuery reads RequiresDistributionAndOrdering
          // off the Write that build() returns — a wrapper would make the
          // strict key clustering the NULL/duplicate-key checks rely on
          // silently inert. (Batch writes with this option fail loudly in
          // toBatch; merge-keys is a streaming-only option.)
          if (graftTable.catalog.isEmpty)
            throw new UnsupportedFeatureError(
              "streaming writes need a catalog-backed table (per-epoch commits)")
          if (overwriteAll)
            throw new UnsupportedFeatureError(
              "merge-keys upsert needs Append or Update output mode; " +
                "Complete mode already replaces the table each epoch")
          val mergeKeys = info.options.get("merge-keys")
            .split(',').map(_.trim).filter(_.nonEmpty).toSeq
          new GraftStreamingUpsertWrite(graftTable, info.schema(),
            info.queryId(), mergeKeys,
            Option(info.options.get("branch")).getOrElse("main"))
        }
        else new V1Write {
          override def toInsertableRelation: InsertableRelation =
            new InsertableRelation {
              override def insert(data: DataFrame, overwrite: Boolean): Unit = {
                val t = graftTable.refresh()
                overwriteFilters match {
                  case Some(fs) if !FilterBridge.isDeleteAll(fs) =>
                    t.overwriteWhere(SparkSession.active,
                      fs.flatMap(FilterBridge.toPredicate).toSeq, data)
                  case Some(_) => t.overwrite(data)
                  case None =>
                    if (overwriteAll || overwrite) t.overwrite(data) else t.append(data)
                }
              }
            }

          /** A streaming write (`toTable`, or `format("graft")` with
            * warehouse+table): Append mode arrives plain, Complete mode
            * arrives through truncate() (replace-per-epoch). Merge-keys
            * upserts never reach here — build() returns
            * [[GraftStreamingUpsertWrite]] directly so its distribution
            * requirement is visible to the planner. Note the V1Write
            * wrapper hides [[GraftStreamingWrite]]'s own (best-effort)
            * clustering request from V2Writes.prepareQuery — harmless for
            * plain appends: the fanout writer is correct under any
            * distribution, and per-epoch file count stays bounded by
            * tasks × touched partitions of one epoch. */
          override def toStreaming
              : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
            if (graftTable.catalog.isEmpty)
              throw new UnsupportedFeatureError(
                "streaming writes need a catalog-backed table (per-epoch commits)")
            new GraftStreamingWrite(graftTable, info.schema(), info.queryId(),
              replaceEachEpoch = overwriteAll,
              branch = Option(info.options.get("branch")).getOrElse("main"))
          }
        }
  }

  // -------------------------------------------------------------- delete

  /** SQL DELETE routes here only when every conjunct is expressible as a
    * [[graft.table.ScanPredicate]] — and then it is a REAL row-level
    * copy-on-write (or MOR, per table property) delete, not just a
    * metadata drop: graft's delete rewrites (or position-deletes) exactly
    * the matching rows. Inexpressible conditions (OR, functions) are
    * rejected by Spark with a clear error. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    FilterBridge.isDeleteAll(filters) ||
      filters.forall(f => FilterBridge.toPredicate(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    if (FilterBridge.isDeleteAll(filters)) { truncateTable(); return }
    val preds = filters.flatMap(FilterBridge.toPredicate).toSeq
    graftTable.refresh().delete(SparkSession.active, preds)
  }

  override def truncateTable(): Boolean = {
    val spark = SparkSession.active
    val empty = spark.createDataFrame(
      new java.util.ArrayList[Row](), schema())
    graftTable.refresh().overwrite(empty)
    true
  }
}

/** A snapshot-pinned graft read; one instance per (pushdown, pruning)
  * outcome. `readSchema` is the pruned schema — Spark plans on it — and
  * [[plan]] is the table scan's logical plan for exactly that outcome,
  * which [[GraftScanStrategy]] plans inside the caller's query.
  *
  * Reports REAL statistics from manifest planning (post-pruning file
  * bytes + record counts), so Catalyst's join sizing sees the true scan
  * size: a dimension-sized graft table auto-broadcasts in SQL joins
  * instead of defaulting to `spark.sql.defaultSizeInBytes` (= "huge",
  * = sort-merge-join everything). Planning runs once, lazily, only when
  * the optimizer asks — and it is the same manifest planning the scan
  * itself needs, distributed past 64 manifests. */
private[spark] class GraftScan(
    gt: GTable,
    snapshotId: Option[Long],
    pushed: Array[Filter],
    required: StructType,
    limitHint: Option[Int] = None,
    streamOptions: Map[String, String] = Map.empty,
    planned: Option[Seq[graft.table.FileScanTask]] = None,
    changeColumns: Boolean = false)
  extends GraftPlannedScan with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  /** Micro-batch streaming entry (MicroBatchExecution builds this scan with
    * no pushdown calls, so `required` is the full schema here). The stream
    * schema pins to the table's schema at query start. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    // a batch-resolution pin (VERSION AS OF / TIMESTAMP AS OF) cannot
    // stream — EXCEPT the branch option's pin: the stream re-resolves the
    // live branch per trigger and ignores the batch-time snapshot
    if (snapshotId.isDefined && !streamOptions.contains("branch"))
      throw new UnsupportedFeatureError(
        "cannot stream a time-travel table: a pinned snapshot has no commit " +
          "sequence to consume; use starting-snapshot-id or branch")
    // the change columns join the schema when the table resolves; a
    // catalog table (readStream.table) has resolved before the scan's
    // options arrive
    val cdc = streamOptions.get("read-changes").exists(_.toBoolean)
    if (cdc && !changeColumns)
      throw new UnsupportedFeatureError(
        "CDC streaming (read-changes) needs the option at table resolution: " +
          "spark.readStream.format(\"graft\").option(\"read-changes\", \"true\").load(dir), " +
          "or with warehouse and table options")
    def streamSchema(s: graft.types.Schema): graft.types.Schema =
      if (cdc) GraftMicroBatchStream.cdcSchema(s) else s
    streamOptions.get("path") match {
      case Some(dir) =>
        GraftMicroBatchStream.forPath(dir, streamOptions, streamSchema(gt.currentSchema))
      case None if gt.catalog.isDefined =>
        GraftMicroBatchStream.forCatalogTable(gt, streamOptions, streamSchema(gt.currentSchema))
      case None => throw new UnsupportedFeatureError(
        "streaming read requires a path-resolved table " +
          "(readStream.format(\"graft\").load(dir)) or a catalog table " +
          "(spark.readStream.table(\"cat.db.t\"))")
    }
  }

  /** The graft scan, pinned once; pruning predicates reach its manifest
    * planning. ONE planning pass (distributed past 64 manifests) is shared
    * by statistics, the limit prefix, and the actual read: `planned`, when
    * a declined metadata aggregate already ran it. */
  private val graftScan =
    gt.scan(snapshotId, pushed.flatMap(FilterBridge.toPredicate).toSeq)
  private lazy val plannedTasks =
    planned.getOrElse(graftScan.planFilesDistributed(SparkSession.active))

  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong = {
        val total = plannedTasks.map(_.file.fileSizeInBytes).sum
        // column pruning reads a fraction of each file; scale like Spark's
        // own FileScan (ratio of default sizes), so a 2-column projection
        // of a wide fact table doesn't block a broadcast it deserves
        val fullSchema = SparkSchemaConverter.toSpark(gt.currentSchema)
        val fullSize = math.max(1L, fullSchema.defaultSize.toLong)
        val ratio = math.min(1.0, required.defaultSize.toDouble / fullSize)
        java.util.OptionalLong.of(math.max(1L, (total * ratio).toLong))
      }
      // exact only when no delete files apply; else let Spark estimate
      override def numRows(): java.util.OptionalLong =
        if (plannedTasks.forall(_.deleteFiles.isEmpty))
          java.util.OptionalLong.of(plannedTasks.map(_.recordCount).sum)
        else java.util.OptionalLong.empty()
      // ANALYZE-written NDVs (Table.analyze) surface as DSv2 column
      // statistics — the ndv property is read straight off the committed
      // blob metadata, no Puffin IO at plan time. CBO join estimation
      // sees real distinct counts.
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
        val snap = snapshotId.orElse(gt.currentSnapshot.map(_.snapshotId))
        val out = new java.util.HashMap[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
        for {
          sid <- snap.toSeq
          sf <- gt.statisticsForSnapshot(sid)
          bm <- sf.blobMetadata
          fields = bm.getOrElse("fields", Seq.empty[Int]).asInstanceOf[Seq[Int]]
          if fields.size == 1
          props = bm.getOrElse("properties", Map.empty[String, String])
            .asInstanceOf[Map[String, String]]
          ndv <- props.get("ndv").flatMap(s => scala.util.Try(s.toLong).toOption)
          name <- gt.currentSchema.fields.find(_.id == fields.head).map(_.name)
          if required.fieldNames.contains(name)
        } out.put(
          org.apache.spark.sql.connector.expressions.Expressions.column(name),
          new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
            override def distinctCount(): java.util.OptionalLong =
              java.util.OptionalLong.of(ndv)
          })
        out
      }
    }

  override def readSchema(): StructType = required

  /** The table scan's plan over the planned tasks, analysed once: the
    * pushed filters re-applied row-level inside each file's read
    * (manifest pruning is only conservative, and this reaches parquet
    * row-group pushdown), or for an unfiltered LIMIT only a file prefix.
    * The metadata columns ride the positions channel (`__file`/`__pos`). */
  override lazy val plan: LogicalPlan = {
    val spark = SparkSession.active
    val (tasks, filter) = limitPrefix(plannedTasks) match {
      case Some(picked) => (picked, None)
      case None => (plannedTasks, pushed.flatMap(FilterBridge.toColumn).reduceOption(_ && _))
    }
    val metadata = Set("_file", "_pos")
    val positions = required.fieldNames.exists(metadata)
    val read = graftScan.readPlan(spark, tasks, withPositions = positions, filter = filter,
      columns = Some(required.fieldNames.filterNot(metadata).toSeq), label = description())
    val ordered =
      if (!positions) read
      else Project(required.fieldNames.toSeq.map { n =>
        val name = if (metadata(n)) "_" + n else n
        read.output.find(_.name == name).get
      }, read)
    CatalystBridge.analyzed(spark, ordered)
  }

  /** Unfiltered LIMIT n: only a file prefix covering n rows. Safe exactly
    * when every PICKED file's rows are all live: the builder already
    * declined the hint under filters, and a prefix file carrying delete
    * files falls back (files beyond the prefix with deletes don't matter —
    * they are not read). Spark's own Limit stays on top either way. */
  private def limitPrefix(tasks: Seq[graft.table.FileScanTask]): Option[Seq[graft.table.FileScanTask]] = {
    val n = limitHint.getOrElse(return None)
    if (pushed.nonEmpty) return None
    var covered = 0L
    val picked = tasks.takeWhile { t =>
      val need = covered < n; covered += t.recordCount; need }
    if (picked.exists(_.deleteFiles.nonEmpty)) None else Some(picked)
  }

  override def description(): String =
    s"${graftScan.description} pushed=${pushed.mkString(",")}" +
      limitHint.map(n => s" limit=$n").getOrElse("")
}

object GraftSparkTable {
  import org.apache.spark.sql.connector.catalog.MetadataColumn
  import org.apache.spark.sql.types.{DataType, LongType, StringType}

  private val FileColumn: MetadataColumn = new MetadataColumn {
    override def name(): String = "_file"
    override def dataType(): DataType = StringType
    override def isNullable: Boolean = false
    override def comment(): String = "manifest-form path of the row's data file"
  }
  private val PosColumn: MetadataColumn = new MetadataColumn {
    override def name(): String = "_pos"
    override def dataType(): DataType = LongType
    override def isNullable: Boolean = false
    override def comment(): String = "row ordinal within the data file"
  }
}

/** Read-only DSv2 wrapper for the metadata tables (`t.snapshots`,
  * `t.history`, `t.refs`, `t.manifests`, `t.files`, `t.partitions`) —
  * `SELECT * FROM graft.ns.t.snapshots` mirrors the programmatic
  * [[GTable.snapshotsDF]] family. */
private[spark] class GraftMetadataSparkTable(
    tableName: String,
    load: SparkSession => DataFrame) extends SparkTable with SupportsRead {

  /** The frame, built once per resolved table: its schema and its scan
    * read the same build, so one query refreshes the table and, for
    * `files`, walks the manifests once. */
  private lazy val frame = load(SparkSession.active)

  override def name(): String = tableName
  override def schema(): StructType = frame.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    GraftScanStrategy.install(SparkSession.active)
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: StructType = schema()
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan = {
        val req = required
        new GraftPlannedScan {
          override def readSchema(): StructType = req
          override def description(): String = tableName
          // the metadata frame's own optimized plan, pruned to the read
          override lazy val plan: LogicalPlan = {
            val df = frame
            CatalystBridge.optimized(
              if (req.isEmpty) df.select()
              else df.select(req.fieldNames.toIndexedSeq.map(df(_)): _*))
          }
        }
      }
    }
  }
}

/** A staged (unpublished) table for atomic CREATE/REPLACE TABLE AS SELECT:
  * reads and writes behave exactly like the live table (same DSv2 surface
  * over the staged graft [[GTable]]), and Spark drives the outcome through
  * the two staged hooks. */
private[spark] final class GraftStagedTable(
    gt: GTable,
    doCommit: () => Unit,
    doAbort: () => Unit)
  extends GraftSparkTable(gt)
    with org.apache.spark.sql.connector.catalog.StagedTable {
  override def commitStagedChanges(): Unit = doCommit()
  override def abortStagedChanges(): Unit = doAbort()
}
