package graft.table

import graft._
import graft.catalog.{Catalog, TableIdent}
import graft.manifest.{ManifestEntry, ManifestFile, Manifests}
import graft.meta._
import graft.types.Schema
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/**
 * The central table object (ref `lib/iceberg/table.rb:2-182`,
 * `ext/iceberg/src/table.rs:38-341`): metadata accessors, snapshot-pinned
 * scans, and append-only writes committed through the catalog's optimistic
 * (CAS) protocol. A table without a catalog is read-only (StaticTable,
 * ref `lib/iceberg/table.rb:179-181`).
 */
final class Table(
    private[graft] val catalog: Option[Catalog],
    val ident: TableIdent,
    @volatile private var meta: TableMetadata,
    val hadoopConf: Configuration = new Configuration()) {

  def metadata: TableMetadata = meta

  /** Reload current metadata from the catalog (ref `table.rb:8-10`). */
  def refresh(): Table = {
    catalog.foreach(c => meta = c.currentMetadata(ident))
    this
  }

  // ------------------------------------------------ metadata accessors §2.4
  def formatVersion: Int = meta.formatVersion
  def uuid: String = meta.tableUuid
  def location: String = meta.location
  def lastSequenceNumber: Long = meta.lastSequenceNumber
  def nextSequenceNumber: Long = meta.nextSequenceNumber
  def lastColumnId: Int = meta.lastColumnId
  def lastPartitionId: Int = meta.lastPartitionId
  def lastUpdatedMs: Long = meta.lastUpdatedMs
  def lastUpdatedAt: java.time.Instant = java.time.Instant.ofEpochMilli(meta.lastUpdatedMs)
  def schemas: Seq[Schema] = meta.schemas
  def schemaById(id: Int): Option[Schema] = meta.schemaById(id)
  def currentSchema: Schema = meta.currentSchema
  def schema: Schema = currentSchema
  def currentSchemaId: Int = meta.currentSchemaId
  def partitionSpecs: Seq[PartitionSpec] = meta.partitionSpecs
  def partitionSpecById(id: Int): Option[PartitionSpec] = meta.partitionSpecById(id)
  def defaultPartitionSpec: PartitionSpec = meta.defaultPartitionSpec
  def defaultPartitionSpecId: Int = meta.defaultSpecId
  def snapshots: Seq[Snapshot] = meta.snapshots
  def snapshotById(id: Long): Option[Snapshot] = meta.snapshotById(id)
  def snapshotForRef(ref: String): Option[Snapshot] = meta.snapshotForRef(ref)
  def currentSnapshot: Option[Snapshot] = meta.currentSnapshot
  def currentSnapshotId: Option[Long] = meta.currentSnapshotId
  def history: Seq[SnapshotLogEntry] = meta.history
  def metadataLog: Seq[MetadataLogEntry] = meta.metadataLog
  def sortOrders: Seq[SortOrder] = meta.sortOrders
  def sortOrderById(id: Int): Option[SortOrder] = meta.sortOrderById(id)
  def defaultSortOrder: SortOrder = meta.defaultSortOrder
  def defaultSortOrderId: Int = meta.defaultSortOrderId
  def properties: Map[String, String] = meta.properties
  def statistics: Seq[StatisticsFile] = meta.statistics
  def partitionStatistics: Seq[PartitionStatisticsFile] = meta.partitionStatistics
  def statisticsForSnapshot(id: Long): Seq[StatisticsFile] = meta.statisticsForSnapshot(id)
  def partitionStatisticsForSnapshot(id: Long): Seq[PartitionStatisticsFile] =
    meta.partitionStatisticsForSnapshot(id)
  def encryptionKeys: Seq[EncryptedKey] = meta.encryptionKeys
  def encryptionKey(id: String): Option[EncryptedKey] = meta.encryptionKeys.find(_.keyId == id)
  def nextRowId: Long = meta.nextRowId

  // ------------------------------------------------------------- read path

  /** Snapshot-pinned scan (time travel via `snapshotId`). */
  def scan(snapshotId: Option[Long] = None,
           predicates: Seq[ScanPredicate] = Nil): TableScan = {
    val snap = snapshotId match {
      case Some(id) => Some(meta.snapshotById(id).getOrElse(
        throw new InvalidDataError(s"no snapshot with id $id")))
      case None => meta.currentSnapshot
    }
    new TableScan(this, snap, predicates)
  }

  def toDF(spark: SparkSession, snapshotId: Option[Long] = None): DataFrame =
    scan(snapshotId).toDF(spark)

  /** Snapshot in effect at `timestampMs` (latest snapshot-log entry at or
    * before it), for timestamp time travel — the log, not the snapshot
    * list, is authoritative: a rollback re-logs an old snapshot id, and
    * "as of T" must see what a reader AT time T saw. */
  def snapshotAsOf(timestampMs: Long): Option[Snapshot] =
    meta.snapshotLog.filter(_.timestampMs <= timestampMs)
      .sortBy(_.timestampMs).lastOption
      .flatMap(e => meta.snapshotById(e.snapshotId))

  /** Timestamp time travel: scan pinned to [[snapshotAsOf]]. */
  def scanAsOf(timestampMs: Long,
               predicates: Seq[ScanPredicate] = Nil): TableScan = {
    val snap = snapshotAsOf(timestampMs).getOrElse(
      throw new InvalidDataError(
        s"no snapshot at or before timestamp $timestampMs"))
    new TableScan(this, Some(snap), predicates)
  }

  /** `table.to_a` — all rows as column→value maps. */
  def toA(spark: SparkSession): Seq[Map[String, Any]] =
    scan().collect(spark).toA

  // ------------------------------------- metadata tables (SQL-queryable)
  def snapshotsDF(spark: SparkSession): DataFrame = MetadataTables.snapshots(spark, this)
  def historyDF(spark: SparkSession): DataFrame = MetadataTables.history(spark, this)
  def manifestsDF(spark: SparkSession): DataFrame = MetadataTables.manifests(spark, this)
  def filesDF(spark: SparkSession): DataFrame = MetadataTables.files(spark, this)
  def refsDF(spark: SparkSession): DataFrame = MetadataTables.refs(spark, this)
  def partitionsDF(spark: SparkSession): DataFrame = MetadataTables.partitions(spark, this)
  def entriesDF(spark: SparkSession): DataFrame = MetadataTables.entries(spark, this)
  def allManifestsDF(spark: SparkSession): DataFrame = MetadataTables.allManifests(spark, this)
  def allFilesDF(spark: SparkSession): DataFrame = MetadataTables.allFiles(spark, this)
  def metadataLogEntriesDF(spark: SparkSession): DataFrame = MetadataTables.metadataLogEntries(spark, this)
  def statisticsDF(spark: SparkSession): DataFrame = MetadataTables.statisticsTable(spark, this)
  def partitionStatisticsDF(spark: SparkSession): DataFrame = MetadataTables.partitionStatisticsTable(spark, this)

  // ------------------------------------------------------------ write path

  /** Append a DataFrame (ref `table.rb:161-166` / `table.rs:62-125`):
    * name-bind + cast to the table schema, write Parquet data files under a
    * fresh per-commit directory, then fast-append commit with retry. */
  def append(df: DataFrame): Unit = append(df, Map.empty[String, String])

  /** Append with extra snapshot-summary entries (e.g. a streaming batch id
    * for exactly-once sink bookkeeping). */
  def append(df: DataFrame, extraSummary: Map[String, String]): Unit =
    appendToBranch("main", df, extraSummary)

  /** Append row hashes with the reference's per-type coercion rules. */
  def append(rows: Seq[Map[String, Any]], spark: SparkSession): Unit =
    append(AppendUtil.rowsToDF(spark, rows, meta.currentSchema))

  /**
   * Write-audit-publish (WAP) write side: append onto a named BRANCH
   * without touching `main` — the branch forks from main's head on its
   * first write and advances independently; readers of the table see
   * nothing until [[fastForward]] publishes the branch. Validate with
   * `scanRef(branch)` between the two.
   */
  def appendToBranch(branch: String, df: DataFrame,
                     extraSummary: Map[String, String] = Map.empty): Unit = {
    require(branch.nonEmpty, "branch name required")
    writable()
    val commitUuid = java.util.UUID.randomUUID().toString
    val files = writeDataFiles(AppendUtil.align(df, meta.currentSchema), commitUuid)
    if (files.nonEmpty) commitAppend(files, commitUuid, extraSummary, toBranch = branch)
  }

  /**
   * Write-audit-publish publish side: move ref `name` to ref `from`'s
   * head, only if `name`'s current head is an ancestor of it (a pure
   * fast-forward — divergent histories are rejected, there is no merge).
   * Fast-forwarding `main` is the atomic publish: one metadata CAS makes
   * every audited branch commit visible to plain readers at once.
   */
  def fastForward(name: String, from: String): Unit = commitMetadata { base =>
    val target = base.snapshotForRef(from).getOrElse(
      throw new InvalidDataError(s"no ref named '$from'"))
    base.refs.get(name).foreach { r =>
      if (r.refType == "tag")
        throw new InvalidDataError(s"cannot fast-forward tag '$name' (tags are immutable)")
    }
    val currentHead = base.snapshotForRef(name)
    if (currentHead.exists(_.snapshotId == target.snapshotId)) None // no-op
    else {
      currentHead.foreach { h =>
        var cur: Option[Snapshot] = Some(target)
        var found = false
        while (cur.isDefined && !found) {
          if (cur.get.snapshotId == h.snapshotId) found = true
          else cur = cur.get.parentSnapshotId.flatMap(base.snapshotById)
        }
        if (!found) throw new InvalidDataError(
          s"'$name' is not an ancestor of '$from': not a fast-forward (histories diverged)")
      }
      val now = System.currentTimeMillis()
      val moved = base.copy(lastUpdatedMs = now,
        refs = base.refs.updated(name, SnapshotRef(target.snapshotId, "branch")))
      Some(
        if (name == "main")
          moved.copy(
            currentSnapshotId = Some(target.snapshotId),
            snapshotLog = base.snapshotLog :+ SnapshotLogEntry(now, target.snapshotId))
        else moved)
    }
  }

  /**
   * Apply a snapshot's APPEND as a fresh commit on a branch head —
   * Iceberg's cherry-pick: the publish half of snapshot-level
   * write-audit-publish, and the escape hatch when a staged branch commit
   * can no longer [[fastForward]] because the branch moved on underneath
   * it. Only append snapshots are eligible (an overwrite/delete's removed
   * set may have been rewritten since it was staged; Iceberg rejects those
   * for the same reason). The new commit records its origin in
   * `source-snapshot-id`; picking a snapshot already in the branch's
   * ancestry is a no-op. O(commit): only the manifests the source commit
   * itself wrote are read ([[TableScan.addedFiles]]), and the re-commit is
   * a fast-append.
   */
  def cherrypickSnapshot(sourceSnapshotId: Long, toBranch: String = "main"): Unit = {
    refresh()
    val src = meta.snapshotById(sourceSnapshotId).getOrElse(
      throw new InvalidDataError(s"no snapshot with id $sourceSnapshotId"))
    // already published if the snapshot itself — or a commit recording it
    // as its cherry-pick source — is in the branch's ancestry
    var cur = meta.snapshotForRef(toBranch)
    while (cur.isDefined) {
      if (cur.get.snapshotId == sourceSnapshotId ||
        cur.get.summary.get("source-snapshot-id").contains(sourceSnapshotId.toString))
        return
      cur = cur.get.parentSnapshotId.flatMap(meta.snapshotById)
    }
    val op = src.summary.getOrElse("operation", "")
    if (op != "append") throw new InvalidDataError(
      s"cannot cherry-pick snapshot $sourceSnapshotId: operation '$op' is not an append")
    // v3 row lineage: rows are new to this branch — ids re-assigned at commit
    val added = new TableScan(this, Some(src), Nil).addedFiles()
      .map(_.file.copy(firstRowId = None))
    // the source snapshot still references these files: never deleted here
    appendFiles(added, Map("source-snapshot-id" -> sourceSnapshotId.toString), toBranch,
      owned = false)
  }

  /**
   * Import existing Parquet files as table data WITHOUT rewriting them
   * (`add_files`): per-file footer stats become manifest entries and one
   * fast-append commit publishes them, so onboarding N TB of existing
   * parquet costs O(files) parallel footer reads — never a data copy.
   *
   * Constraints: partitioned targets must use identity transforms, and
   * every registered file must be PROVABLY single-valued on each
   * partition source (footer min == max, zero nulls) — the tuple is
   * derived from the file's own statistics, never from a directory
   * layout, so a mislabeled path cannot land rows in the wrong
   * partition. Columns shared with the table schema must match by name
   * AND Spark type exactly — the scan reads foreign files (which carry
   * no Iceberg field ids) through name binding with the declared schema,
   * where Parquet tolerates no implicit casts. Columns the files lack
   * read as null, like append.
   */
  def addFiles(spark: SparkSession, paths: Seq[String],
               extraSummary: Map[String, String] = Map.empty): Unit = {
    import scala.collection.parallel.CollectionConverters._
    writable()
    require(paths.nonEmpty, "addFiles requires at least one file path")
    // Partitioned targets: identity transforms only, and each file must be
    // PROVABLY single-valued on every partition source (footer min == max,
    // zero nulls) — the partition tuple is then derived from the file's
    // own statistics, so no trust is placed in foreign directory layouts
    // and a mislabeled file can never land in the wrong partition.
    val spec = meta.defaultPartitionSpec
    val specFieldById = meta.currentSchema.fields.map(f => f.id -> f).toMap
    val partSources: Seq[(graft.meta.PartitionField, graft.types.NestedField)] = spec.fields.map { pf =>
      if (pf.transform != "identity")
        throw new InvalidDataError(
          s"addFiles supports identity-partitioned tables only (field '${pf.name}' uses " +
            s"'${pf.transform}'; a foreign file carries no safe value for a derived tuple)")
      val src = specFieldById.getOrElse(pf.sourceId,
        throw new InvalidDataError(s"partition source id ${pf.sourceId} not in schema"))
      (pf, src)
    }
    val tableSpark = graft.types.SparkSchemaConverter.toSpark(meta.currentSchema)
    val fileSchema = spark.read.parquet(paths: _*).schema
    val tableByName = tableSpark.fields.map(f => f.name -> f.dataType).toMap
    for (f <- fileSchema.fields; want <- tableByName.get(f.name))
      if (f.dataType != want)
        throw new InvalidDataError(
          s"addFiles type mismatch on column '${f.name}': file has ${f.dataType.simpleString}, " +
            s"table expects ${want.simpleString} (Parquet name-binding allows no implicit cast)")
    val files = paths.par.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(hadoopConf)
      val stats = ParquetStats.read(hadoopConf, path)
      if (stats.recordCount == 0L) None
      else {
        val partition: Map[String, String] = partSources.map { case (pf, src) =>
          val lo = stats.lowerBounds.get(src.name)
          val hi = stats.upperBounds.get(src.name)
          val nulls = stats.nullCounts.getOrElse(src.name, 0L)
          if (lo.isEmpty || lo != hi || nulls > 0)
            throw new InvalidDataError(
              s"addFiles: $p is not single-valued on partition source '${src.name}' " +
                s"(bounds ${lo.orNull}..${hi.orNull}, $nulls nulls) — " +
                "each registered file must belong to exactly one partition")
          pf.name -> Table.partitionValueString(lo.get, src.fieldType, p)
        }.toMap
        Some(graft.manifest.DataFile(
          filePath = path.toString,
          fileFormat = "PARQUET",
          partition = partition,
          recordCount = stats.recordCount,
          fileSizeInBytes = fs.getFileStatus(path).getLen,
          lowerBounds = stats.lowerBounds,
          upperBounds = stats.upperBounds,
          nullCounts = stats.nullCounts))
      }
    }.seq
    // the caller's files: a failed commit must never delete them
    if (files.nonEmpty) commitAppend(files, java.util.UUID.randomUUID().toString,
      extraSummary + ("operation-detail" -> "add-files"), owned = false)
  }

  /**
   * DELETE (beyond the reference, which errors on SQL DELETE — `GraftSql`
   * keeps that parity; this is the programmatic path): rows matching ALL
   * `predicates` are removed. Mode comes from the `write.delete.mode`
   * table property (Iceberg's knob): "copy-on-write" (default) rewrites
   * affected data files; "merge-on-read" writes position-delete files —
   * see [[deleteCopyOnWrite]] / [[deleteMergeOnRead]] for the tradeoff.
   */
  def delete(spark: SparkSession, predicates: Seq[ScanPredicate],
             branch: String = "main"): Unit =
    meta.properties.get("write.delete.mode") match {
      case Some("merge-on-read") => deleteMergeOnRead(spark, predicates, branch)
      case Some(other) if other != "copy-on-write" =>
        throw new InvalidDataError(s"unknown write.delete.mode: $other")
      case _ => deleteCopyOnWrite(spark, predicates, branch)
    }

  /** Scan pinned to the head a `branch`-scoped DML plans against (the
    * branch ref, forking from main on a branch's first write). Pair of
    * [[branchParent]] — the same head the commit will parent at, so a
    * branch DML sees exactly the rows a branch reader sees. */
  private def dmlScan(branch: String, predicates: Seq[ScanPredicate]): TableScan =
    if (branch == "main") scan(None, predicates)
    else new TableScan(this, branchParent(meta, branch), predicates)

  /**
   * Copy-on-write DELETE: matching rows are removed by rewriting only the
   * data files that may contain them. Partition-transform + column-bounds
   * pruning bound the rewrite set, so a `day=`-scoped delete on a 100 TB
   * table rewrites one day, not the table. Untouched files are carried
   * into the new snapshot with their original sequence numbers (existing
   * MOR delete files keep applying to them); old snapshots still reference
   * the old files — time travel is unaffected. Best when deletes are rare
   * and scans are hot (scans stay anti-join-free).
   */
  def deleteCopyOnWrite(spark: SparkSession, predicates: Seq[ScanPredicate],
                        branch: String = "main"): Unit = {
    require(predicates.nonEmpty, "delete requires predicates; use overwrite to replace all")
    cowDelete(spark, predicates, None, branch)
  }

  /** COW delete over `predicates` AND an optional arbitrary SQL condition
    * (the [[deleteWhere]] shape). `predicates` bound the rewrite set via
    * pruning; the full condition decides the rows. */
  private def cowDelete(spark: SparkSession, predicates: Seq[ScanPredicate],
                        condition: Option[String], branch: String): Unit =
    commitWithRetry(replan = true) { base =>
      val affectedScan = dmlScan(branch, predicates)
      // one manifest pass yields both the rewrite set and the carried set
      val (affected, kept) = affectedScan.planFilesPartitioned()
      // DISCOVERY pass: bounds pruning is conservative (and with an
      // arbitrary condition there may be no prunable conjunct at all), so
      // find the files that PROVABLY hold a matching row first. The pass
      // reads only the predicate columns (column-pruned by Catalyst); the
      // rewrite then touches exactly those files — a `DELETE WHERE a OR b`
      // on a 100 TB table rewrites the matching files, never the table.
      val matchedFiles = cowMatchedFiles(spark, affectedScan, affected, condition)
      if (matchedFiles.isEmpty) None // nothing matches — no new snapshot
      else {
        val (rewriteSet, carried) = affected.partition(t => matchedFiles.contains(t.filePath))
        // rewrite matching files WITHOUT the matching rows (MOR deletes and
        // schema projection applied by the scan materialization)
        val rewritten = affectedScan.materializeTasks(spark, rewriteSet)
          .filter(!cowMatchAll(affectedScan, predicates, condition))
        val commitUuid = java.util.UUID.randomUUID().toString
        val newFiles = writeDataFiles(rewritten, commitUuid)
        Some(buildRewriteMetadata(base, kept ++ carried, rewriteSet, newFiles, commitUuid,
          keepParentDeleteManifests = true, toBranch = branch) -> newFiles)
      }
    }

  /** The files of `affected` holding at least one live row that matches
    * the scan's predicates AND `condition` — empty when `affected` is. */
  private def cowMatchedFiles(spark: SparkSession, affectedScan: TableScan,
                              affected: Seq[FileScanTask],
                              condition: Option[String]): Set[String] =
    if (affected.isEmpty) Set.empty
    else affectedScan
      .matchedRowsWithPositions(spark, affected,
        condition.map(org.apache.spark.sql.functions.expr))
      .select("__file").distinct()
      .collect().map(_.getString(0)).toSet

  /** Row-level match of `predicates` AND `condition`. */
  private def cowMatchAll(affectedScan: TableScan, predicates: Seq[ScanPredicate],
                          condition: Option[String]): Column =
    (predicates.map(affectedScan.predicateToColumn) ++
      condition.map(org.apache.spark.sql.functions.expr)).reduce(_ && _)

  /**
   * Merge-on-read DELETE: instead of rewriting affected data files, write
   * position-delete files listing the matching `(file_path, pos)` pairs
   * and commit one delete manifest. Write cost is O(matched rows) — a
   * selective delete on a 100 TB table writes kilobytes while copy-on-write
   * rewrites every affected gigabyte; scans pay one (usually broadcast)
   * anti-join until [[applyPendingDeletes]] or [[compact]] folds the
   * deletes back in. Already-deleted rows are never re-recorded (matching
   * runs on the live view).
   */
  def deleteMergeOnRead(spark: SparkSession, predicates: Seq[ScanPredicate],
                        branch: String = "main"): Unit = {
    require(predicates.nonEmpty, "delete requires predicates; use overwrite to replace all")
    morDelete(spark, predicates, None, branch)
  }

  /**
   * Row-level DELETE with an ARBITRARY boolean SQL condition (OR, LIKE,
   * functions — anything beyond [[ScanPredicate]]'s conjunctions).
   * Honors `write.delete.mode` exactly like [[delete]]: copy-on-write
   * (the default) rewrites the affected files without the matching rows;
   * merge-on-read writes position deletes (DVs on v3), O(matched rows).
   * `prunePredicates` is the optional prunable subset of the condition —
   * pass the conjuncts that ARE simple so manifest pruning still bounds
   * the scan; the full condition is (re-)applied row-level either way, so
   * over-pruning is impossible and the worst case is a full scan, never a
   * wrong answer.
   */
  def deleteWhere(spark: SparkSession, condition: String,
                  prunePredicates: Seq[ScanPredicate] = Nil,
                  branch: String = "main"): Unit = {
    require(condition.trim.nonEmpty, "deleteWhere requires a condition")
    meta.properties.get("write.delete.mode") match {
      case Some("merge-on-read") => morDelete(spark, prunePredicates, Some(condition), branch)
      case Some(other) if other != "copy-on-write" =>
        throw new InvalidDataError(s"unknown write.delete.mode: $other")
      case _ => cowDelete(spark, prunePredicates, Some(condition), branch)
    }
  }

  private def morDelete(spark: SparkSession, predicates: Seq[ScanPredicate],
                        condition: Option[String], branch: String): Unit =
    commitWithRetry(replan = true) { base =>
      val affectedScan = dmlScan(branch, predicates)
      val affected = affectedScan.planFiles()
      if (affected.isEmpty) None // nothing can match — no new snapshot
      else {
        val matched = affectedScan.matchedRowsWithPositions(spark, affected,
            condition.map(org.apache.spark.sql.functions.expr))
          .select(col("__file").as("file_path"), col("__pos").as("pos"))
        val commitUuid = java.util.UUID.randomUUID().toString
        val (delFiles, superseded, newHidden) =
          writeMorDeletes(matched, affected, commitUuid)
        // pruning kept files, but no live row matched
        if (delFiles.isEmpty) None
        else Some(buildMorDmlMetadata(base, delFiles, Nil, commitUuid, "delete",
          supersede = superseded, newPosRecords = newHidden, toBranch = branch) -> delFiles)
      }
    }

  /**
   * UPDATE: rows matching ALL `predicates` get `assignments` applied
   * (column name → SQL expression string over the current row). Mode from
   * the `write.update.mode` table property, like [[delete]].
   */
  def update(spark: SparkSession, predicates: Seq[ScanPredicate],
             assignments: Map[String, String], branch: String = "main"): Unit =
    meta.properties.get("write.update.mode") match {
      case Some("merge-on-read") => updateMergeOnRead(spark, predicates, assignments, branch)
      case Some(other) if other != "copy-on-write" =>
        throw new InvalidDataError(s"unknown write.update.mode: $other")
      case _ => updateCopyOnWrite(spark, predicates, assignments, branch)
    }

  /**
   * Copy-on-write UPDATE: non-matching rows in affected files are
   * rewritten verbatim, and files that cannot contain matches are never
   * touched (same pruning as [[delete]]).
   */
  def updateCopyOnWrite(spark: SparkSession, predicates: Seq[ScanPredicate],
                        assignments: Map[String, String],
                        branch: String = "main"): Unit = {
    require(predicates.nonEmpty, "update requires predicates")
    cowUpdate(spark, predicates, None, assignments, branch)
  }

  /** COW update over `predicates` AND an optional arbitrary SQL condition
    * (the [[updateWhere]] shape): same pruning contract as [[cowDelete]]. */
  private def cowUpdate(spark: SparkSession, predicates: Seq[ScanPredicate],
                        condition: Option[String],
                        assignments: Map[String, String],
                        branch: String): Unit = {
    validateAssignments(assignments)
    commitWithRetry(replan = true) { base =>
      val affectedScan = dmlScan(branch, predicates)
      // one manifest pass yields both the rewrite set and the carried set
      val (affected, kept) = affectedScan.planFilesPartitioned()
      // same discovery pass as [[cowDelete]]: only files that provably
      // hold a matching row are rewritten; the rest are carried verbatim
      val matchedFiles = cowMatchedFiles(spark, affectedScan, affected, condition)
      if (matchedFiles.isEmpty) None // no live row matches — no new snapshot
      else {
        val (rewriteSet, carried) = affected.partition(t => matchedFiles.contains(t.filePath))
        val matchAll = cowMatchAll(affectedScan, predicates, condition)
        val rows = affectedScan.materializeTasks(spark, rewriteSet)
        val rewritten = base.currentSchema.fields.foldLeft(rows) { (d, f) =>
          assignments.get(f.name) match {
            case Some(exprStr) =>
              d.withColumn(f.name,
                org.apache.spark.sql.functions.when(matchAll,
                  org.apache.spark.sql.functions.expr(exprStr)
                    .cast(graft.types.SparkSchemaConverter.toSparkType(f.fieldType)))
                  .otherwise(org.apache.spark.sql.functions.col(f.name)))
            case None => d
          }
        }
        val commitUuid = java.util.UUID.randomUUID().toString
        val newFiles = writeDataFiles(rewritten, commitUuid)
        Some(buildRewriteMetadata(base, kept ++ carried, rewriteSet, newFiles, commitUuid,
          keepParentDeleteManifests = true, toBranch = branch) -> newFiles)
      }
    }
  }

  /**
   * Merge-on-read UPDATE: position-delete the matched rows and append
   * their updated images as new data files, in ONE commit. Write cost is
   * O(matched rows), not O(affected file bytes). The new data files carry
   * the commit's sequence number, so the delete files (same sequence)
   * cannot touch them — position deletes only reference the old paths.
   */
  def updateMergeOnRead(spark: SparkSession, predicates: Seq[ScanPredicate],
                        assignments: Map[String, String],
                        branch: String = "main"): Unit = {
    require(predicates.nonEmpty, "update requires predicates")
    morUpdate(spark, predicates, None, assignments, branch)
  }

  /** Row-level UPDATE with an arbitrary boolean SQL condition — the
    * [[deleteWhere]] of UPDATE. Honors `write.update.mode` exactly like
    * [[update]]: copy-on-write (default) rewrites affected files with the
    * assignments applied to matching rows; merge-on-read position-deletes
    * the matched rows and appends their updated images. Same pruning
    * contract: `prunePredicates` bound the scan, the full condition
    * decides the rows. */
  def updateWhere(spark: SparkSession, condition: String,
                  assignments: Map[String, String],
                  prunePredicates: Seq[ScanPredicate] = Nil,
                  branch: String = "main"): Unit = {
    require(condition.trim.nonEmpty, "updateWhere requires a condition")
    meta.properties.get("write.update.mode") match {
      case Some("merge-on-read") =>
        morUpdate(spark, prunePredicates, Some(condition), assignments, branch)
      case Some(other) if other != "copy-on-write" =>
        throw new InvalidDataError(s"unknown write.update.mode: $other")
      case _ => cowUpdate(spark, prunePredicates, Some(condition), assignments, branch)
    }
  }

  private def morUpdate(spark: SparkSession, predicates: Seq[ScanPredicate],
                        condition: Option[String],
                        assignments: Map[String, String],
                        branch: String): Unit = {
    validateAssignments(assignments)
    commitWithRetry(replan = true) { base =>
      val affectedScan = dmlScan(branch, predicates)
      val affected = affectedScan.planFiles()
      if (affected.isEmpty) None
      else {
        // matched rows feed two writes (positions + updated images); persist
        // so the scan+anti-join doesn't run twice. Matched rows only — small
        // relative to the affected files, and disk-backed if not.
        val matched = affectedScan.matchedRowsWithPositions(spark, affected,
            condition.map(org.apache.spark.sql.functions.expr))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val commitUuid = java.util.UUID.randomUUID().toString
          val (delFiles, superseded, newHidden) = writeMorDeletes(
            matched.select(col("__file").as("file_path"), col("__pos").as("pos")),
            affected, commitUuid)
          if (delFiles.isEmpty) None
          else {
            val rows = matched.drop("__file", "__pos")
            val updatedRows = base.currentSchema.fields.foldLeft(rows) { (d, f) =>
              assignments.get(f.name) match {
                case Some(exprStr) =>
                  d.withColumn(f.name, org.apache.spark.sql.functions.expr(exprStr)
                    .cast(graft.types.SparkSchemaConverter.toSparkType(f.fieldType)))
                case None => d
              }
            }
            val newFiles = writeDataFiles(updatedRows, commitUuid)
            Some(buildMorDmlMetadata(base, delFiles, newFiles, commitUuid, "overwrite",
              supersede = superseded, newPosRecords = newHidden, toBranch = branch) ->
              (delFiles ++ newFiles))
          }
        } finally matched.unpersist()
      }
    }
  }

  /**
   * MERGE (upsert): join `source` to this table on equality of the `on`
   * key columns; matched target rows get `whenMatched` (update/delete/
   * ignore), unmatched source rows get `whenNotMatched` (insert/ignore).
   * Null join keys never match (SQL equality), and a duplicate source key
   * is rejected — each target row may match at most one source row.
   *
   * Scale shape: one tiny aggregate computes the source's per-key min/max,
   * and only target files whose key bounds intersect that range are ever
   * planned, read, or rewritten — a CDC batch touching one day of a 100 TB
   * table joins against that day's files, not the table. Mode from
   * `write.merge.mode`: copy-on-write (default) rewrites affected files;
   * merge-on-read commits position deletes + new files, O(matched rows).
   */
  def merge(spark: SparkSession, source: DataFrame, on: Seq[String],
            whenMatched: WhenMatched = WhenMatched.UpdateAll,
            whenNotMatched: WhenNotMatched = WhenNotMatched.InsertAll,
            bySource: WhenNotMatchedBySource = WhenNotMatchedBySource.Ignore): Unit =
    meta.properties.get("write.merge.mode") match {
      case Some("merge-on-read") =>
        mergeMergeOnRead(spark, source, on, whenMatched, whenNotMatched, bySource)
      case Some(other) if other != "copy-on-write" =>
        throw new InvalidDataError(s"unknown write.merge.mode: $other")
      case _ => mergeCopyOnWrite(spark, source, on, whenMatched, whenNotMatched, bySource)
    }

  def mergeCopyOnWrite(spark: SparkSession, source: DataFrame, on: Seq[String],
                       whenMatched: WhenMatched = WhenMatched.UpdateAll,
                       whenNotMatched: WhenNotMatched = WhenNotMatched.InsertAll,
                       bySource: WhenNotMatchedBySource = WhenNotMatchedBySource.Ignore): Unit = {
    writable()
    mergePrep(spark, source, on, whenMatched, bySource) match {
      case None => // empty source: nothing can match or insert
      case Some((srcAligned, preds)) => try {
        commitWithRetry(replan = true) { base =>
          val sc = scan(None, preds)
          val (affected, kept) = sc.planFilesPartitioned()
          val commitUuid = java.util.UUID.randomUUID().toString
          if (affected.isEmpty) { mergeInsert(srcAligned, whenNotMatched, commitUuid); None }
          else {
            val targetRows = sc.materializeTasks(spark, affected)
            val result = mergeResult(
              mergeJoined(targetRows, srcAligned, on), whenMatched, whenNotMatched, bySource)
            val newFiles = writeDataFiles(result, commitUuid)
            Some(buildRewriteMetadata(base, kept, affected, newFiles, commitUuid,
              keepParentDeleteManifests = true) -> newFiles)
          }
        }
      } finally srcAligned.unpersist()
    }
  }

  /** A merge whose key range intersects no target file is a pure insert:
    * fast-append the source as its own commit. */
  private def mergeInsert(srcAligned: DataFrame, whenNotMatched: WhenNotMatched,
                          commitUuid: String): Unit =
    if (whenNotMatched != WhenNotMatched.Ignore) {
      val newFiles = writeDataFiles(srcAligned, commitUuid)
      if (newFiles.nonEmpty)
        commitAppend(newFiles, commitUuid, Map("operation-detail" -> "merge-insert"))
    }

  def mergeMergeOnRead(spark: SparkSession, source: DataFrame, on: Seq[String],
                       whenMatched: WhenMatched = WhenMatched.UpdateAll,
                       whenNotMatched: WhenNotMatched = WhenNotMatched.InsertAll,
                       bySource: WhenNotMatchedBySource = WhenNotMatchedBySource.Ignore): Unit = {
    import org.apache.spark.sql.functions.{expr, lit, when}
    writable()
    mergePrep(spark, source, on, whenMatched, bySource) match {
      case None =>
      case Some((srcAligned, preds)) => try {
        commitWithRetry(replan = true) { base =>
          val sc = scan(None, preds)
          val affected = sc.planFiles()
          val commitUuid = java.util.UUID.randomUUID().toString
          if (affected.isEmpty) { mergeInsert(srcAligned, whenNotMatched, commitUuid); None }
          else {
            // live target rows in the key range, with (file, pos) riding along
            val joined = mergeJoined(
              sc.matchedRowsWithPositions(spark, affected), srcAligned, on)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try {
              val isM = col("__t").isNotNull && col("__s").isNotNull
              val fields = meta.currentSchema.fields
              def proj(d: DataFrame, value: graft.types.NestedField => Column): DataFrame =
                d.select(fields.map(f => value(f)
                  .cast(graft.types.SparkSchemaConverter.toSparkType(f.fieldType))
                  .as(f.name)): _*)
              val matched = joined.filter(isM)
              val tOnly = joined.filter(col("__t").isNotNull && col("__s").isNull)
              val images: Option[DataFrame] = whenMatched match {
                case WhenMatched.UpdateAll => Some(proj(matched, f => col(s"__src_${f.name}")))
                case WhenMatched.UpdateSet(a) =>
                  Some(proj(matched, f => a.get(f.name).map(expr).getOrElse(col(f.name))))
                case _ => None // Delete: positions only; Ignore: untouched
              }
              // BY SOURCE actions hide the old target-only row (a position
              // delete) and, for UpdateSet, re-insert its new image — write
              // cost stays O(affected rows), the point of MOR full-sync
              val bySourceImages: Option[DataFrame] = bySource match {
                case WhenNotMatchedBySource.UpdateSet(a) =>
                  Some(proj(tOnly, f => a.get(f.name).map(expr).getOrElse(col(f.name))))
                case _ => None // Delete: positions only; Ignore: untouched
              }
              val inserts: Option[DataFrame] = whenNotMatched match {
                case WhenNotMatched.InsertAll =>
                  Some(proj(joined.filter(col("__t").isNull), f => col(s"__src_${f.name}")))
                case WhenNotMatched.Ignore => None
              }
              val posFrames =
                (if (whenMatched != WhenMatched.Ignore) Seq(matched) else Nil) ++
                  (if (bySource != WhenNotMatchedBySource.Ignore) Seq(tOnly) else Nil)
              val (delFiles, superseded, newHidden) =
                posFrames.map(_.select(col("__file").as("file_path"), col("__pos").as("pos")))
                  .reduceOption(_ unionAll _) match {
                  case None => (Nil, Set.empty[(String, Long)], None: Option[Long])
                  case Some(pos) => writeMorDeletes(pos, affected, commitUuid)
                }
              val newFiles = (images ++ bySourceImages ++ inserts).reduceOption(_ unionAll _)
                .map(writeDataFiles(_, commitUuid)).getOrElse(Nil)
              if (delFiles.isEmpty && newFiles.isEmpty) None // no-op merge
              else Some(buildMorDmlMetadata(base, delFiles, newFiles, commitUuid, "overwrite",
                supersede = superseded, newPosRecords = newHidden) -> (delFiles ++ newFiles))
            } finally joined.unpersist()
          }
        }
      } finally srcAligned.unpersist()
    }
  }

  /** Shared merge prep: validate keys/assignments, align the source to the
    * table schema (cached — it feeds the join and possibly the insert
    * write), reject duplicate non-null source keys, and derive the key
    * min/max bounds predicates that scope target planning. None = empty
    * source. */
  private def mergePrep(spark: SparkSession, source: DataFrame, on: Seq[String],
                        whenMatched: WhenMatched,
                        bySource: WhenNotMatchedBySource = WhenNotMatchedBySource.Ignore)
      : Option[(DataFrame, Seq[ScanPredicate])] = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    require(on.nonEmpty, "merge requires join key columns")
    val schemaCols = meta.currentSchema.fields.map(_.name).toSet
    val badT = on.filterNot(schemaCols)
    if (badT.nonEmpty)
      throw new InvalidDataError(s"merge keys not in table schema: ${badT.mkString(", ")}")
    val srcCols = source.columns.toSet
    val badS = on.filterNot(srcCols)
    if (badS.nonEmpty)
      throw new InvalidDataError(s"merge keys not in source: ${badS.mkString(", ")}")
    whenMatched match {
      case WhenMatched.UpdateSet(a) =>
        val unknown = a.keySet -- schemaCols
        if (unknown.nonEmpty)
          throw new InvalidDataError(s"unknown columns in merge UPDATE SET: ${unknown.mkString(", ")}")
        val keyed = a.keySet.intersect(on.toSet)
        if (keyed.nonEmpty)
          throw new InvalidDataError(s"cannot assign merge key columns: ${keyed.mkString(", ")}")
      case _ =>
    }
    bySource match {
      case WhenNotMatchedBySource.UpdateSet(a) =>
        val unknown = a.keySet -- schemaCols
        if (unknown.nonEmpty)
          throw new InvalidDataError(
            s"unknown columns in NOT MATCHED BY SOURCE UPDATE SET: ${unknown.mkString(", ")}")
      case _ =>
    }
    val srcAligned = AppendUtil.align(source, meta.currentSchema)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one pass over the source: per-key min/max + duplicate-key detection
    val keyCols = on.map(col)
    val aggs = on.flatMap(k => Seq(min(col(k)).as(s"__min_$k"), max(col(k)).as(s"__max_$k"))) :+
      count(lit(1)).as("__n")
    val grouped = srcAligned.filter(keyCols.map(_.isNotNull).reduce(_ && _))
      .groupBy(keyCols: _*).agg(count(lit(1)).as("__dup"))
    if (grouped.filter(col("__dup") > 1).limit(1).count() > 0) {
      srcAligned.unpersist()
      throw new InvalidDataError(
        "MERGE source has duplicate join keys: each target row may match at most one source row")
    }
    val stats = srcAligned.agg(aggs.head, aggs.tail: _*).head()
    // an EMPTY source still matters when a BY SOURCE clause is active:
    // every target row is then unmatched and the action applies table-wide
    if (stats.getAs[Long]("__n") == 0L &&
        bySource == WhenNotMatchedBySource.Ignore) { srcAligned.unpersist(); return None }
    // a BY SOURCE clause's domain is the whole target minus the source key
    // set — bounding the scan by source key range would silently exempt
    // out-of-range target rows from the action, so planning goes unpruned
    val preds =
      if (bySource != WhenNotMatchedBySource.Ignore) Nil
      else on.flatMap { k =>
        Option(stats.getAs[Any](s"__min_$k")).map(GePred(k, _)).toSeq ++
          Option(stats.getAs[Any](s"__max_$k")).map(LePred(k, _)).toSeq
      }
    Some((srcAligned, preds))
  }

  /** Full-outer join of target rows and the aligned source on the merge
    * keys; source columns arrive as `__src_<name>`, presence markers as
    * `__t`/`__s`. Null keys never match (plain equality). */
  private def mergeJoined(target: DataFrame, srcAligned: DataFrame,
                          on: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val src = meta.currentSchema.fields
      .foldLeft(srcAligned)((d, f) => d.withColumnRenamed(f.name, s"__src_${f.name}"))
      .withColumn("__s", lit(true))
    val tgt = target.withColumn("__t", lit(true))
    val cond = on.map(k => tgt(k) === src(s"__src_$k")).reduce(_ && _)
    tgt.join(src, cond, "full_outer")
  }

  /** Copy-on-write merge result over the joined frame: matched rows take
    * the `whenMatched` image (or drop), target-only rows pass through
    * verbatim unless a `bySource` action deletes or updates them,
    * source-only rows insert per `whenNotMatched`. */
  private def mergeResult(joined: DataFrame, whenMatched: WhenMatched,
                          whenNotMatched: WhenNotMatched,
                          bySource: WhenNotMatchedBySource = WhenNotMatchedBySource.Ignore): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, lit, when}
    val isM = col("__t").isNotNull && col("__s").isNotNull
    val sOnly = col("__t").isNull
    val tOnly = col("__t").isNotNull && col("__s").isNull
    val keep = (isM && lit(whenMatched != WhenMatched.Delete)) ||
      (tOnly && lit(bySource != WhenNotMatchedBySource.Delete)) ||
      (sOnly && lit(whenNotMatched == WhenNotMatched.InsertAll))
    val projected = meta.currentSchema.fields.map { f =>
      val srcC = col(s"__src_${f.name}")
      val matchedVal = whenMatched match {
        case WhenMatched.UpdateAll => srcC
        case WhenMatched.UpdateSet(a) => a.get(f.name).map(expr).getOrElse(col(f.name))
        case _ => col(f.name)
      }
      val tOnlyVal = bySource match {
        case WhenNotMatchedBySource.UpdateSet(a) =>
          a.get(f.name).map(expr).getOrElse(col(f.name))
        case _ => col(f.name)
      }
      when(isM, matchedVal).when(sOnly, srcC).otherwise(tOnlyVal)
        .cast(graft.types.SparkSchemaConverter.toSparkType(f.fieldType)).as(f.name)
    }
    joined.filter(keep).select(projected: _*)
  }

  /** Write `df` as table data files under `data/<uuid>` with the current
    * schema/spec/sort and the table's target file size. */
  private def writeDataFiles(df: DataFrame, commitUuid: String): Seq[graft.manifest.DataFile] =
    AppendUtil.writeData(df, meta.currentSchema, meta.defaultPartitionSpec,
      meta.defaultSortOrder, new Path(meta.location, s"data/$commitUuid"), hadoopConf,
      targetFileRows = meta.properties.get("write.target-file-rows")
        .map(_.toLong).getOrElse(5000000L))

  /**
   * Format-v3 merge-on-read delete representation: instead of
   * position-delete parquet, write ONE Puffin file for the commit holding
   * one `deletion-vector-v1` blob (a 64-bit roaring bitmap of deleted row
   * ordinals) per affected data file. Spec invariant: at most one DV is
   * live per data file — if an affected file already has one, its
   * positions are merged into the new blob and the old manifest entry is
   * superseded (removed from the new snapshot), so scan planning stays
   * O(one DV per file) no matter how many deletes have run.
   *
   * Scale shape: positions shuffle once on `file_path` (all ordinals of a
   * data file land in one task), each task merges any existing DV (one
   * ranged blob read, executor-side) and writes ONE Puffin file holding
   * its files' blobs. Only `(puffin path, blob offset/length, cardinality)`
   * descriptors come back to the driver — no bitmap bytes ever do, so a
   * delete touching 10⁶ data files ships 10⁶ small tuples, not 10⁶
   * serialized bitmaps. Task attempt ids are in the Puffin file names, so
   * a retried/speculative attempt writes a fresh file and the loser is an
   * orphan for removeOrphanFiles, never a corrupted winner.
   *
   * Returns (DV manifest entries, superseded (path, offset) delete-entry
   * keys, count of NEWLY hidden rows — the merged bitmaps' cardinality
   * includes previously-deleted rows, which must not re-count in the
   * snapshot summary).
   */
  private def writeDeletionVectors(matched: DataFrame,
                                   affected: Seq[FileScanTask],
                                   commitUuid: String)
      : (Seq[graft.manifest.DataFile], Set[(String, Long)], Long) = {
    import graft.puffin.{DeletionVector, Puffin}
    import org.roaringbitmap.longlong.Roaring64NavigableMap
    val spark = matched.sparkSession
    import spark.implicits._
    // at most one live DV per data file (invariant of this writer);
    // (file -> (dv path, blob offset if recorded, blob length)) — small:
    // one entry per affected file, shipped into the task closure
    val liveDvByFile: Map[String, (String, Option[Long], Long)] =
      affected.flatMap(_.deleteFiles).filter(_.isDeletionVector)
        .flatMap(d => d.referencedDataFile.map(_ -> ((d.filePath,
          d.contentOffset, d.contentSizeInBytes.getOrElse(d.fileSizeInBytes))))).toMap
    val confBc = TableScan.taskConf(spark, hadoopConf)
    val dvDir = new Path(meta.location, "data").toString
    // (puffin path, puffin file length, referenced data file,
    //  blob offset, blob length, merged cardinality, newly hidden rows)
    val descriptors: Seq[(String, Long, String, Long, Long, Long, Long)] = matched
      .select(col("file_path").cast("string"), col("pos").cast("long"))
      .repartition(col("file_path"))
      .as[(String, Long)]
      .mapPartitions { it =>
        val maps = scala.collection.mutable.HashMap.empty[String, Roaring64NavigableMap]
        it.foreach { case (f, p) =>
          maps.getOrElseUpdate(f, new Roaring64NavigableMap()).addLong(p)
        }
        if (maps.isEmpty) Iterator.empty
        else {
          val tc = org.apache.spark.TaskContext.get()
          val part = if (tc == null) 0 else tc.partitionId()
          val attempt = if (tc == null) 0L else tc.taskAttemptId()
          // matched rows are live rows (the scan already applied old DVs),
          // so the pre-merge cardinality IS the newly-hidden count
          val newlyByFile = maps.view.mapValues(_.getLongCardinality).toMap
          val blobs = maps.toSeq.sortBy(_._1).map { case (file, bitmap) =>
            liveDvByFile.get(file).foreach { case (oldPath, oldOff, oldLen) =>
              val p0 = new Path(oldPath)
              bitmap.or(DeletionVector.deserialize(Puffin.readBlob(
                p0.getFileSystem(confBc.value.value), p0, oldOff.getOrElse(0L), oldLen)))
            }
            bitmap.runOptimize()
            // snapshot-id/sequence-number are -1: DVs are written BEFORE
            // the commit wins its CAS; the manifest entry is authoritative
            // (and a retry against refreshed metadata re-stamps them anyway)
            Puffin.Blob(DeletionVector.BlobType, Nil, -1L, -1L,
              DeletionVector.serialize(bitmap),
              Map("referenced-data-file" -> file,
                "cardinality" -> bitmap.getLongCardinality.toString))
          }
          val dvPath = new Path(dvDir, s"$commitUuid-dv-p$part-a$attempt.puffin")
          val (fileLen, blobMetas) = Puffin.write(
            dvPath.getFileSystem(confBc.value.value), dvPath, blobs)
          blobMetas.iterator.map { bm =>
            val ref = bm.properties("referenced-data-file")
            (dvPath.toString, fileLen, ref, bm.offset, bm.length,
              bm.properties("cardinality").toLong, newlyByFile(ref))
          }
        }
      }.collect().toSeq
    if (descriptors.isEmpty) return (Nil, Set.empty, 0L)
    val newlyHidden = descriptors.map(_._7).sum
    val superseded = descriptors.flatMap { d =>
      liveDvByFile.get(d._3).map { case (p, off, _) => (p, off.getOrElse(-1L)) }
    }.toSet
    val dvFiles = descriptors.map { case (path, fileLen, ref, off, len, card, _) =>
      graft.manifest.DataFile(
        filePath = path,
        fileFormat = "PUFFIN",
        partition = Map.empty,
        recordCount = card,
        fileSizeInBytes = fileLen,
        content = 1,
        referencedDataFile = Some(ref),
        contentOffset = Some(off),
        contentSizeInBytes = Some(len))
    }
    (dvFiles, superseded, newlyHidden)
  }

  /** Write the MOR delete half in the table's format-version
    * representation: v3 → Puffin deletion vectors (merging + superseding
    * any existing DV per file); v1/v2 → position-delete parquet. Returns
    * (delete entries, superseded entry keys, Some(newly hidden count) for
    * DVs — None means "recordCount is the newly-hidden count", the parquet
    * case). `matched` must carry manifest-form `file_path` + `pos`. */
  private def writeMorDeletes(matched: DataFrame, affected: Seq[FileScanTask],
                              commitUuid: String)
      : (Seq[graft.manifest.DataFile], Set[(String, Long)], Option[Long]) =
    if (meta.formatVersion >= 3) {
      val (dv, sup, n) = writeDeletionVectors(matched, affected, commitUuid)
      (dv, sup, Some(n))
    } else
      (AppendUtil.writePositionDeletes(matched,
        new Path(meta.location, s"data/$commitUuid-del"), hadoopConf),
        Set.empty, None)

  /** Best-effort removal of parquet files written for a commit attempt
    * that was abandoned (CAS conflict re-plan, or terminal retry failure).
    * No snapshot references them, so [[expireSnapshots]] can never reclaim
    * them — without this they leak on every lost race. Failures are
    * swallowed: a leaked file is benign, a failed DML is not. */
  private def discardFiles(files: Seq[graft.manifest.DataFile]): Unit =
    files.foreach(f => DataFileWriter.delete(hadoopConf, f.filePath))

  /**
   * UPSERT one batch (last-wins by `keys`): commit equality-delete files
   * on the key columns plus the batch as new data files, atomically. The
   * delete and data files share the commit's sequence number, and
   * equality deletes apply only to STRICTLY older sequences — so the
   * batch replaces prior versions of its keys without reading, joining,
   * or rewriting ANY existing data. Cost is O(batch), independent of
   * table size: the write side of a CDC/streaming upsert at 100 TB. The
   * read side pays the equality anti-join until [[applyPendingDeletes]]
   * or [[compact]] folds it in. `df` must carry at most one row per key.
   */
  def upsert(spark: SparkSession, df: DataFrame, keys: Seq[String],
             extraSummary: Map[String, String] = Map.empty,
             branch: String = "main"): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit}
    writable()
    require(keys.nonEmpty, "upsert requires key columns")
    val keyFields = keys.map(k => meta.currentSchema.fieldByName(k).getOrElse(
      throw new InvalidDataError(s"upsert key not in table schema: $k")))
    val aligned = AppendUtil.align(df, meta.currentSchema)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (aligned.isEmpty) return
      // Equality deletes treat NULL as a matching value (Iceberg
      // semantics), so a null-key row would silently hide prior null-key
      // rows — and SQL-equality intuition says it never matches anything.
      // Rather than pick either surprise, reject nulls loudly (merge()
      // keeps SQL semantics for callers that want null keys as inserts).
      val nullKey = aligned.filter(keys.map(col(_).isNull).reduce(_ || _))
        .limit(1).count()
      if (nullKey > 0)
        throw new InvalidDataError(
          s"upsert key contains NULL (keys: ${keys.mkString(", ")}): filter " +
            "null-key rows out or use merge(), which treats them as plain inserts")
      val dup = aligned.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__dup"))
        .filter(col("__dup") > 1).limit(1).count()
      if (dup > 0)
        throw new InvalidDataError(
          "upsert batch has duplicate keys: reduce to one row per key first (last-wins is undefined within a batch)")
      // files depend only on the batch — write once, retry only the CAS.
      // Remember the era they were written under: a retry commits against
      // refreshed metadata, and if a concurrent schema/spec evolution won
      // the race the manifest must still be stamped with the WRITE schema,
      // or read-side field-id projection resolves the files wrongly.
      val writeSchemaId = meta.currentSchemaId
      val writeSpecId = meta.defaultSpecId
      val commitUuid = java.util.UUID.randomUUID().toString
      val delFiles = AppendUtil.writeEqualityDeletes(aligned, keyFields,
        new Path(meta.location, s"data/$commitUuid-eqdel"), hadoopConf)
      val dataFiles = writeDataFiles(aligned, commitUuid)
      commitRowDelta(delFiles, dataFiles, extraSummary, branch,
        Some(writeSchemaId), Some(writeSpecId))
    } finally aligned.unpersist()
  }

  /** Stage schema changes; see [[UpdateSchema]]. `table.updateSchema()
    * .renameColumn("a","c").deleteColumn("b").commit()` */
  def updateSchema(): UpdateSchema = new UpdateSchema(this)

  /** Commit a schema produced by [[UpdateSchema]]: assign the next schema
    * id (or adopt an identical existing version — Iceberg reuses ids for
    * identical schemas so repeated no-op evolutions don't grow metadata),
    * advance last-column-id, CAS through the catalog. Metadata-only. */
  private[table] def commitSchemaUpdate(build: TableMetadata => (Schema, Int)): Unit =
    commitMetadata { base =>
      val (draft, lastCol) = build(base)
      val existing = base.schemas.find(s =>
        s.fields == draft.fields && s.identifierFieldIds == draft.identifierFieldIds)
      val now = System.currentTimeMillis()
      existing match {
        case Some(same) if same.schemaId == base.currentSchemaId => None // no-op
        case Some(same) =>
          Some(base.copy(currentSchemaId = same.schemaId, lastUpdatedMs = now))
        case None =>
          val newId = base.schemas.map(_.schemaId).max + 1
          val versioned = draft.copy(schemaId = newId)
          Some(base.copy(
            currentSchemaId = newId,
            schemas = base.schemas :+ versioned,
            lastColumnId = math.max(base.lastColumnId, lastCol),
            lastUpdatedMs = now))
      }
    }

  /** Stage partition-spec changes; see [[UpdateSpec]]. `table.updateSpec()
    * .removeField("region").addField("ts", "day").commit()` */
  def updateSpec(): UpdateSpec = new UpdateSpec(this)

  /** Commit a partition layout produced by [[UpdateSpec]]: assign the next
    * spec id (or adopt an identical existing spec), advance
    * last-partition-id, CAS. Metadata-only — no data file moves. */
  private[table] def commitSpecUpdate(
      build: TableMetadata => (Seq[graft.meta.PartitionField], Int)): Unit =
    commitMetadata { base =>
      val (fields, lastPart) = build(base)
      val existing = base.partitionSpecs.find(_.fields == fields)
      val now = System.currentTimeMillis()
      existing match {
        case Some(same) if same.specId == base.defaultSpecId => None // no-op
        case Some(same) =>
          Some(base.copy(defaultSpecId = same.specId, lastUpdatedMs = now))
        case None =>
          val newId = base.partitionSpecs.map(_.specId).max + 1
          Some(base.copy(
            defaultSpecId = newId,
            partitionSpecs = base.partitionSpecs :+ PartitionSpec(newId, fields),
            lastPartitionId = math.max(base.lastPartitionId, lastPart),
            lastUpdatedMs = now))
      }
    }

  /**
   * Sort-order evolution (metadata-only): replace the default write sort
   * order with `columns` — `(name, direction, nullOrder)` with direction
   * `asc`/`desc` and nullOrder defaulting like [[graft.meta.SortField]];
   * empty means unsorted. Adopts an identical existing order's id, else
   * registers the next id. Existing files keep their layout (sort orders
   * only shape FUTURE writes — same contract as partition evolution).
   */
  def replaceSortOrder(columns: Seq[(String, String, Option[String])]): Unit =
    commitMetadata { base =>
      val schema = base.currentSchema
      val fields = columns.map { case (name, dir, nullOrder) =>
        val f = schema.fieldByName(name).getOrElse(
          throw new InvalidDataError(s"no such column: $name"))
        if (dir != "asc" && dir != "desc")
          throw new InvalidDataError(s"sort direction must be asc or desc, got: $dir")
        graft.meta.SortField(f.id, "identity", dir, nullOrder.orNull)
      }
      val now = System.currentTimeMillis()
      val existing = base.sortOrders.find(_.fields == fields)
      existing match {
        case Some(same) if same.orderId == base.defaultSortOrderId => None // no-op
        case Some(same) =>
          Some(base.copy(defaultSortOrderId = same.orderId, lastUpdatedMs = now))
        case None if fields.isEmpty =>
          Some(base.copy(defaultSortOrderId = 0, lastUpdatedMs = now))
        case None =>
          val newId = (base.sortOrders.map(_.orderId) :+ 0).max + 1
          Some(base.copy(
            defaultSortOrderId = newId,
            sortOrders = base.sortOrders :+ graft.meta.SortOrder(newId, fields),
            lastUpdatedMs = now))
      }
    }

  private def validateAssignments(assignments: Map[String, String]): Unit = {
    require(assignments.nonEmpty, "update requires assignments")
    val schemaCols = meta.currentSchema.fields.map(_.name).toSet
    val unknown = assignments.keySet -- schemaCols
    if (unknown.nonEmpty)
      throw new InvalidDataError(s"unknown columns in UPDATE: ${unknown.mkString(", ")}")
  }

  /**
   * Maintenance (`rewrite_position_delete_files` + dead-delete pruning in
   * one): rewrite every data file that still has applicable delete files
   * (folding the deletes in), then drop ALL delete manifests — correct
   * because files without applicable deletes are exactly the ones that
   * don't need them. Pays down the merge-on-read anti-join debt; scans are
   * delete-free afterwards. No-op when no deletes apply.
   */
  def applyPendingDeletes(spark: SparkSession): Unit =
    commitWithRetry(replan = true) { base =>
      val all = scan().planFiles()
      val affected = all.filter(_.deleteFiles.nonEmpty)
      if (affected.isEmpty) None
      else {
        val affectedPaths = affected.map(_.filePath).toSet
        val kept = all.filterNot(t => affectedPaths.contains(t.filePath))
        val commitUuid = java.util.UUID.randomUUID().toString
        // deletes applied by the scan materialization
        val newFiles = writeDataFiles(scan().materializeTasks(spark, affected), commitUuid)
        Some(buildRewriteMetadata(base, kept, affected, newFiles, commitUuid,
          keepParentDeleteManifests = false) -> newFiles)
      }
    }

  /**
   * Compaction (`rewrite_data_files`): bin-pack data files smaller than
   * `smallFileBytes` into full-size files. Pure maintenance — row set is
   * unchanged; one new snapshot; old snapshots keep the small files.
   * Skips if fewer than `minInputFiles` files qualify (not worth a
   * snapshot). At scale this is what keeps scan task counts bounded after
   * many streaming micro-appends.
   */
  def compact(spark: SparkSession, smallFileBytes: Long = 64L * 1024 * 1024,
              minInputFiles: Int = 2): Unit =
    commitWithRetry(replan = true) { base =>
      val all = scan().planFiles()
      val small = all.filter(_.file.fileSizeInBytes < smallFileBytes)
      if (small.size < minInputFiles) None
      else {
        val kept = all.filterNot(t => small.map(_.filePath).toSet.contains(t.filePath))
        // bin-pack: target as few output files as the combined bytes allow
        // (for partitioned specs writeData re-shuffles by partition anyway)
        val nOut = math.max(1, math.ceil(
          small.map(_.file.fileSizeInBytes).sum.toDouble / smallFileBytes).toInt)
        val rewritten = scan().materializeTasks(spark, small).repartition(nOut)
        val commitUuid = java.util.UUID.randomUUID().toString
        val newFiles = writeDataFiles(rewritten, commitUuid)
        Some(buildRewriteMetadata(base, kept, small, newFiles, commitUuid,
          keepParentDeleteManifests = true) -> newFiles)
      }
    }

  /** The catalog commits go through; fails on a read-only table. */
  private def writable(): Catalog =
    catalog.getOrElse(throw new GraftError("this table is read-only"))

  /**
   * The one optimistic-commit (CAS) loop: every write, DML, maintenance
   * and metadata commit goes through it. Each attempt runs `body` against
   * a base version, which is also adopted as the handle's metadata: the
   * handle's own version on the first try, the catalog's current one on
   * every retry — and on every try when `replan` is set, so DML that
   * plans from a scan sees concurrent commits (a stale handle's empty
   * plan would otherwise silently no-op before ever reaching the CAS).
   *
   * `body` returns the metadata to commit plus the files that attempt
   * wrote, or None to commit nothing. A lost CAS deletes that attempt's
   * files and retries, at most [[Table.MaxCommitRetries]] times;
   * `writtenOnce` — files written before the loop and reused by every
   * attempt — are deleted only when the last retry fails. Only the CAS
   * itself is retried: an error from `body` propagates untouched.
   */
  private def commitWithRetry(replan: Boolean = false,
                              writtenOnce: Seq[graft.manifest.DataFile] = Nil)
                             (body: TableMetadata =>
                               Option[(TableMetadata, Seq[graft.manifest.DataFile])]): Unit = {
    val cat = writable()
    var retries = 0
    var done = false
    while (!done) {
      if (replan || retries > 0) meta = cat.currentMetadata(ident)
      val base = meta
      body(base) match {
        case None => done = true
        case Some((updated, written)) =>
          try {
            meta = cat.commitTable(ident, base, updated)
            done = true
          } catch {
            case e: CommitConflictError =>
              discardFiles(written)
              retries += 1
              if (retries > Table.MaxCommitRetries) { discardFiles(writtenOnce); throw e }
          }
      }
    }
  }

  /** [[commitWithRetry]] for a metadata-only change: the builder
    * re-validates against each attempt's base; None commits nothing. */
  private def commitMetadata(build: TableMetadata => Option[TableMetadata]): Unit =
    commitWithRetry()(build(_).map(_ -> Nil))

  /** Swap in wholly new metadata over whatever version is current — the
    * publish of a staged `REPLACE TABLE … AS SELECT`, whose data and
    * metadata were committed to an unpublished pointer. */
  private[graft] def replaceMetadata(staged: TableMetadata): Unit =
    commitMetadata(_ => Some(staged))

  /** Metadata-only property update (ALTER TABLE SET/UNSET TBLPROPERTIES via
    * the DSv2 catalog; also usable programmatically). CAS-retried like every
    * other commit; a no-op change commits nothing. */
  def updateProperties(set: Map[String, String],
                       remove: Seq[String] = Nil): Unit =
    commitMetadata { base =>
      val p = (base.properties -- remove) ++ set
      if (p == base.properties) None
      else Some(base.copy(properties = p,
        lastUpdatedMs = System.currentTimeMillis()))
    }

  /**
   * ANALYZE: compute per-column NDV for the CURRENT snapshot, write it as
   * a Puffin statistics file, and commit a `statistics` metadata entry
   * (replacing any prior entry for the same snapshot — re-analyzing is
   * idempotent per snapshot). Each eligible (primitive-typed) column gets
   * one blob: custom type `graft-ndv-v1` (an 8-byte big-endian count —
   * no external sketch library is shipped, so no foreign blob format is
   * claimed) with the spec's interop `"ndv"` PROPERTY, which is the part
   * stats-consuming engines actually read. The scan's
   * `estimateStatistics` surfaces these as DSv2 column statistics, so
   * Spark's CBO sees real distinct counts.
   *
   * 100 TB design: `approx = true` (default) computes every column's NDV
   * in ONE combinable pass (HyperLogLog++ partial buffers on the
   * exchange, ±`rsd`); `approx = false` is exact but expands rows
   * × columns behind one shuffle per distinct aggregate — affordable
   * only on dimension-sized tables.
   */
  def analyze(spark: SparkSession, columns: Seq[String] = Nil,
              approx: Boolean = true, rsd: Double = 0.05): StatisticsFile = {
    import org.apache.spark.sql.functions.{approx_count_distinct, count_distinct}
    val snap = meta.currentSnapshot.getOrElse(
      throw new InvalidDataError("cannot analyze a table with no snapshot"))
    val schema = meta.currentSchema
    val eligible = schema.fields
      .filter(f => columns.isEmpty || columns.contains(f.name))
      .filter(f => f.fieldType.isPrimitive)
    require(eligible.nonEmpty, "no primitive columns to analyze")
    if (columns.nonEmpty) {
      val missing = columns.filterNot(c => eligible.exists(_.name == c))
      require(missing.isEmpty,
        s"column(s) not analyzable (missing or non-primitive): ${missing.mkString(", ")}")
    }
    val df = toDF(spark)
    val aggs = eligible.map(f =>
      (if (approx) approx_count_distinct(col(f.name), rsd)
       else count_distinct(col(f.name))).as(f.name))
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val ndvs = eligible.zipWithIndex.map { case (f, i) => f -> row.getLong(i) }

    val blobs = ndvs.map { case (f, ndv) =>
      val bytes = java.nio.ByteBuffer.allocate(8).putLong(ndv).array()
      graft.puffin.Puffin.Blob("graft-ndv-v1", Seq(f.id),
        snap.snapshotId, snap.sequenceNumber, bytes,
        Map("ndv" -> ndv.toString))
    }
    val metadataDir = new Path(meta.location, "metadata")
    val fs = metadataDir.getFileSystem(hadoopConf)
    val statsPath = new Path(metadataDir,
      s"stats-${snap.snapshotId}-${java.util.UUID.randomUUID()}.puffin")
    val (fileLen, blobMetas) = graft.puffin.Puffin.write(fs, statsPath, blobs,
      Map("created-by" -> "graft analyze"))
    val footerSize = fileLen - 4L - blobs.map(_.data.length.toLong).sum
    val entry = StatisticsFile(
      snap.snapshotId, statsPath.toString, fileLen, footerSize,
      blobMetas.map(m => Map[String, Any](
        "type" -> m.blobType,
        "snapshot-id" -> m.snapshotId,
        "sequence-number" -> m.sequenceNumber,
        "fields" -> m.fields,
        "properties" -> m.properties)))
    commitMetadata { base =>
      Some(base.copy(
        statistics = base.statistics.filterNot(_.snapshotId == snap.snapshotId)
          :+ entry,
        lastUpdatedMs = System.currentTimeMillis()))
    }
    entry
  }

  /**
   * Partition-statistics companion of [[analyze]]: the per-partition
   * roll-up (file/record/byte counts, the `partitions` metadata table's
   * content) persisted as ONE parquet file under `metadata/` plus a
   * `partition-statistics` metadata entry for the current snapshot
   * (replaced on re-run). Query planners read the persisted roll-up
   * instead of re-walking manifests — at 100 TB the manifest walk is a
   * distributed job, the stats file is one small scan.
   */
  def analyzePartitions(spark: SparkSession): PartitionStatisticsFile = {
    val snap = meta.currentSnapshot.getOrElse(
      throw new InvalidDataError("cannot analyze a table with no snapshot"))
    val rollup = MetadataTables.partitions(spark, this)
    val metadataDir = new Path(meta.location, "metadata")
    val statsPath = new Path(metadataDir,
      s"partition-stats-${snap.snapshotId}-${java.util.UUID.randomUUID()}.parquet")
    val tmp = new Path(metadataDir,
      s".partition-stats-tmp-${java.util.UUID.randomUUID()}")
    rollup.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val fs = metadataDir.getFileSystem(hadoopConf)
    val part = fs.listStatus(tmp)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .head.getPath
    if (!fs.rename(part, statsPath))
      throw new GraftError(s"could not move partition stats to $statsPath")
    fs.delete(tmp, true)
    val entry = PartitionStatisticsFile(snap.snapshotId, statsPath.toString,
      fs.getFileStatus(statsPath).getLen)
    commitMetadata { base =>
      Some(base.copy(
        partitionStatistics =
          base.partitionStatistics.filterNot(_.snapshotId == snap.snapshotId)
            :+ entry,
        lastUpdatedMs = System.currentTimeMillis()))
    }
    entry
  }

  /** Roll the table back to an earlier snapshot (metadata-only; the
    * abandoned snapshots stay until [[expireSnapshots]]). */
  def rollback(snapshotId: Long): Unit = {
    if (meta.snapshotById(snapshotId).isEmpty)
      throw new InvalidDataError(s"no snapshot with id $snapshotId")
    commitMetadata { base =>
      if (base.snapshotById(snapshotId).isEmpty)
        throw new InvalidDataError(s"no snapshot with id $snapshotId")
      val now = System.currentTimeMillis()
      Some(base.copy(
        currentSnapshotId = Some(snapshotId),
        lastUpdatedMs = now,
        snapshotLog = base.snapshotLog :+ SnapshotLogEntry(now, snapshotId),
        refs = base.refs.updated("main", SnapshotRef(snapshotId, "branch"))))
    }
  }

  /**
   * Expire snapshots older than `olderThanMs`, always retaining the last
   * `retainLast` and every ref target, then physically delete files (data,
   * manifests, manifest lists) referenced ONLY by expired snapshots. This
   * is the reclamation half of copy-on-write: rewrites/compactions leave
   * old files on disk for time travel until expiration collects them.
   */
  def expireSnapshots(olderThanMs: Long, retainLast: Int = 1): Unit = {
    val (expired, remaining) = expireSnapshotsCommit(olderThanMs, retainLast)
    if (expired.nonEmpty) cleanupExpiredDriver(expired, remaining)
  }

  /**
   * Cluster-scale expiration: the metadata commit is identical, but
   * reachability — which snapshots' files are referenced ONLY by expired
   * history — runs as a Spark job over the manifests ([[Reachability]]),
   * and "referenced only by dead snapshots" is an `except` between two
   * path Datasets instead of a driver-memory Set difference. Below
   * `distributedThreshold` total manifests it delegates to the
   * driver-parallel path (a Spark job has fixed overhead a small table
   * shouldn't pay).
   */
  def expireSnapshots(spark: SparkSession, olderThanMs: Long): Unit =
    expireSnapshots(spark, olderThanMs, 1, TableScan.DistributedPlanThreshold)

  def expireSnapshots(spark: SparkSession, olderThanMs: Long, retainLast: Int,
                      distributedThreshold: Int): Unit = {
    import spark.implicits._
    val (expired, remaining) = expireSnapshotsCommit(olderThanMs, retainLast)
    if (expired.isEmpty) return
    val fs = new Path(meta.location).getFileSystem(hadoopConf)
    val deadInv = Reachability.manifestInventory(fs, expired)
    val liveInv = Reachability.manifestInventory(fs, remaining)
    if (deadInv.size + liveInv.size < distributedThreshold)
      return cleanupExpiredDriver(expired, remaining)
    // same liveOnly=true semantics as the driver path's filesOf
    val dead = Reachability.referenced(spark, hadoopConf, expired, deadInv, liveOnly = true)
    val live = Reachability.referenced(spark, hadoopConf, remaining, liveInv, liveOnly = true)
    val confBc = TableScan.taskConf(spark, hadoopConf)
    dead.except(live).foreachPartition { (it: Iterator[String]) =>
      var f: org.apache.hadoop.fs.FileSystem = null
      it.foreach { s =>
        val p = new Path(s)
        if (f == null) f = p.getFileSystem(confBc.value.value)
        f.delete(p, false)
      }
    }
  }

  /** The expiration METADATA commit: drop expired snapshots (retaining the
    * last `retainLast` and every ref target) through the CAS loop. Returns
    * the (expired, remaining) split of the base the successful commit was
    * built on — physical cleanup must use exactly that partition. */
  private def expireSnapshotsCommit(olderThanMs: Long,
                                    retainLast: Int): (Seq[Snapshot], Seq[Snapshot]) = {
    var committedSplit: (Seq[Snapshot], Seq[Snapshot]) = (Nil, Nil)
    var droppedStats: Seq[String] = Nil
    commitMetadata { base =>
      // reset per attempt: a failed attempt's droppedStats must not drive
      // deletes when the retry finds nothing left to expire (a concurrent
      // expire/rollback may have re-protected those snapshots' stats files)
      droppedStats = Nil
      val byTime = base.snapshots.sortBy(_.timestampMs)
      val protectedIds: Set[Long] =
        byTime.takeRight(math.max(retainLast, 1)).map(_.snapshotId).toSet ++
          base.refs.values.map(_.snapshotId) ++ base.currentSnapshotId
      val (expired, remaining) = base.snapshots.partition(s =>
        s.timestampMs < olderThanMs && !protectedIds.contains(s.snapshotId))
      committedSplit = (expired, remaining)
      if (expired.isEmpty) None
      else {
        // statistics entries follow their snapshot out of the metadata —
        // a stale entry would reference a snapshot id that no longer
        // exists, and its Puffin/parquet would linger forever (the orphan
        // sweep deliberately never touches non-Avro metadata files)
        val expiredIds = expired.map(_.snapshotId).toSet
        droppedStats =
          base.statistics.filter(s => expiredIds.contains(s.snapshotId))
            .map(_.statisticsPath) ++
          base.partitionStatistics.filter(p => expiredIds.contains(p.snapshotId))
            .map(_.statisticsPath)
        Some(base.copy(
          snapshots = remaining,
          snapshotLog = base.snapshotLog.filter(e =>
            remaining.exists(_.snapshotId == e.snapshotId)),
          statistics = base.statistics.filterNot(s =>
            expiredIds.contains(s.snapshotId)),
          partitionStatistics = base.partitionStatistics.filterNot(p =>
            expiredIds.contains(p.snapshotId)),
          lastUpdatedMs = System.currentTimeMillis()))
      }
    }
    // stats files are one-per-analyzed-snapshot: driver-side deletes
    if (droppedStats.nonEmpty) {
      val fs = new Path(meta.location).getFileSystem(hadoopConf)
      droppedStats.foreach(p => fs.delete(new Path(p), false))
    }
    committedSplit
  }

  /** Driver-parallel physical cleanup after expiration (small tables).
    * Reachability is read in parallel across snapshots AND across each
    * snapshot's manifests — a long-lived table has O(history) manifest
    * lists and serializing their reads stalls the driver. */
  private def cleanupExpiredDriver(expired: Seq[Snapshot],
                                   remaining: Seq[Snapshot]): Unit = {
    import scala.collection.parallel.CollectionConverters._
    val fs = new Path(meta.location).getFileSystem(hadoopConf)
    def filesOf(snaps: Seq[Snapshot]): (Set[String], Set[String]) = {
      val perSnap = snaps.par.map { s =>
        val mfs = Manifests.readManifestList(fs, new Path(s.manifestList))
        val data = mfs.par.flatMap { mf =>
          Manifests.readManifest(fs, new Path(mf.manifestPath))
            .filter(_.isLive).map(_.dataFile.filePath)
        }.seq
        (mfs.map(_.manifestPath).toSet, data.toSet)
      }.seq
      (perSnap.flatMap(_._1).toSet, perSnap.flatMap(_._2).toSet)
    }
    val (liveManifests, liveData) = filesOf(remaining)
    val (deadManifests, deadData) = filesOf(expired)

    // physical cleanup AFTER the metadata commit succeeds
    (deadData -- liveData).par.foreach(p => fs.delete(new Path(p), false))
    (deadManifests -- liveManifests).par.foreach(p => fs.delete(new Path(p), false))
    expired.par.foreach(s => fs.delete(new Path(s.manifestList), false))
  }

  /**
   * Z-order rewrite (`rewrite_data_files` with multi-dimensional
   * clustering): rewrite ALL live data into files range-partitioned by
   * the bit-interleaved z-value of `columns` (≤4, numeric/date/
   * timestamp). Each output file then has TIGHT bounds on every
   * clustered column simultaneously, so scans filtering on ANY of them
   * prune files — a single-column sort only ever serves one predicate
   * shape. Pending MOR deletes fold in (the rewrite materializes the
   * live view), like [[applyPendingDeletes]]. One snapshot; old
   * snapshots keep their files for time travel.
   *
   * Unpartitioned tables only: the partitioned write path re-shuffles by
   * partition tuple, which would destroy the z-clustering it just paid
   * for — z-order within partitions is a different (finer) layout choice.
   */
  def zorder(spark: SparkSession, columns: Seq[String],
             targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    import org.apache.spark.sql.functions.{col, max, min}
    writable()
    require(columns.nonEmpty && columns.size <= 4, "zorder takes 1-4 columns")
    val missing = columns.filterNot(c => meta.currentSchema.fieldByName(c).isDefined)
    if (missing.nonEmpty)
      throw new InvalidDataError(s"zorder columns not in schema: ${missing.mkString(", ")}")
    if (meta.defaultPartitionSpec.fields.nonEmpty)
      throw new InvalidDataError("zorder supports unpartitioned tables only")
    commitWithRetry(replan = true) { base =>
      val sc = scan()
      val all = sc.planFiles()
      if (all.isEmpty) None
      else {
        val rows = sc.materializeTasks(spark, all)
        // global per-column range from ONE tiny aggregate (the normalization
        // grid); clamping makes stale ranges safe, just less discriminating
        val aggs = columns.flatMap(c =>
          Seq(min(col(c).cast("double")), max(col(c).cast("double"))))
        val mm = rows.agg(aggs.head, aggs.tail: _*).collect().head
        val mins = columns.indices.map(i => if (mm.isNullAt(2 * i)) 0.0 else mm.getDouble(2 * i))
        val maxs = columns.indices.map(i => if (mm.isNullAt(2 * i + 1)) 0.0 else mm.getDouble(2 * i + 1))
        val z = AppendUtil.zorderColumn(columns.map(col), mins, maxs)
        val nOut = math.max(1, math.ceil(
          all.map(_.file.fileSizeInBytes).sum.toDouble / targetFileBytes).toInt)
        val clustered = rows.repartitionByRange(nOut, z).sortWithinPartitions(z)
        val commitUuid = java.util.UUID.randomUUID().toString
        val newFiles = writeDataFiles(clustered, commitUuid)
        Some(buildRewriteMetadata(base, Nil, all, newFiles, commitUuid,
          keepParentDeleteManifests = false) -> newFiles)
      }
    }
  }

  /**
   * Manifest compaction (`rewrite_manifests`): consolidate the current
   * snapshot's manifests into ONE manifest per (content, schema era,
   * partition-spec era). Metadata-only — no data or delete file moves;
   * every entry keeps its original snapshot id and sequence number, so
   * time travel and equality-delete sequence scoping are untouched.
   *
   * Why it matters at scale: fast appends and MOR DML each add O(1)
   * manifests per commit and carry the parents forward, so after N
   * commits every scan plans against N manifests. Periodic rewrite makes
   * planning O(eras) again — the metadata analogue of [[compact]].
   */
  def rewriteManifests(minInputManifests: Int = 2): Unit =
    rewriteManifestsImpl(None, minInputManifests)

  /** Cluster-scale manifest compaction: entry reads fan out as a Spark job
    * past `distributedThreshold` manifests per era group (the consolidated
    * manifest itself is still written by the driver — one writer per
    * output file is inherent to the format, and an era's entry list is
    * what any Iceberg-style manifest rewrite holds in memory). */
  def rewriteManifests(spark: SparkSession): Unit =
    rewriteManifestsImpl(Some((spark, TableScan.DistributedPlanThreshold)), 2)

  def rewriteManifests(spark: SparkSession, minInputManifests: Int,
                       distributedThreshold: Int): Unit =
    rewriteManifestsImpl(Some((spark, distributedThreshold)), minInputManifests)

  private def rewriteManifestsImpl(distributed: Option[(SparkSession, Int)],
                                   minInputManifests: Int): Unit =
    commitMetadata { base =>
      base.currentSnapshot.flatMap { parent =>
        val metadataDir = new Path(base.location, "metadata")
        val fs = metadataDir.getFileSystem(hadoopConf)
        val mfs = Manifests.readManifestList(fs, new Path(parent.manifestList))
        val groups = mfs.groupBy(mf => (mf.content, mf.schemaId, mf.partitionSpecId))
        // no-op when already consolidated (one manifest per era) or tiny
        if (mfs.size < minInputManifests || groups.size == mfs.size) None
        else {
          val attemptId = java.util.UUID.randomUUID().toString
          val snapshotId = math.abs(java.util.UUID.randomUUID().getLeastSignificantBits)
          val seq = base.lastSequenceNumber + 1
          val now = System.currentTimeMillis()
          // live entries of one era group, status reset to existing;
          // read driver-parallel, or as a Spark job past the threshold
          def readGroup(group: Seq[ManifestFile]): Seq[ManifestEntry] =
            distributed match {
              case Some((spark, threshold)) if group.size >= threshold =>
                val confBc = TableScan.taskConf(spark, hadoopConf)
                val slices = math.max(1, math.min(group.size,
                  spark.sparkContext.defaultParallelism * 4))
                spark.sparkContext.parallelize(group.map(_.manifestPath), slices)
                  .flatMap { mp =>
                    val p = new Path(mp)
                    val f = p.getFileSystem(confBc.value.value)
                    Manifests.readManifest(f, p).filter(_.isLive)
                      .map(_.copy(status = ManifestEntry.StatusExisting))
                  }.collect().toSeq
              case _ =>
                import scala.collection.parallel.CollectionConverters._
                group.par.flatMap(mf =>
                  Manifests.readManifest(fs, new Path(mf.manifestPath))
                    .filter(_.isLive)
                    .map(e => e.copy(status = ManifestEntry.StatusExisting))).seq
            }
          val rewritten = groups.toSeq.sortBy(_._1).zipWithIndex.map {
            case (((content, schemaId, specId), group), i) =>
              val entries = readGroup(group)
              val mPath = new Path(metadataDir, s"$attemptId-rwm-$i.avro")
              val eraSchema = base.schemaById(schemaId).getOrElse(base.currentSchema)
              val eraSpec = base.partitionSpecById(specId)
                .getOrElse(base.defaultPartitionSpec)
              val mLen = Manifests.writeManifest(fs, mPath, entries,
                eraSchema, eraSpec)
              ManifestFile(
                manifestPath = mPath.toString, manifestLength = mLen,
                partitionSpecId = specId, addedSnapshotId = snapshotId,
                addedFilesCount = 0, addedRowsCount = 0,
                schemaId = schemaId, content = content,
                sequenceNumber = seq,
                minSequenceNumber =
                  entries.map(_.sequenceNumber).minOption.getOrElse(seq),
                existingFilesCount = entries.size,
                existingRowsCount = entries.map(_.dataFile.recordCount).sum,
                partitions = Manifests.partitionSummaries(
                  entries.map(_.dataFile).toSeq, eraSpec, eraSchema))
          }
          val listPath = new Path(metadataDir, s"snap-$snapshotId-$attemptId.avro")
          Manifests.writeManifestList(fs, listPath, rewritten, snapshotId,
            base.currentSnapshotId, seq)
          val snap = Snapshot(
            snapshotId = snapshotId,
            parentSnapshotId = base.currentSnapshotId,
            sequenceNumber = seq,
            timestampMs = now,
            manifestList = listPath.toString,
            summary = parent.summary.view.filterKeys(_.startsWith("total-")).toMap ++
              Map("operation" -> "replace",
                "manifests-replaced" -> mfs.size.toString,
                "manifests-created" -> rewritten.size.toString),
            schemaId = Some(base.currentSchemaId))
          Some(base.copy(
            lastSequenceNumber = seq,
            lastUpdatedMs = now,
            currentSnapshotId = Some(snapshotId),
            snapshots = base.snapshots :+ snap,
            snapshotLog = base.snapshotLog :+ SnapshotLogEntry(now, snapshotId),
            refs = base.refs.updated("main", SnapshotRef(snapshotId, "branch"))))
        }
      }
    }

  /**
   * One-call table maintenance, in dependency order: fold pending MOR
   * delete debt back into data files ([[applyPendingDeletes]]), bin-pack
   * small files ([[compact]]), consolidate manifests
   * ([[rewriteManifests]]), expire old snapshots ([[expireSnapshots]]),
   * then sweep orphans ([[removeOrphanFiles]]) — the nightly job a
   * production table schedules. Each step is individually a no-op when
   * there is nothing to do; `snapshotRetention`/`orphanAge` default to
   * 7 days back from now. Cluster-safe: every step either rewrites
   * through Spark jobs by construction or (manifest reads, reachability,
   * orphan listing) fans out as one past the distributed threshold.
   */
  def maintain(spark: SparkSession,
               snapshotRetentionMs: Long = 7L * 24 * 3600 * 1000,
               retainLast: Int = 1,
               smallFileBytes: Long = 64L * 1024 * 1024): Seq[String] = {
    val now = System.currentTimeMillis()
    applyPendingDeletes(spark)
    compact(spark, smallFileBytes)
    rewriteManifests(spark)
    expireSnapshots(spark, now - snapshotRetentionMs, retainLast,
      TableScan.DistributedPlanThreshold)
    removeOrphanFiles(spark, now - snapshotRetentionMs)
  }

  /**
   * Remove orphan files (`remove_orphan_files`): physically delete files
   * under the table's `data/` and `metadata/` directories that no
   * snapshot references — leftovers of crashed writers and lost commit
   * races (the commit loop's discard of failed attempts is best-effort; a
   * killed JVM never runs it). Only files last modified before
   * `olderThanMs` are touched, so an in-flight commit — files written,
   * CAS not yet won — is never swept. Returns the deleted paths.
   *
   * Scale shape: reachability is the same parallel manifest walk
   * [[expireSnapshots]] uses (O(live manifests) reads, `.par` across
   * snapshots and manifests); the directory listing streams file-by-file,
   * holding only the referenced-path set in memory.
   */
  def removeOrphanFiles(olderThanMs: Long): Seq[String] = {
    import scala.collection.parallel.CollectionConverters._
    refresh()
    val fs = new Path(meta.location).getFileSystem(hadoopConf)
    // metadata records paths in mixed forms ("/w/x", "file:/w/x",
    // "file:///w/x") — qualify against the FS so set-membership is exact
    def norm(s: String): String =
      fs.makeQualified(new Path(s.replaceFirst("^file:/+", "/"))).toString
    // Referenced = every file (live or not) of EVERY retained snapshot's
    // manifest graph. Expired history is expireSnapshots' job, not ours.
    val referenced: Set[String] = meta.snapshots.par.flatMap { s =>
      val mfs = Manifests.readManifestList(fs, new Path(s.manifestList))
      val data = mfs.par.flatMap { mf =>
        Manifests.readManifest(fs, new Path(mf.manifestPath))
          .map(_.dataFile.filePath)
      }.seq
      (data ++ mfs.map(_.manifestPath) :+ s.manifestList).map(norm)
    }.seq.toSet
    val deleted = scala.collection.mutable.ArrayBuffer[String]()
    def sweep(dir: Path, eligible: Path => Boolean): Unit = {
      if (!fs.exists(dir)) return
      val it = fs.listFiles(dir, true)
      while (it.hasNext) {
        val st = it.next()
        val name = st.getPath.getName
        // skip hidden/marker files (_SUCCESS, .crc): cheap noise, and
        // deleting a committer's in-progress markers could corrupt a write
        if (st.isFile && eligible(st.getPath) &&
            !name.startsWith("_") && !name.startsWith(".") &&
            st.getModificationTime < olderThanMs &&
            !referenced.contains(norm(st.getPath.toString))) {
          if (fs.delete(st.getPath, false)) deleted += st.getPath.toString
        }
      }
    }
    sweep(new Path(meta.location, "data"), _ => true)
    // metadata dir: only the snapshot graph's Avro files are ours to sweep —
    // metadata.json history and the version hint belong to the catalog
    sweep(new Path(meta.location, "metadata"), _.getName.endsWith(".avro"))
    deleted.toSeq
  }

  /**
   * Cluster-scale orphan sweep: reachability runs as a Spark job over the
   * manifests ([[Reachability]] — the planFilesDistributed pattern), the
   * candidate listing fans out one task per commit directory, and
   * membership is a LEFT ANTI join — no referenced-path Set ever
   * materializes in driver memory (at 10⁷ live files that Set is GBs).
   * Only the orphan list itself (normally tiny) returns to the driver.
   * Below `distributedThreshold` manifests this delegates to the
   * driver-parallel single-argument overload.
   */
  def removeOrphanFiles(spark: SparkSession, olderThanMs: Long): Seq[String] =
    removeOrphanFiles(spark, olderThanMs, TableScan.DistributedPlanThreshold)

  def removeOrphanFiles(spark: SparkSession, olderThanMs: Long,
                        distributedThreshold: Int): Seq[String] = {
    import spark.implicits._
    refresh()
    val fs = new Path(meta.location).getFileSystem(hadoopConf)
    val manifests = Reachability.manifestInventory(fs, meta.snapshots)
    if (manifests.size < distributedThreshold) return removeOrphanFiles(olderThanMs)
    val confBc = TableScan.taskConf(spark, hadoopConf)
    // referenced paths, qualified on the executors exactly like the
    // driver path's norm (metadata records "/w/x", "file:/w/x",
    // "file:///w/x" interchangeably)
    val refs = Reachability.referenced(spark, hadoopConf, meta.snapshots,
        manifests, liveOnly = false)
      .mapPartitions { it =>
        var f: org.apache.hadoop.fs.FileSystem = null
        it.map { s =>
          val p = new Path(s.replaceFirst("^file:/+", "/"))
          if (f == null) f = p.getFileSystem(confBc.value.value)
          f.makeQualified(p).toString
        }
      }.toDF("ref").distinct()

    // candidate files: one listing task per top-level child of data/
    // (each a per-commit directory or a commit's Puffin file), plus the
    // metadata dir's Avro graph — the recursive listing itself is
    // distributed, so a 10⁷-file table never streams through one thread
    def shard(dir: Path, avroOnly: Boolean): Seq[(String, Boolean)] =
      if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).map(s => (s.getPath.toString, avroOnly)).toSeq
    val work = shard(new Path(meta.location, "data"), avroOnly = false) ++
      shard(new Path(meta.location, "metadata"), avroOnly = true)
    if (work.isEmpty) return Nil
    val cutoff = olderThanMs
    val cand = spark.createDataset(work)
      .repartition(math.min(work.size, spark.sparkContext.defaultParallelism * 4))
      .flatMap { case (root, avroOnly) =>
        val p = new Path(root)
        val f = p.getFileSystem(confBc.value.value)
        val stats =
          if (!f.exists(p)) Iterator.empty
          else if (f.getFileStatus(p).isFile) Iterator(f.getFileStatus(p))
          else {
            val it = f.listFiles(p, true)
            Iterator.continually(()).takeWhile(_ => it.hasNext).map(_ => it.next())
          }
        stats.filter { s =>
          val name = s.getPath.getName
          s.isFile && !name.startsWith("_") && !name.startsWith(".") &&
            s.getModificationTime < cutoff && (!avroOnly || name.endsWith(".avro"))
        }.map(s => (f.makeQualified(s.getPath).toString, s.getPath.toString))
      }.toDF("norm", "orig")

    val orphans = cand.join(refs, cand("norm") === refs("ref"), "left_anti")
    orphans.select("orig").as[String].mapPartitions { it =>
      var f: org.apache.hadoop.fs.FileSystem = null
      it.flatMap { s =>
        val p = new Path(s)
        if (f == null) f = p.getFileSystem(confBc.value.value)
        if (f.delete(p, false)) Some(s) else None
      }
    }.collect().toSeq
  }

  // --------------------------------------------------------- refs (tags)

  /** Tag the current (or given) snapshot with a name. */
  def createTag(name: String, snapshotId: Option[Long] = None): Unit =
    addRef(name, "tag", snapshotId)

  /** Create a named branch at the current (or given) snapshot. */
  def createBranch(name: String, snapshotId: Option[Long] = None): Unit =
    addRef(name, "branch", snapshotId)

  private def addRef(name: String, refType: String, snapshotId: Option[Long]): Unit = {
    val sid = snapshotId.orElse(meta.currentSnapshotId).getOrElse(
      throw new InvalidDataError("table has no snapshot to reference"))
    if (meta.snapshotById(sid).isEmpty)
      throw new InvalidDataError(s"no snapshot with id $sid")
    commitMetadata { base =>
      if (base.snapshotById(sid).isEmpty)
        throw new InvalidDataError(s"no snapshot with id $sid")
      Some(base.copy(refs = base.refs.updated(name, SnapshotRef(sid, refType))))
    }
  }

  /** Drop a named ref (tag or branch). `main` is the table's lifeline and
    * cannot be dropped; the referenced snapshots stay until expiration. */
  def dropRef(name: String): Unit = {
    if (name == "main")
      throw new InvalidDataError("cannot drop the main branch")
    if (!meta.refs.contains(name))
      throw new InvalidDataError(s"no ref named $name")
    commitMetadata { base =>
      if (!base.refs.contains(name)) None
      else Some(base.copy(refs = base.refs - name))
    }
  }

  /** Scan pinned to a named ref (tag or branch). */
  def scanRef(name: String, predicates: Seq[ScanPredicate] = Nil): TableScan = {
    val snap = meta.snapshotForRef(name).getOrElse(
      throw new InvalidDataError(s"no ref named $name"))
    new TableScan(this, Some(snap), predicates)
  }

  /** Copy-on-write overwrite: atomically replace the table's entire
    * contents with `df` (one snapshot; old snapshots keep their files). */
  def overwrite(df: DataFrame): Unit = overwrite(df, Map.empty[String, String])

  /** [[overwrite]] with extra snapshot-summary entries (e.g. the streaming
    * query/batch stamps [[graft.streaming.StreamingOps]] uses for
    * exactly-once replay detection). */
  def overwrite(df: DataFrame, extraSummary: Map[String, String]): Unit = {
    writable()
    val commitUuid = java.util.UUID.randomUUID().toString
    val newFiles = writeDataFiles(AppendUtil.align(df, meta.currentSchema), commitUuid)
    val attemptIds = Iterator.from(0).map(i => s"$commitUuid-$i")
    commitWithRetry(writtenOnce = newFiles) { base =>
      val affected = new TableScan(this, base.currentSnapshot, Nil).planFiles()
      Some(buildRewriteMetadata(base, Nil, affected, newFiles, attemptIds.next(),
        keepParentDeleteManifests = false, extraSummary = extraSummary) -> Nil)
    }
  }

  /**
   * Atomic filter-scoped overwrite (SQL `INSERT OVERWRITE … PARTITION (…)`
   * in static mode, `DataFrameWriterV2.overwrite(cond)`): remove every row
   * matching `predicates` (+ an optional arbitrary SQL `condition`) and add
   * `df`, in ONE snapshot — a reader sees the old rows or the new rows,
   * never neither, and a concurrent reader of an old snapshot is untouched.
   *
   * The delete side is copy-on-write with a two-tier rewrite bound:
   *  1. files whose every live row PROVABLY matches (identity partition
   *     value or closed column bounds — [[ScanPruning.strictFileEvolved]])
   *     are dropped from metadata without being read: the common
   *     partition-aligned overwrite ("replace day X") is metadata-only on
   *     the delete side;
   *  2. the remaining affected files go through the same discovery pass as
   *     [[deleteCopyOnWrite]] — only files that provably HOLD a matching
   *     row are rewritten (without their matching rows).
   * Replacing one day of a 100 TB day-partitioned table therefore reads
   * and rewrites only the rare files that straddle the predicate, never
   * the partition, never the table. The appended files are written once
   * and reused across CAS retries; only the (usually tiny) rewrite side is
   * regenerated per attempt.
   */
  def overwriteWhere(spark: SparkSession, predicates: Seq[ScanPredicate], df: DataFrame,
                     condition: Option[String] = None): Unit = {
    if (predicates.isEmpty && condition.isEmpty) { overwrite(df); return }
    writable()
    val appendUuid = java.util.UUID.randomUUID().toString
    val appended = writeDataFiles(AppendUtil.align(df, meta.currentSchema), appendUuid)
    commitWithRetry(replan = true, writtenOnce = appended) { base =>
      val affectedScan = scan(None, predicates)
      val (affected0, kept) = affectedScan.planFilesPartitioned()
      // tier 1: strict full-file matches drop unread (predicates only — an
      // arbitrary extra condition can never be proven file-wide from stats)
      val (dropped, affected) =
        if (condition.isDefined) (Nil, affected0)
        else affected0.partition(t => ScanPruning.strictFileEvolved(predicates, t.file,
          base.partitionSpecById(t.specId).getOrElse(base.defaultPartitionSpec),
          base.schemaById(t.schemaId).getOrElse(base.currentSchema), base.currentSchema))
      // tier 2: discovery — which remaining files hold at least one match
      val matchedFiles = cowMatchedFiles(spark, affectedScan, affected, condition)
      if (dropped.isEmpty && matchedFiles.isEmpty) {
        // pure append — no rows to remove anywhere; O(commit) fast-append
        if (appended.nonEmpty) commitAppend(appended, appendUuid)
        None
      } else {
        val (rewriteSet, carried) = affected.partition(t => matchedFiles.contains(t.filePath))
        val commitUuid = java.util.UUID.randomUUID().toString
        val newFiles =
          if (rewriteSet.isEmpty) Nil
          else writeDataFiles(affectedScan.materializeTasks(spark, rewriteSet)
            .filter(!cowMatchAll(affectedScan, predicates, condition)), commitUuid)
        Some(buildRewriteMetadata(base, kept ++ carried, dropped ++ rewriteSet,
          newFiles ++ appended, commitUuid, keepParentDeleteManifests = true) -> newFiles)
      }
    }
  }

  /**
   * Dynamic-partition overwrite, DataFrame form (Iceberg's
   * `overwritePartitions()`): write `df` through the batch partitioned
   * path, then atomically replace exactly the CURRENT-spec partitions the
   * new files landed in. Partitions `df` does not touch keep their files;
   * on an unpartitioned table this degenerates to a full overwrite (the
   * one empty tuple matches everything) — same semantics as Iceberg.
   */
  def overwritePartitions(df: DataFrame): Unit = {
    writable()
    commitDynamicOverwrite(writeDataFiles(AppendUtil.align(df, meta.currentSchema),
      java.util.UUID.randomUUID().toString))
  }

  /**
   * Commit side of dynamic-partition overwrite (shared by
   * [[overwritePartitions]] and the executor-side DSv2 writer): one
   * snapshot that removes every live file whose CURRENT-spec partition
   * tuple appears among `newFiles`' tuples and adds `newFiles`. Files
   * written under older partition specs are never tuple-matched (their
   * tuples live in a different key space — the same per-spec equality
   * Iceberg's ReplacePartitions applies). Empty `newFiles` is a no-op:
   * no data ⇒ no partitions to replace.
   */
  private[graft] def commitDynamicOverwrite(newFiles: Seq[graft.manifest.DataFile]): Unit = {
    writable()
    if (newFiles.isEmpty) return
    val tuples = newFiles.map(_.partition).toSet
    commitWithRetry(replan = true, writtenOnce = newFiles) { base =>
      val all = new TableScan(this, base.currentSnapshot, Nil).planFiles()
      val (replaced, kept) = all.partition(t =>
        t.specId == base.defaultSpecId && tuples.contains(t.file.partition))
      Some(buildRewriteMetadata(base, kept, replaced, newFiles,
        java.util.UUID.randomUUID().toString, keepParentDeleteManifests = true) -> Nil)
    }
  }

  /** File-level append (the V2 streaming sink's per-epoch commit):
    * `files` were already written by executors; this only commits
    * metadata — O(files) driver work per micro-batch. Empty epochs
    * commit nothing (and need no replay bookkeeping: replaying a
    * no-op is a no-op). Files that are not `owned` survive a failed
    * commit (see [[commitAppend]]). */
  private[graft] def appendFiles(files: Seq[graft.manifest.DataFile],
                                 extraSummary: Map[String, String] = Map.empty,
                                 toBranch: String = "main",
                                 owned: Boolean = true): Unit = {
    writable()
    if (files.nonEmpty)
      commitAppend(files, java.util.UUID.randomUUID().toString, extraSummary, toBranch, owned)
  }

  /** File-level MOR row delta (the V2 streaming UPSERT sink's per-epoch
    * commit): equality-delete + data files were already written by the
    * executors; this commits metadata only — the file-level analogue of
    * [[upsert]], sharing its sequence semantics (deletes and data take the
    * commit's sequence, equality deletes apply strictly below it). The
    * write-era schema/spec ids pin the manifests when a CAS retry lands on
    * evolved metadata. Empty epochs commit nothing. */
  private[graft] def commitRowDelta(deleteFiles: Seq[graft.manifest.DataFile],
                                    dataFiles: Seq[graft.manifest.DataFile],
                                    extraSummary: Map[String, String] = Map.empty,
                                    toBranch: String = "main",
                                    writeSchemaId: Option[Int] = None,
                                    writeSpecId: Option[Int] = None): Unit = {
    writable()
    if (deleteFiles.isEmpty && dataFiles.isEmpty) return
    val commitUuid = java.util.UUID.randomUUID().toString
    val attemptIds = Iterator.from(0).map(i => s"$commitUuid-$i")
    commitWithRetry(writtenOnce = deleteFiles ++ dataFiles) { base =>
      Some(buildMorDmlMetadata(base, deleteFiles, dataFiles, attemptIds.next(),
        "overwrite", extraSummary, writeSchemaId = writeSchemaId,
        writeSpecId = writeSpecId, toBranch = toBranch) -> Nil)
    }
  }

  /** File-level full replacement (a Complete-mode streaming epoch): one
    * snapshot that removes every live file and adds `files`. An EMPTY
    * `files` still commits — Complete mode's contract is "the table equals
    * this epoch's result", even when that result has no rows. */
  private[graft] def overwriteAllWithFiles(files: Seq[graft.manifest.DataFile],
                                           extraSummary: Map[String, String] = Map.empty): Unit =
    commitWithRetry(replan = true, writtenOnce = files) { base =>
      val all = new TableScan(this, base.currentSnapshot, Nil).planFiles()
      Some(buildRewriteMetadata(base, Nil, all, files, java.util.UUID.randomUUID().toString,
        keepParentDeleteManifests = false, extraSummary = extraSummary) -> Nil)
    }

  /** Snapshot for a rewrite: ONE data manifest holding kept (original
    * sequence numbers) + added entries; parent delete manifests carried
    * when the kept set still needs them. */
  private def buildRewriteMetadata(base: TableMetadata, kept: Seq[FileScanTask],
                                   removed: Seq[FileScanTask],
                                   added0: Seq[graft.manifest.DataFile],
                                   attemptId: String,
                                   keepParentDeleteManifests: Boolean,
                                   toBranch: String = "main",
                                   extraSummary: Map[String, String] = Map.empty): TableMetadata = {
    val metadataDir = new Path(base.location, "metadata")
    val fs = metadataDir.getFileSystem(hadoopConf)
    val snapshotId = math.abs(java.util.UUID.randomUUID().getLeastSignificantBits)
    val seq = base.lastSequenceNumber + 1
    val now = System.currentTimeMillis()
    val parentSnap = branchParent(base, toBranch)
    // v3: rewritten rows take FRESH row ids (see assignRowIds Scaladoc)
    val (added, nextRowId) = assignRowIds(base, added0)

    // kept files keep their ORIGIN schema/spec: a file written before a
    // schema or partition evolution must stay in a manifest stamped with
    // its own era, or field-id projection and per-spec pruning re-key it
    // wrongly. One manifest per surviving (schemaId, specId) era + one for
    // the added files under the current era.
    val keptManifests = kept.groupBy(t => (t.schemaId, t.specId)).toSeq
      .sortBy(_._1).zipWithIndex.map { case (((schemaId, specId), group), i) =>
        val mPath = new Path(metadataDir, s"$attemptId-rw-k$i.avro")
        val eraSchema = base.schemaById(schemaId).getOrElse(base.currentSchema)
        val eraSpec = base.partitionSpecById(specId).getOrElse(base.defaultPartitionSpec)
        val mLen = Manifests.writeManifest(fs, mPath,
          group.map(t => ManifestEntry(ManifestEntry.StatusExisting, snapshotId,
            t.sequenceNumber, t.file)),
          eraSchema, eraSpec)
        ManifestFile(
          manifestPath = mPath.toString, manifestLength = mLen,
          partitionSpecId = specId, addedSnapshotId = snapshotId,
          addedFilesCount = 0, addedRowsCount = 0,
          schemaId = schemaId, content = 0,
          sequenceNumber = seq,
          minSequenceNumber = group.map(_.sequenceNumber).min,
          existingFilesCount = group.size,
          existingRowsCount = group.map(_.recordCount).sum,
          partitions = Manifests.partitionSummaries(group.map(_.file), eraSpec, eraSchema))
      }
    val addedManifest: Option[ManifestFile] = if (added.isEmpty && kept.nonEmpty) None else {
      val mPath = new Path(metadataDir, s"$attemptId-rw-m0.avro")
      val mLen = Manifests.writeManifest(fs, mPath,
        added.map(f => ManifestEntry(ManifestEntry.StatusAdded, snapshotId, seq, f)),
        base.currentSchema, base.defaultPartitionSpec)
      Some(ManifestFile(
        manifestPath = mPath.toString, manifestLength = mLen,
        partitionSpecId = base.defaultSpecId, addedSnapshotId = snapshotId,
        addedFilesCount = added.size, addedRowsCount = added.map(_.recordCount).sum,
        schemaId = base.currentSchemaId, content = 0,
        sequenceNumber = seq, minSequenceNumber = seq,
        partitions = Manifests.partitionSummaries(added,
          base.defaultPartitionSpec, base.currentSchema)))
    }
    val newManifests: Seq[ManifestFile] = keptManifests ++ addedManifest.toSeq
    val parentDeleteManifests: Seq[ManifestFile] =
      if (!keepParentDeleteManifests) Nil
      else parentSnap.toSeq.flatMap(p =>
        Manifests.readManifestList(fs, new Path(p.manifestList)).filter(_.content == 1))
    val listPath = new Path(metadataDir, s"snap-$snapshotId-$attemptId.avro")
    Manifests.writeManifestList(fs, listPath, newManifests ++ parentDeleteManifests,
      snapshotId, parentSnap.map(_.snapshotId), seq)

    val prevTotal = parentSnap
      .flatMap(_.summary.get("total-records")).map(_.toLong).getOrElse(0L)
    val removedRecords = removed.map(_.recordCount).sum
    val addedRecords = added.map(_.recordCount).sum
    val snap = Snapshot(
      snapshotId = snapshotId,
      parentSnapshotId = parentSnap.map(_.snapshotId),
      sequenceNumber = seq,
      timestampMs = now,
      manifestList = listPath.toString,
      summary = extraSummary ++ Map(
        "operation" -> "overwrite",
        "added-data-files" -> added.size.toString,
        "added-records" -> addedRecords.toString,
        "deleted-data-files" -> removed.size.toString,
        "deleted-records" -> removedRecords.toString,
        "total-records" -> (prevTotal - removedRecords + addedRecords).toString,
        "total-data-files" -> (kept.size + added.size).toString),
      schemaId = Some(base.currentSchemaId),
      firstRowId = if (base.formatVersion >= 3) Some(base.nextRowId) else None)

    advanceBranch(base, snap, toBranch, now, nextRowId)
  }

  /** The parent snapshot a `toBranch`-scoped commit builds on: the branch
    * head, or (for a branch with no head yet — first write forks it) the
    * main head. Tags are immutable. */
  private def branchParent(base: TableMetadata, toBranch: String): Option[Snapshot] = {
    base.refs.get(toBranch).foreach { r =>
      if (r.refType == "tag")
        throw new InvalidDataError(s"cannot write to tag '$toBranch' (tags are immutable)")
    }
    if (toBranch == "main") base.currentSnapshot
    else base.snapshotForRef(toBranch).orElse(base.currentSnapshot)
  }

  /** Register `snap` and move `toBranch` to it. Only a main commit
    * advances currentSnapshotId and the snapshot log — branch commits
    * stay invisible to plain readers until a fast-forward publishes
    * them (the write-audit-publish contract). */
  private def advanceBranch(base: TableMetadata, snap: Snapshot, toBranch: String,
                            now: Long, nextRowId: Long): TableMetadata = {
    val advanced = base.copy(
      lastSequenceNumber = snap.sequenceNumber,
      lastUpdatedMs = now,
      snapshots = base.snapshots :+ snap,
      refs = base.refs.updated(toBranch, SnapshotRef(snap.snapshotId, "branch")),
      nextRowId = nextRowId)
    if (toBranch == "main")
      advanced.copy(
        currentSnapshotId = Some(snap.snapshotId),
        snapshotLog = base.snapshotLog :+ SnapshotLogEntry(now, snap.snapshotId))
    else advanced
  }

  /** Snapshot for a merge-on-read DML: every parent manifest carried as-is
    * (fast-append-style — nothing rewritten), plus one new delete manifest
    * (content=1) and, for UPDATE, one new data manifest. Commit metadata
    * cost is O(1) manifests regardless of table size. */
  private def buildMorDmlMetadata(base: TableMetadata,
                                  deleteFiles: Seq[graft.manifest.DataFile],
                                  dataFiles0: Seq[graft.manifest.DataFile],
                                  attemptId: String,
                                  operation: String,
                                  extraSummary: Map[String, String] = Map.empty,
                                  writeSchemaId: Option[Int] = None,
                                  writeSpecId: Option[Int] = None,
                                  supersede: Set[(String, Long)] = Set.empty,
                                  newPosRecords: Option[Long] = None,
                                  toBranch: String = "main"): TableMetadata = {
    val metadataDir = new Path(base.location, "metadata")
    val fs = metadataDir.getFileSystem(hadoopConf)
    val snapshotId = math.abs(java.util.UUID.randomUUID().getLeastSignificantBits)
    val seq = base.lastSequenceNumber + 1
    val now = System.currentTimeMillis()
    val parentSnap = branchParent(base, toBranch)

    // format-v3 row lineage: new data files take explicit first_row_id
    // values from the metadata's next-row-id counter
    val (dataFiles, nextRowId) = assignRowIds(base, dataFiles0)

    // manifests are stamped with the era the files were WRITTEN under —
    // normally base's current era, but a caller that wrote files once and
    // retries the CAS against refreshed metadata pins the original era
    val wSchema = writeSchemaId.flatMap(base.schemaById).getOrElse(base.currentSchema)
    val wSpec = writeSpecId.flatMap(base.partitionSpecById).getOrElse(base.defaultPartitionSpec)

    def writeOne(files: Seq[graft.manifest.DataFile], suffix: String,
                 content: Int): ManifestFile = {
      val mPath = new Path(metadataDir, s"$attemptId-$suffix.avro")
      val mLen = Manifests.writeManifest(fs, mPath,
        files.map(f => ManifestEntry(ManifestEntry.StatusAdded, snapshotId, seq, f)),
        wSchema, wSpec)
      ManifestFile(
        manifestPath = mPath.toString, manifestLength = mLen,
        partitionSpecId = wSpec.specId, addedSnapshotId = snapshotId,
        addedFilesCount = files.size, addedRowsCount = files.map(_.recordCount).sum,
        schemaId = wSchema.schemaId, content = content,
        sequenceNumber = seq, minSequenceNumber = seq,
        partitions = Manifests.partitionSummaries(files, wSpec, wSchema))
    }
    val delManifest: Option[ManifestFile] =
      if (deleteFiles.isEmpty) None else Some(writeOne(deleteFiles, "del-m0", content = 1))
    val dataManifest: Option[ManifestFile] =
      if (dataFiles.isEmpty) None else Some(writeOne(dataFiles, "m0", content = 0))

    // Parent manifests carry forward untouched (fast-append shape) EXCEPT
    // delete manifests holding superseded deletion-vector entries — a new
    // DV replaces the file's old one, so the old entry must leave the
    // snapshot (scan correctness doesn't depend on it: applying both would
    // just re-hide hidden rows; planning cost and the one-DV-per-file
    // invariant do). Only manifests that actually contain one are
    // rewritten; the superseded Puffin blobs stay on disk for time travel
    // until expiration.
    val parents0 = parentSnap.toSeq.flatMap(p =>
      Manifests.readManifestList(fs, new Path(p.manifestList)))
    val parents = if (supersede.isEmpty) parents0 else {
      parents0.zipWithIndex.map { case (mf, i) =>
        if (mf.content != 1) mf
        else {
          val entries = Manifests.readManifest(fs, new Path(mf.manifestPath))
          val (dropped, kept) = entries.partition(e =>
            e.isLive && supersede.contains(
              (e.dataFile.filePath, e.dataFile.contentOffset.getOrElse(-1L))))
          if (dropped.isEmpty) mf
          else {
            val mPath = new Path(metadataDir, s"$attemptId-del-rw$i.avro")
            val eraSchema = base.schemaById(mf.schemaId).getOrElse(base.currentSchema)
            val eraSpec = base.partitionSpecById(mf.partitionSpecId)
              .getOrElse(base.defaultPartitionSpec)
            val live = kept.filter(_.isLive)
            val mLen = Manifests.writeManifest(fs, mPath,
              live.map(_.copy(status = ManifestEntry.StatusExisting)) ++
                dropped.map(_.copy(status = ManifestEntry.StatusDeleted)),
              eraSchema, eraSpec)
            mf.copy(manifestPath = mPath.toString, manifestLength = mLen,
              addedFilesCount = 0, addedRowsCount = 0,
              existingFilesCount = live.size,
              existingRowsCount = live.map(_.dataFile.recordCount).sum,
              deletedFilesCount = dropped.size,
              deletedRowsCount = dropped.map(_.dataFile.recordCount).sum)
          }
        }
      }
    }
    val listPath = new Path(metadataDir, s"snap-$snapshotId-$attemptId.avro")
    Manifests.writeManifestList(fs, listPath,
      parents ++ dataManifest.toSeq ++ delManifest.toSeq,
      snapshotId, parentSnap.map(_.snapshotId), seq)

    val prevTotal = parentSnap
      .flatMap(_.summary.get("total-records")).map(_.toLong).getOrElse(0L)
    // each position delete hides exactly one row, so total-records can net
    // it out (for DVs the caller passes the NEWLY hidden count — a merged
    // bitmap's cardinality re-counts previously deleted rows); an equality
    // delete's hidden-row count is unknowable at commit time (reported
    // separately, not subtracted — Iceberg parity)
    val posRecords = newPosRecords.getOrElse(
      deleteFiles.filter(_.content == 1).map(_.recordCount).sum)
    val eqRecords = deleteFiles.filter(_.content == 2).map(_.recordCount).sum
    val addedRecords = dataFiles.map(_.recordCount).sum
    val snap = Snapshot(
      snapshotId = snapshotId,
      parentSnapshotId = parentSnap.map(_.snapshotId),
      sequenceNumber = seq,
      timestampMs = now,
      manifestList = listPath.toString,
      summary = extraSummary ++ Map(
        "operation" -> operation,
        "added-delete-files" -> deleteFiles.size.toString,
        "added-position-deletes" -> posRecords.toString,
        "added-equality-deletes" -> eqRecords.toString,
        "added-data-files" -> dataFiles.size.toString,
        "added-records" -> addedRecords.toString,
        "total-records" -> (prevTotal - posRecords + addedRecords).toString),
      schemaId = Some(base.currentSchemaId),
      firstRowId = if (base.formatVersion >= 3) Some(base.nextRowId) else None)

    advanceBranch(base, snap, toBranch, now, nextRowId)
  }

  /** Format-v3 row lineage: stamp each new data file with an explicit
    * `first_row_id` drawn from the metadata's `next-row-id` counter (we
    * always write explicit values rather than relying on manifest-level
    * inheritance). Returns the files and the advanced counter; v1/v2
    * pass through untouched. Copy-on-write rewrites assign FRESH ids to
    * rewritten rows — carrying ids through a rewrite requires
    * materializing a `_row_id` column into the files, which is why v3
    * tables pair row lineage with merge-on-read DML (DVs never rewrite
    * surviving rows, so their ids are stable). */
  private def assignRowIds(base: TableMetadata,
                           files: Seq[graft.manifest.DataFile])
      : (Seq[graft.manifest.DataFile], Long) =
    if (base.formatVersion < 3) (files, base.nextRowId)
    else {
      var next = base.nextRowId
      val assigned = files.map { f =>
        val g = f.copy(firstRowId = Some(next))
        next += f.recordCount
        g
      }
      (assigned, next)
    }

  /** Fast-append commit: new manifest + manifest-list + metadata, CAS'd
    * through the catalog; on conflict, refresh and rebuild (the data files
    * are already safely on disk — only metadata is retried). `owned` files
    * were written for this commit and are deleted if it finally fails;
    * files that are not owned (a caller's imported Parquet, a cherry-picked
    * snapshot's data) are never deleted. */
  private def commitAppend(files: Seq[graft.manifest.DataFile],
                           commitUuid: String,
                           extraSummary: Map[String, String] = Map.empty,
                           toBranch: String = "main",
                           owned: Boolean = true): Unit = {
    val attemptIds = Iterator.from(0).map(i => s"$commitUuid-$i")
    commitWithRetry(writtenOnce = if (owned) files else Nil) { base =>
      Some(buildAppendMetadata(base, files, attemptIds.next(), extraSummary, toBranch) -> Nil)
    }
  }

  private def buildAppendMetadata(base: TableMetadata,
                                  files0: Seq[graft.manifest.DataFile],
                                  attemptId: String,
                                  extraSummary: Map[String, String] = Map.empty,
                                  toBranch: String = "main"): TableMetadata = {
    val metadataDir = new Path(base.location, "metadata")
    val fs = metadataDir.getFileSystem(hadoopConf)
    val snapshotId = math.abs(java.util.UUID.randomUUID().getLeastSignificantBits)
    val seq = base.lastSequenceNumber + 1
    val now = System.currentTimeMillis()
    // v3 row lineage (row ids are table-global, so branch appends draw
    // from the same counter — a later fast-forward publishes stable ids)
    val (files, nextRowId) = assignRowIds(base, files0)
    // a branch append parents at the BRANCH head (forking from main's head
    // on first write to a new branch); sequence numbers stay table-global
    val parentSnap: Option[Snapshot] = branchParent(base, toBranch)

    // new manifest with the added files
    val manifestPath = new Path(metadataDir, s"$attemptId-m0.avro")
    val entries = files.map(f => ManifestEntry(ManifestEntry.StatusAdded, snapshotId, seq, f))
    val manifestLen = Manifests.writeManifest(fs, manifestPath, entries,
      base.currentSchema, base.defaultPartitionSpec)
    val newManifest = ManifestFile(
      manifestPath = manifestPath.toString,
      manifestLength = manifestLen,
      partitionSpecId = base.defaultSpecId,
      addedSnapshotId = snapshotId,
      addedFilesCount = files.size,
      addedRowsCount = files.map(_.recordCount).sum,
      schemaId = base.currentSchemaId,
      content = 0,
      sequenceNumber = seq,
      minSequenceNumber = seq,
      partitions = Manifests.partitionSummaries(files,
        base.defaultPartitionSpec, base.currentSchema))

    // manifest list = parent's manifests + the new one (fast append: no
    // rewrite of existing manifests)
    val parentManifests: Seq[ManifestFile] = parentSnap match {
      case Some(parent) =>
        Manifests.readManifestList(fs, new Path(parent.manifestList))
      case None => Nil
    }
    val listPath = new Path(metadataDir, s"snap-$snapshotId-$attemptId.avro")
    Manifests.writeManifestList(fs, listPath, parentManifests :+ newManifest,
      snapshotId, parentSnap.map(_.snapshotId), seq)

    val addedRecords = files.map(_.recordCount).sum
    val prevTotal = parentSnap
      .flatMap(_.summary.get("total-records")).map(_.toLong).getOrElse(0L)
    val prevFiles = parentSnap
      .flatMap(_.summary.get("total-data-files")).map(_.toLong).getOrElse(0L)
    val snap = Snapshot(
      snapshotId = snapshotId,
      parentSnapshotId = parentSnap.map(_.snapshotId),
      sequenceNumber = seq,
      timestampMs = now,
      manifestList = listPath.toString,
      summary = Map(
        "operation" -> "append",
        "added-data-files" -> files.size.toString,
        "added-records" -> addedRecords.toString,
        "added-files-size" -> files.map(_.fileSizeInBytes).sum.toString,
        "total-records" -> (prevTotal + addedRecords).toString,
        "total-data-files" -> (prevFiles + files.size).toString) ++ extraSummary,
      schemaId = Some(base.currentSchemaId),
      firstRowId = if (base.formatVersion >= 3) Some(base.nextRowId) else None)

    advanceBranch(base, snap, toBranch, now, nextRowId)
  }

  override def toString: String = s"Table($ident)"
}

object Table {
  /** Retries after the first CAS attempt before a commit gives up with
    * the last [[CommitConflictError]] — six attempts in all. */
  val MaxCommitRetries: Int = 5

  /** Footer-stats bound string → the external partition-tuple rendering
    * the scan's partition parsing expects (identity transforms only; the
    * same forms the batch write's cast-to-string tuples take). */
  private[table] def partitionValueString(raw: String, t: graft.types.IType,
                                          file: String): String = t match {
    case graft.types.IInt | graft.types.ILong | graft.types.IString |
         graft.types.IBoolean | graft.types.IDecimal(_, _) => raw
    case graft.types.IDate => // stats record epoch days; tuples are ISO dates
      java.time.LocalDate.ofEpochDay(raw.toLong).toString
    case other =>
      throw new graft.InvalidDataError(
        s"addFiles: partition source type $other is not supported for foreign files ($file)")
  }
}

/** Read-only table loaded directly from a metadata.json path, no catalog
  * (ref `lib/iceberg/static_table.rb:3-7`, `ext/iceberg/src/table.rs:133-146`). */
object StaticTable {
  def load(metadataLocation: String,
           conf: Configuration = new Configuration()): Table = {
    val p = new Path(metadataLocation)
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen.toInt
    val buf = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(0, buf) finally in.close()
    val meta = MetadataJson.read(new String(buf, "UTF-8"))
    new Table(None, TableIdent(Seq("static"), p.getName), meta, conf)
  }
}
