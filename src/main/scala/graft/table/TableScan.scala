package graft.table

import graft.manifest.{DataFile, ManifestEntry, Manifests}
import graft.meta.{PartitionSpec, Snapshot}
import graft.transforms._
import graft.types._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, Cast, EqualNullSafe, EqualTo, Expression, GetStructField, IsNull, LessThanOrEqual, NamedExpression, Or}
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Filter, HintInfo, Join, JoinHint, LocalRelation, LogicalPlan, Project, Union}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{CatalystBridge, ColumnBridge}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructType}

/** Simple scan predicates used for manifest-level pruning (before Spark ever
  * sees the file list). The same predicates are re-applied as Catalyst
  * filters so parquet row-group pushdown still happens inside each file. */
sealed trait ScanPredicate { def column: String }
final case class EqPred(column: String, value: Any) extends ScanPredicate
final case class LtPred(column: String, value: Any) extends ScanPredicate
final case class LePred(column: String, value: Any) extends ScanPredicate
final case class GtPred(column: String, value: Any) extends ScanPredicate
final case class GePred(column: String, value: Any) extends ScanPredicate
final case class InPred(column: String, values: Seq[Any]) extends ScanPredicate

/** One unit of scan work: a data file + the delete files that apply to it
  * (ref `scan.rs:82-109`). Spec scoping: an equality delete applies only to
  * data files with STRICTLY smaller data sequence number (rows re-inserted
  * after the delete survive); a position delete applies at equal-or-smaller.
  * `deleteSchemaIds` maps each equality-delete file's path to the schema
  * that wrote it (its delete manifest's), so its key columns resolve by
  * field id like a data file's. */
final case class FileScanTask(file: DataFile, schemaId: Int,
                              sequenceNumber: Long, deleteFiles: Seq[DataFile],
                              specId: Int = 0,
                              deleteSchemaIds: Map[String, Int] = Map.empty) {
  def filePath: String = file.filePath
  def recordCount: Long = file.recordCount
}

/**
 * Snapshot-pinned table scan (ref `lib/iceberg/table_scan.rb:2-31`,
 * `ext/iceberg/src/scan.rs:17-79`): manifest-driven file planning with
 * partition-transform and column-bounds pruning, materialized as a DataFrame.
 *
 * Schema evolution: files are grouped by the schema that wrote them
 * (recorded per-manifest) and projected to the current schema BY FIELD ID,
 * so renamed/dropped columns resolve correctly (SURVEY.md §7.4).
 *
 * Materialization ([[materializeTasks]]) reads one relation per writer
 * schema over the files as the manifests list them, with no listing, and
 * scopes deletes by the planned (delete file, data file) pairs, so the
 * plan's size does not depend on the number of files or delete sets.
 * Position deletes and deletion vectors apply inside the tasks that read
 * the data files; equality deletes take an anti-join.
 *
 * Planning runs on the driver with parallel manifest reads; beyond
 * [[TableScan.DistributedPlanThreshold]] manifests, [[planFilesDistributed]]
 * fans the manifest reads + pruning out as a Spark job so a snapshot with
 * O(10⁵-10⁷) manifests never serializes on driver IO — only the surviving
 * (pruned) tasks come back to the driver.
 */
final class TableScan(
    table: Table,
    val snapshot: Option[Snapshot],
    predicates: Seq[ScanPredicate] = Nil) {

  def planFiles(): Seq[FileScanTask] =
    planEntries(skipPrunedManifests = true).collect { case (t, true) => t }

  /** One manifest-planning pass split by the scan predicates: `(affected,
    * kept)` where `affected` files MAY contain matching rows and `kept`
    * provably cannot. Copy-on-write DML needs both sets; planning them in
    * one pass instead of two halves the manifest reads per commit attempt
    * (at 10⁵ manifests that is the dominant commit cost).
    *
    * Manifest-level (507) skipping is DISABLED here: a skipped manifest's
    * files would land in neither set, and a rewrite commit built from
    * these sets would silently drop them from the table. */
  private[graft] def planFilesPartitioned(): (Seq[FileScanTask], Seq[FileScanTask]) = {
    val all = planEntries(skipPrunedManifests = false)
    (all.collect { case (t, true) => t }, all.collect { case (t, false) => t })
  }

  private def planEntries(skipPrunedManifests: Boolean): Seq[(FileScanTask, Boolean)] = {
    import scala.collection.parallel.CollectionConverters._
    val snap = snapshot.getOrElse(return Nil)
    val conf = table.hadoopConf
    val listPath = new Path(snap.manifestList)
    val fs = listPath.getFileSystem(conf)
    val manifests = Manifests.readManifestList(fs, listPath)
    val meta = table.metadata
    val (allDataManifests, deleteManifests) = manifests.partition(_.content == 0)
    // pure-read planning skips whole manifests via the list's partition
    // field summaries (spec 507) BEFORE any manifest IO: on a snapshot
    // with one manifest per day-partition, a one-day scan reads one
    val dataManifests =
      if (!skipPrunedManifests) allDataManifests
      else allDataManifests.filter { mf =>
        val spec = meta.partitionSpecById(mf.partitionSpecId).getOrElse(PartitionSpec.Unpartitioned)
        val writeSchema = meta.schemaById(mf.schemaId).getOrElse(meta.currentSchema)
        ScanPruning.keepManifestEvolved(predicates, mf.partitions, spec,
          writeSchema, meta.currentSchema)
      }
    // Manifests are read in parallel: planning a snapshot with thousands of
    // manifests (one per commit at minimum) must not serialize on the
    // driver's metadata round-trips — the per-manifest work is independent.
    val deletes = readDeleteEntries(fs, deleteManifests)
    dataManifests.par.flatMap { mf =>
      val spec = meta.partitionSpecById(mf.partitionSpecId).getOrElse(PartitionSpec.Unpartitioned)
      val writeSchema = meta.schemaById(mf.schemaId).getOrElse(meta.currentSchema)
      Manifests.readManifest(fs, new Path(mf.manifestPath))
        .filter(_.isLive)
        .map(e => (deletes.task(e.dataFile, mf.schemaId, e.sequenceNumber, mf.partitionSpecId),
          ScanPruning.keepFileEvolved(predicates, e.dataFile, spec, writeSchema, meta.currentSchema)))
    }.seq
  }

  /** The live entries of the delete manifests: (delete file, its data
    * sequence number, the schema id that wrote it). */
  private final class DeleteEntries(entries: Seq[(DataFile, Long, Int)]) {
    /** A task for `dataFile` carrying exactly the deletes that apply to it. */
    def task(dataFile: DataFile, schemaId: Int, dataSeq: Long, specId: Int): FileScanTask = {
      val applicable = entries.filter { case (d, delSeq, _) =>
        ScanPruning.deleteApplies(d, delSeq, dataFile, dataSeq) }
      FileScanTask(dataFile, schemaId, dataSeq, applicable.map(_._1), specId,
        applicable.collect { case (d, _, sid) if d.content == 2 => d.filePath -> sid }.toMap)
    }
  }

  private def readDeleteEntries(fs: org.apache.hadoop.fs.FileSystem,
                                deleteManifests: Seq[graft.manifest.ManifestFile]): DeleteEntries = {
    import scala.collection.parallel.CollectionConverters._
    new DeleteEntries(deleteManifests.par.flatMap { mf =>
      Manifests.readManifest(fs, new Path(mf.manifestPath)).filter(_.isLive)
        .map(e => (e.dataFile, e.sequenceNumber, mf.schemaId))
    }.seq)
  }

  /**
   * Files ADDED by this scan's pinned snapshot, planned from ONLY the
   * manifests that commit itself wrote: the manifest list records each
   * manifest's `addedSnapshotId` (spec field 503) and each entry its
   * status/snapshot, so "what did commit S add" never needs the parent
   * snapshot or the rest of the table — O(commit) metadata IO, the unit
   * an incremental/CDC consumer pays per micro-batch. (The equivalent
   * set difference `planFiles(S) -- planFiles(parent)` walks EVERY
   * manifest of both snapshots — O(table) per commit, a catch-up batch
   * over C commits on a 10⁶-file table would re-read each manifest ~2C
   * times.)
   *
   * `deleteFiles` is empty by construction: a delete file applies only to
   * data files with equal-or-smaller data sequence number, and files
   * added by commit S carry S's sequence number — no delete committed at
   * or before S can hide their rows at snapshot S.
   */
  private[graft] def addedFiles(): Seq[FileScanTask] = {
    import scala.collection.parallel.CollectionConverters._
    val snap = snapshot.getOrElse(return Nil)
    val conf = table.hadoopConf
    val listPath = new Path(snap.manifestList)
    val fs = listPath.getFileSystem(conf)
    val mine = Manifests.readManifestList(fs, listPath)
      .filter(mf => mf.content == 0 && mf.addedSnapshotId == snap.snapshotId)
    mine.par.flatMap { mf =>
      Manifests.readManifest(fs, new Path(mf.manifestPath))
        .filter(e => e.status == ManifestEntry.StatusAdded &&
          e.snapshotId == snap.snapshotId)
        .map(e => FileScanTask(e.dataFile, mf.schemaId, e.sequenceNumber,
          Nil, mf.partitionSpecId))
    }.seq.sortBy(_.filePath)
  }

  /**
   * Distributed manifest planning: ship (manifest path, spec id, schema id)
   * triples to executors, read + prune there, collect only surviving
   * entries. Driver cost drops from O(total file entries) IO to O(kept
   * files); a million-manifest snapshot plans at cluster parallelism.
   * Below [[TableScan.DistributedPlanThreshold]] data manifests this
   * delegates to the driver-parallel [[planFiles]] (a Spark job has fixed
   * overhead a small table shouldn't pay).
   */
  def planFilesDistributed(spark: SparkSession,
                           threshold: Int = TableScan.DistributedPlanThreshold): Seq[FileScanTask] = {
    val snap = snapshot.getOrElse(return Nil)
    val conf = table.hadoopConf
    val listPath = new Path(snap.manifestList)
    val fs = listPath.getFileSystem(conf)
    val manifests = Manifests.readManifestList(fs, listPath)
    val meta = table.metadata
    val (allDataManifests, deleteManifests) = manifests.partition(_.content == 0)
    // same manifest-level 507 skipping as planFiles — pruned BEFORE the
    // Spark job, so skipped manifests never even ship to executors
    val dataManifests = allDataManifests.filter { mf =>
      val spec = meta.partitionSpecById(mf.partitionSpecId).getOrElse(PartitionSpec.Unpartitioned)
      val writeSchema = meta.schemaById(mf.schemaId).getOrElse(meta.currentSchema)
      ScanPruning.keepManifestEvolved(predicates, mf.partitions, spec,
        writeSchema, meta.currentSchema)
    }
    if (dataManifests.size < threshold) return planFiles()

    // delete manifests are few relative to data manifests; driver-parallel
    val deletes = readDeleteEntries(fs, deleteManifests)

    // only immutable, serializable state enters the closure; the conf
    // travels in the catalog conf's broadcast
    val preds = predicates
    val specById = meta.partitionSpecs.map(s => s.specId -> s).toMap
    val schemaById = meta.schemas.map(s => s.schemaId -> s).toMap
    val currentSchema = meta.currentSchema
    val confBc = TableScan.taskConf(spark, table.hadoopConf)
    val work = dataManifests.map(mf => (mf.manifestPath, mf.partitionSpecId, mf.schemaId))
    val slices = math.max(1, math.min(work.size,
      spark.sparkContext.defaultParallelism * 4))
    val kept = spark.sparkContext.parallelize(work, slices)
      .flatMap { case (path, specId, schemaId) =>
        val p = new Path(path)
        val f = p.getFileSystem(confBc.value.value)
        val spec = specById.getOrElse(specId, PartitionSpec.Unpartitioned)
        val writeSchema = schemaById.getOrElse(schemaId, currentSchema)
        Manifests.readManifest(f, p)
          .filter(_.isLive)
          .filter(e => ScanPruning.keepFileEvolved(preds, e.dataFile, spec, writeSchema, currentSchema))
          .map(e => (schemaId, specId, e.sequenceNumber, e.dataFile))
      }
      .collect()
    kept.toSeq.map { case (schemaId, specId, seqNum, df) =>
      deletes.task(df, schemaId, seqNum, specId)
    }
  }

  // ------------------------------------------------------- materialization

  /** Materialize as a DataFrame (see [[readPlan]]) keeping only the rows
    * that match the scan predicates; each file's read evaluates them, so
    * they reach parquet row-group pushdown. */
  def toDF(spark: SparkSession): DataFrame =
    CatalystBridge.dataFrame(spark,
      readPlan(spark, planFilesDistributed(spark), filter = predicateFilter))

  /** The scan predicates as one row condition. */
  private[graft] def predicateFilter: Option[Column] =
    predicates.map(predicateToColumn).reduceOption(_ && _)

  /** How plans name this scan's reads: table and snapshot. */
  private[graft] def description: String =
    s"graft ${table.ident}" + snapshot.map(s => s" snapshot=${s.snapshotId}").getOrElse("")

  /** Materialize an explicit task list to the current schema WITHOUT the
    * scan predicates (used by copy-on-write rewrites, which need every row
    * of the affected files, not just matching ones). With `withPositions`,
    * two extra columns ride along: `__file` (the manifest path) and
    * `__pos` (row ordinal in that file) — what a merge-on-read DML writer
    * needs to emit position deletes. See [[readPlan]]. */
  private[graft] def materializeTasks(spark: SparkSession,
                                      tasks: Seq[FileScanTask],
                                      withPositions: Boolean = false): DataFrame =
    CatalystBridge.dataFrame(spark, readPlan(spark, tasks, withPositions))

  /** The logical plan that reads `tasks` to the current schema, built as
    * one tree of resolved operators, so it is analysed once: by the
    * DataFrame that wraps it, or inside the SQL query that plans it.
    *
    * One relation per writer schema reads the tasks' files through a
    * [[ManifestFileIndex]] — no listing, no existence checks, no schema
    * inference — projected to the current schema by field id, then
    * unioned. `filter` (a condition on current-schema columns) applies in
    * each relation's read, above the projection only, so the planner
    * pushes it into parquet. Deletes apply as data, not plan shape, each
    * scoped to exactly the (delete file, data file) pairs planning put in
    * `deleteFiles`: position deletes and deletion vectors as one
    * [[NotDeleted]] filter on (`__file`, `__pos`) that the reading tasks
    * evaluate against each file's deleted-position bitmap, and equality
    * deletes as one anti-join per equality-ID set. So the plan has the
    * same size for 1 or 1000 delete sets, and no delete side is joined
    * for position deletes.
    *
    * The output is `columns` (all current-schema columns when None), plus
    * `__file` and `__pos` with `withPositions`; the reads take only the
    * columns the output, `filter` and the equality keys need. `label`
    * names the data relations in plans. */
  private[graft] def readPlan(spark: SparkSession,
                              tasks: Seq[FileScanTask],
                              withPositions: Boolean = false,
                              filter: Option[Column] = None,
                              columns: Option[Seq[String]] = None,
                              label: String = description): LogicalPlan = {
    import ManifestFileIndex.Constant
    val meta = table.metadata
    val current = meta.currentSchema
    val wanted = columns.getOrElse(current.fields.map(_.name)) ++
      (if (withPositions) Seq("__file", "__pos") else Nil)
    if (tasks.isEmpty) {
      val schema = SparkSchemaConverter.toSpark(current)
        .add("__file", StringType).add("__pos", LongType)
      return LocalRelation(StructType(wanted.map(schema(_))))
    }
    val (eqPairs, posPairs) = tasks.flatMap(t => t.deleteFiles.map(_ -> t)).partition(_._1.content == 2)
    val positioned = withPositions || posPairs.nonEmpty
    // equality scoping rides on per-file constants: the data sequence
    // number and an id for the partition tuple (see antiJoinEqualityDeletes)
    val partIds = (tasks.map(_.file.partition) ++ eqPairs.map(_._1.partition)).distinct.zipWithIndex.toMap
    val seqByPath = tasks.map(t => t.filePath -> t.sequenceNumber).toMap
    val constants =
      (if (positioned) Seq(Constant("__file", StringType, _.filePath)) else Nil) ++
        (if (eqPairs.isEmpty) Nil
         else Seq(Constant("__seq", LongType, f => seqByPath(f.filePath)),
           Constant("__part", IntegerType, f => partIds(f.partition))))
    // one anti-join per equality-ID set whose key columns the current
    // schema still has
    val eqSets = eqPairs.groupBy(_._1.equalityIds.toSet).toSeq.sortBy(_._1.toSeq.sorted.mkString(","))
      .map { case (ids, group) => (ids.toSeq.sorted.flatMap(current.fieldById), group) }
      .filter(_._1.nonEmpty)
    val condition = filter.map(ColumnBridge.expression(spark, _))
    val needed = (wanted ++ eqSets.flatMap(_._1.map(_.name)) ++
      condition.toSeq.flatMap(_.collect { case a: UnresolvedAttribute => a.nameParts.head })).toSet
    val fields = current.fields.filter(f => needed.contains(f.name))
    val deletes = if (posPairs.isEmpty) None else Some(deletedPositions(spark, posPairs))
    val reads = tasks.groupBy(_.schemaId).toSeq.sortBy(_._1).map { case (schemaId, group) =>
      val writeSchema = meta.schemaById(schemaId).getOrElse(current)
      val files = ManifestFileIndex.relation(spark, group.map(_.file),
        SparkSchemaConverter.toSpark(writeSchema), table.hadoopConf, constants, Some(label))
      // the hidden `_metadata` column narrowed to `row_index`, so the scan
      // produces no other file metadata per row
      val relation = if (!positioned) files else {
        val withMetadata = files.withMetadataColumns()
        withMetadata.copy(output = withMetadata.output.map {
          case a if a.name == "_metadata" =>
            a.withDataType(StructType(a.dataType.asInstanceOf[StructType].filter(_.name == "row_index")))
          case a => a
        })
      }
      def column(name: String): Attribute = relation.output.find(_.name == name).get
      val projection = TableScan.fieldIdProjection(spark, fields, writeSchema, relation.output)
      val pos = if (!positioned) Nil
        else Seq(Alias(GetStructField(column("_metadata"), 0, Some("row_index")), "__pos")())
      val read = Project(projection ++ constants.map(c => column(c.name)) ++ pos, relation)
      def out(name: String): Attribute = read.output.find(_.name == name).get
      (condition.toSeq ++ deletes.map(NotDeleted(out("__file"), out("__pos"), _)))
        .reduceOption(And).fold[LogicalPlan](read)(Filter(_, read))
    }
    val data = if (reads.size == 1) reads.head else Union(reads)
    val live = eqSets.foldLeft(data) { case (plan, (idFields, group)) =>
      antiJoinEqualityDeletes(spark, plan, idFields, group, tasks, partIds)
    }
    Project(wanted.map(n => live.output.find(_.name == n).get), live)
  }

  /** The deleted positions of the data files in `pairs`: each data file's
    * come from exactly the position deletes and deletion vectors planning
    * paired it with, sent to the tasks in a broadcast with the catalog's
    * conf. */
  private def deletedPositions(spark: SparkSession, pairs: Seq[(DataFile, FileScanTask)]): DeletedPositions = {
    val scope = pairs.groupMap { case (_, t) => PositionDeleteRef.normalize(t.filePath) } {
      case (d, _) => PositionDeleteRef.of(d) }.map { case (f, refs) => f -> refs.distinct.toArray }
    val refs = scope.values.flatten.toSeq.distinct
    new DeletedPositions(TableScan.taskConf(spark, table.hadoopConf), spark.sparkContext.broadcast(scope),
      deleteFiles = refs.count(!_.isDeletionVector), deletionVectors = refs.count(_.isDeletionVector),
      dataFiles = scope.size)
  }

  /** Rows of `tasks` matching the scan predicates, with live MOR deletes
    * applied, as current-schema columns plus `__file` (the manifest path)
    * and `__pos`. The input to a merge-on-read DELETE/UPDATE: only matched
    * (file, pos) pairs and row content ever leave the scan — no data file
    * is rewritten. */
  private[graft] def matchedRowsWithPositions(spark: SparkSession,
                                              tasks: Seq[FileScanTask],
                                              extraCondition: Option[Column] = None): DataFrame = {
    val plan = readPlan(spark, tasks, withPositions = true, filter = predicateFilter)
    CatalystBridge.dataFrame(spark,
      extraCondition.fold(plan)(c => Filter(ColumnBridge.expression(spark, c), plan)))
  }

  private[graft] def predicateToColumn(p: ScanPredicate): Column = p match {
    case EqPred(c, v) => col(c) === lit(v)
    case LtPred(c, v) => col(c) < lit(v)
    case LePred(c, v) => col(c) <= lit(v)
    case GtPred(c, v) => col(c) > lit(v)
    case GePred(c, v) => col(c) >= lit(v)
    case InPred(c, vs) => col(c).isin(vs.map(lit(_)): _*)
  }

  /** An equality-delete side at most 32 MB (counted once per delete row)
    * broadcasts; a larger one takes a shuffled anti-join so a big delete
    * set never OOMs the driver. The reference reads (but never writes)
    * delete files. */
  private val BroadcastDeleteBytes = 32L * 1024 * 1024

  /** Equality deletes of one equality-ID set (`idFields`) over data
    * carrying `__seq` and `__part`, as one null-safe anti-join that reads
    * each delete file once. Scoping is data, not plan shape: delete file D
    * carries the highest data sequence number among the files planning
    * paired it with and, when D has a partition tuple, that tuple's id; a
    * data row is hidden only when its file's `__seq` is at most that and
    * its `__part` matches. The sequence and partition rules of
    * [[ScanPruning.deleteApplies]] make that exactly the planned pairs,
    * which is checked here before the plan is built. */
  private def antiJoinEqualityDeletes(spark: SparkSession, data: LogicalPlan, idFields: Seq[NestedField],
                                      pairs: Seq[(DataFile, FileScanTask)], tasks: Seq[FileScanTask],
                                      partIds: Map[Map[String, String], Int]): LogicalPlan = {
    import ManifestFileIndex.Constant
    val dels = pairs.map(_._1).distinctBy(_.filePath)
    val maxSeq = pairs.groupMapReduce(_._1.filePath)(_._2.sequenceNumber)(math.max)
    val partId = dels.map(d => d.filePath ->
      (if (d.partition.exists(_._2.nonEmpty)) Some(partIds(d.partition)) else None)).toMap
    // (sequence, partition id) of each data file, against which every
    // delete file must select exactly the files planning paired it with
    val dataKeys = tasks.distinctBy(_.filePath).map(t => (t.sequenceNumber, partIds(t.file.partition)))
    val planned = pairs.map { case (d, t) => (d.filePath, t) }.distinctBy { case (d, t) => (d, t.filePath) }
    def scoped(d: String, seq: Long, part: Int): Boolean =
      seq <= maxSeq(d) && partId(d).forall(_ == part)
    require(planned.forall { case (d, t) => scoped(d, t.sequenceNumber, partIds(t.file.partition)) } &&
      planned.groupMapReduce(_._1)(_ => 1)(_ + _).forall { case (d, n) =>
        dataKeys.count { case (seq, part) => scoped(d, seq, part) } == n },
      "equality-delete pairs do not follow the sequence and partition scoping rules")
    val keys = equalityKeysPlan(spark, dels, tasks.flatMap(_.deleteSchemaIds).toMap, idFields, Seq(
      Constant("__dseq", LongType, d => maxSeq(d.filePath)),
      Constant("__dpart", IntegerType, d => partId(d.filePath).map(Int.box).orNull, nullable = true)))
    def left(name: String): Attribute = data.output.find(_.name == name).get
    def right(name: String): Attribute = keys.output.find(_.name == name).get
    // Iceberg equality deletes treat NULL as a value: a delete row with a
    // null key hides null-key data rows. SQL equality would never match
    // them, so the anti-join must be null-safe (<=>) per column.
    val cond = (idFields.map(f => EqualNullSafe(left(f.name), right(s"__d_${f.name}"))) ++ Seq(
      LessThanOrEqual(left("__seq"), right("__dseq")),
      Or(IsNull(right("__dpart")), EqualTo(right("__dpart"), left("__part"))))).reduce(And)
    val hint =
      if (dels.map(_.fileSizeInBytes).sum <= BroadcastDeleteBytes) JoinHint(None, Some(HintInfo(Some(BROADCAST))))
      else JoinHint.NONE
    Join(data, keys, LeftAnti, Some(cond), hint)
  }

  /** The key rows of equality-delete files `dels` as `__d_<name>` columns
    * named and typed by the current schema's `idFields`, plus the
    * `constants` columns. Each file's key columns resolve by field id
    * through the schema that wrote it (`schemaIds`, by path; the current
    * schema when absent), so a renamed key column still reads its values. */
  private[graft] def equalityKeys(spark: SparkSession, dels: Seq[DataFile],
                                  schemaIds: Map[String, Int], idFields: Seq[NestedField]): DataFrame =
    CatalystBridge.dataFrame(spark, equalityKeysPlan(spark, dels, schemaIds, idFields, Nil))

  private def equalityKeysPlan(spark: SparkSession, dels: Seq[DataFile], schemaIds: Map[String, Int],
                               idFields: Seq[NestedField],
                               constants: Seq[ManifestFileIndex.Constant]): LogicalPlan = {
    val meta = table.metadata
    val reads = dels.groupBy(d => schemaIds.getOrElse(d.filePath, meta.currentSchemaId)).toSeq.sortBy(_._1)
      .map { case (schemaId, group) =>
        val writeSchema = meta.schemaById(schemaId).getOrElse(meta.currentSchema)
        val writeFields = idFields.map(f => writeSchema.fieldById(f.id).getOrElse(
          throw new IllegalStateException(s"equality-delete key field ${f.id} (${f.name}) " +
            s"is not in schema $schemaId that wrote ${group.head.filePath}")))
        val relation = ManifestFileIndex.relation(spark, group,
          SparkSchemaConverter.toSpark(Schema(0, writeFields)), table.hadoopConf, constants)
        def column(name: String): Attribute = relation.output.find(_.name == name).get
        Project(idFields.zip(writeFields).map { case (cf, wf) =>
          Alias(TableScan.castTo(column(wf.name), SparkSchemaConverter.toSparkType(cf.fieldType)), s"__d_${cf.name}")()
        } ++ constants.map(c => column(c.name)), relation)
      }
    if (reads.size == 1) reads.head else Union(reads)
  }

  /**
   * Format-v3 row lineage surface: the scan's rows plus a `_row_id`
   * column (the file's explicit `first_row_id` + the row's ordinal).
   * Stable across merge-on-read DML — deletes/updates via deletion
   * vectors never rewrite surviving rows. Files without lineage metadata
   * (pre-v3 history) read a null `_row_id`.
   */
  def toDFWithRowIds(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val tasks = planFilesDistributed(spark)
    val filtered = CatalystBridge.dataFrame(spark,
      readPlan(spark, tasks, withPositions = true, filter = predicateFilter))
    val mapping = tasks.map(t => (t.filePath,
        t.file.firstRowId.map(java.lang.Long.valueOf).orNull))
      .distinct.toDF("__file", "__first_row_id")
    filtered.join(broadcast(mapping), Seq("__file"), "left")
      .withColumn("_row_id", col("__first_row_id") + col("__pos"))
      .drop("__file", "__pos", "__first_row_id")
  }

  /** Execute → row-oriented Result (ref `scan.rs:57-63` + `result.rs`). */
  def collect(spark: SparkSession): Result = {
    val df = toDF(spark)
    Result(df.columns.toSeq, df.collect().toSeq.map(_.toSeq))
  }

  /** Execute → Arrow record batches (ref `scan.to_arrow` /
    * `arrow_c_stream`, `scan.rs:65-79`). Caller closes the returned roots
    * and the allocator. */
  def toArrowBatches(spark: SparkSession,
                     allocator: org.apache.arrow.memory.BufferAllocator,
                     maxRowsPerBatch: Int = 4096): Seq[org.apache.arrow.vector.VectorSchemaRoot] =
    ArrowExport.toBatches(toDF(spark), table.metadata.currentSchema, allocator, maxRowsPerBatch)
}

object TableScan {
  /** Data-manifest count beyond which planning fans out as a Spark job. */
  val DistributedPlanThreshold = 64

  /** The field-id projection of rows read from files written as
    * `writeSchema`, whose columns `input` holds by their write-time names,
    * to the current schema's `fields`: each field reads its column by id
    * (so a renamed column keeps its data), cast to its current type; a
    * field added after the files were written reads its initial-default
    * (spec v3 semantics), else null. Batch reads ([[TableScan.readPlan]])
    * and streamed micro-batches both map their rows through it. */
  private[graft] def fieldIdProjection(spark: SparkSession, fields: Seq[NestedField], writeSchema: Schema,
                                       input: Seq[Attribute]): Seq[NamedExpression] = {
    val byId = writeSchema.fields.map(f => f.id -> f).toMap
    fields.map { cf =>
      val value = byId.get(cf.id) match {
        case Some(wf) => input.find(_.name == wf.name).get
        case None => ColumnBridge.expression(spark, cf.initialDefault.map(lit).getOrElse(lit(null)))
      }
      Alias(castTo(value, SparkSchemaConverter.toSparkType(cf.fieldType)), cf.name)()
    }
  }

  /** `e` as type `to`, with no cast when it already is. */
  private def castTo(e: Expression, to: DataType): Expression =
    if (e.dataType == to) e else Cast(e, to, Some(SQLConf.get.sessionLocalTimeZone))

  private val confBroadcasts = new java.util.WeakHashMap[Configuration,
    (SparkContext, Map[String, String], Broadcast[SerializableHadoopConf])]()

  /** `conf` as every graft task reads it: its [[trimmed]] entries,
    * broadcast once per conf, SparkContext and content. Scans, writer
    * factories, streamed input partitions and maintenance closures all
    * carry this broadcast in place of a conf of their own. Each call trims
    * `conf` again and makes a new broadcast when the entries changed, so a
    * setting changed on a catalog's conf (a rotated token, say) reaches
    * the next job's tasks as it reaches the driver's metadata I/O; the
    * entry lapses with the conf. */
  private[graft] def taskConf(spark: SparkSession, conf: Configuration): Broadcast[SerializableHadoopConf] = {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val entries = trimmed(conf)
    val content = entries.iterator.asScala.map(e => e.getKey -> e.getValue).toMap
    confBroadcasts.synchronized {
      Option(confBroadcasts.get(conf)).collect { case (c, m, b) if (c eq sc) && m == content => b }.getOrElse {
        val b = sc.broadcast(new SerializableHadoopConf(entries))
        confBroadcasts.put(conf, (sc, content, b))
        b
      }
    }
  }

  /** The entries of `conf` that a task needs beside Hadoop's own defaults,
    * in a conf that loads no defaults: every entry that some source other
    * than a `*-default.xml` file set, a site file (`core-site.xml`,
    * `hdfs-site.xml`, ...) or a program, whatever its value, with `${…}`
    * references expanded. Entries only the `*-default.xml` files set are
    * left out; a reader gets them again by loading defaults (see
    * [[SerializableHadoopConf]]). Tens of entries rather than over a
    * thousand. */
  private[graft] def trimmed(conf: Configuration): Configuration = {
    val out = new Configuration(false)
    conf.forEach { e =>
      val sources = conf.getPropertySources(e.getKey)
      val value = conf.get(e.getKey)
      if (value != null && (sources == null || !sources.forall(_.endsWith("-default.xml"))))
        out.set(e.getKey, value)
    }
    out
  }

  /** The conf Spark's parquet reader gets for a scan of a table whose
    * catalog holds `catalogConf`: `session` (the conf Spark built for the
    * scan) [[trimmed]], with the catalog's trimmed entries on top. Fresh
    * per call, since Spark sets its read keys on the conf it is handed.
    * Spark ships it to executors in its own wrapper, which loads no
    * defaults there: an executor's data-file reads see every site-file and
    * programmatic entry, over Hadoop's code defaults rather than its
    * `*-default.xml` values. */
  private[graft] def readerConf(spark: SparkSession, session: Configuration,
                                catalogConf: Configuration): Configuration = {
    val out = trimmed(session)
    taskConf(spark, catalogConf).value.entries.forEach(e => out.set(e.getKey, e.getValue))
    out
  }
}

/** Manifest-level file pruning, separated from [[TableScan]] so the
  * distributed planning path can evaluate it INSIDE executor tasks (the
  * object is stateless; predicates travel with the closure). */
private[graft] object ScanPruning extends Serializable {

  def keepFile(predicates: Seq[ScanPredicate], df: DataFile,
               spec: PartitionSpec, schema: Schema): Boolean =
    predicates.forall(p => keepByPartition(p, df, spec, schema) && keepByBounds(p, df, schema))

  /** Schema-evolution-aware pruning: predicates name CURRENT-schema
    * columns, but a file's partition values and bounds are keyed by its
    * WRITE-TIME names. Resolve current name → field id → write-time name
    * before pruning, so a scan on a renamed column still skips files. A
    * predicate on a column the write schema lacks means every row of the
    * file reads the column's initial-default (or null) — evaluate the
    * predicate against that constant instead of keeping conservatively. */
  def keepFileEvolved(predicates: Seq[ScanPredicate], df: DataFile, spec: PartitionSpec,
                      writeSchema: Schema, currentSchema: Schema): Boolean = {
    if (writeSchema.schemaId == currentSchema.schemaId)
      return keepFile(predicates, df, spec, writeSchema)
    predicates.forall { p =>
      currentSchema.fieldByName(p.column) match {
        case None => true // not a schema column; downstream filter decides
        case Some(cf) => writeSchema.fieldById(cf.id) match {
          case Some(wf) =>
            val wp = withColumnName(p, wf.name)
            keepByPartition(wp, df, spec, writeSchema) && keepByBounds(wp, df, writeSchema)
          case None => constMatches(p, cf.initialDefault.orNull)
        }
      }
    }
  }

  /**
   * Manifest-level pruning on the manifest list's `partitions` field
   * summaries (spec field 507): skip READING a whole manifest when no
   * file in it can satisfy the predicates. A range check on the transform
   * RESULT is valid for equality under any transform (if `t(v)` is
   * outside [lo, hi], no file holds it); inequalities additionally need
   * an order-preserving transform, same rule as [[keepByPartition]].
   * Conservative everywhere data could hide: absent summaries, unknown
   * bounds, non-schema columns all keep the manifest.
   */
  def keepManifestEvolved(predicates: Seq[ScanPredicate],
                          summaries: Seq[graft.manifest.FieldSummary],
                          spec: PartitionSpec, writeSchema: Schema,
                          currentSchema: Schema): Boolean = {
    if (summaries.isEmpty) return true
    predicates.forall { p =>
      val resolved: Option[ScanPredicate] =
        if (writeSchema.schemaId == currentSchema.schemaId) Some(p)
        else currentSchema.fieldByName(p.column).flatMap(cf =>
          writeSchema.fieldById(cf.id).map(wf => withColumnName(p, wf.name)))
      resolved match {
        // dropped/unknown column: per-file constant check decides later
        case None => true
        case Some(wp) => keepManifestPred(wp, summaries, spec, writeSchema)
      }
    }
  }

  private def keepManifestPred(p: ScanPredicate,
                               summaries: Seq[graft.manifest.FieldSummary],
                               spec: PartitionSpec, schema: Schema): Boolean = {
    val field = schema.fieldByName(p.column).getOrElse(return true)
    spec.fields.zipWithIndex.filter(_._1.sourceId == field.id).forall { case (pf, i) =>
      val sum = summaries.lift(i).getOrElse(return true)
      val transform = Transform.parse(pf.transform)
      val resultType = transform.resultType(field.fieldType)
      def bound(b: Option[Seq[Byte]]): Option[Any] = b.flatMap { bytes =>
        parsePhysical(graft.manifest.SingleValue.fromBytes(resultType, bytes.toArray), resultType)
      }
      val lo = bound(sum.lowerBound)
      val hi = bound(sum.upperBound)
      if (lo.isEmpty && hi.isEmpty) true
      else {
        def within(tv: Any): Boolean =
          (canonNum(tv), lo.flatMap(canonNum), hi.flatMap(canonNum)) match {
            case (Some(x), l, h) => l.forall(x >= _) && h.forall(x <= _)
            case _ => (tv, lo, hi) match {
              case (s: String, l, h) =>
                l.forall { case ls: String => ls <= s; case _ => true } &&
                  h.forall { case hs: String => hs >= s; case _ => true }
              case _ => true
            }
          }
        p match {
          case EqPred(_, v) => within(transform(v, field.fieldType))
          case InPred(_, vs) => vs.exists(v => within(transform(v, field.fieldType)))
          case _ if isMonotonic(transform) =>
            val b = canonNum(transform(valueOf(p), field.fieldType))
            p match {
              // transforms are order-preserving but lossy → inclusive cuts
              case _: LtPred | _: LePred => (b, lo.flatMap(canonNum)) match {
                case (Some(bv), Some(l)) => l <= bv
                case _ => true
              }
              case _: GtPred | _: GePred => (b, hi.flatMap(canonNum)) match {
                case (Some(bv), Some(h)) => h >= bv
                case _ => true
              }
              case _ => true
            }
          case _ => true
        }
      }
    }
  }

  /**
   * STRICT (all-rows) match: true only when EVERY live row of the file
   * provably satisfies every predicate — the overwrite fast path that
   * drops a fully-matched file without ever reading it. Dual of
   * [[keepFileEvolved]] ("some row may match"): here every uncertainty
   * answers false, so a partition-aligned `INSERT OVERWRITE` on a
   * 100 TB table drops the target partition's files from metadata alone.
   *
   * Soundness notes: an identity partition value pins every row's value
   * exactly; column bounds satisfy lower ≤ min ≤ max ≤ upper even when
   * string bounds are truncated (lower==upper==v still implies all rows
   * == v); bounds cover deleted rows too — a superset, so "all rows
   * match" stays valid for the live subset. Float/double columns are
   * excluded outright (NaN breaks bound ordering); files whose null
   * count for the column is unknown or nonzero are never strict.
   */
  def strictFileEvolved(predicates: Seq[ScanPredicate], df: DataFile, spec: PartitionSpec,
                        writeSchema: Schema, currentSchema: Schema): Boolean =
    predicates.nonEmpty &&
      predicates.forall(p => strictPred(p, df, spec, writeSchema, currentSchema))

  private def strictPred(p0: ScanPredicate, df: DataFile, spec: PartitionSpec,
                         writeSchema: Schema, currentSchema: Schema): Boolean = {
    val (p, field) =
      if (writeSchema.schemaId == currentSchema.schemaId) {
        val f = writeSchema.fieldByName(p0.column).getOrElse(return false)
        (p0, f)
      } else {
        val cf = currentSchema.fieldByName(p0.column).getOrElse(return false)
        writeSchema.fieldById(cf.id) match {
          case Some(wf) => (withColumnName(p0, wf.name), wf)
          // column absent from the write schema: every row reads the
          // initial-default constant — strict iff the constant matches
          case None => return constMatches(p0, cf.initialDefault.orNull)
        }
      }
    field.fieldType match {
      case IFloat | IDouble => return false // NaN-unsafe for strict claims
      case _ =>
    }
    val identityVal = spec.fields
      .find(pf => pf.sourceId == field.id && Transform.parse(pf.transform) == IdentityTransform)
      .flatMap(pf => df.partition.get(pf.name))
    identityVal match {
      case Some(raw) if raw.isEmpty => false // all-null partition: no row matches
      case Some(raw) =>
        parseValue(raw, field.fieldType) match {
          case Some(v) => constMatches(p, v)
          case None => boundsStrict(p, df, field)
        }
      case None => boundsStrict(p, df, field)
    }
  }

  private def boundsStrict(p: ScanPredicate, df: DataFile, field: graft.types.NestedField): Boolean = {
    if (!df.nullCounts.get(field.name).contains(0L)) return false // null rows never match
    val lower = df.lowerBounds.get(field.name).flatMap(parsePhysical(_, field.fieldType))
    val upper = df.upperBounds.get(field.name).flatMap(parsePhysical(_, field.fieldType))
    if (lower.isEmpty || upper.isEmpty) return false
    def num(v: Any): Option[BigDecimal] = canonNum(physicalOf(v, field.fieldType))
    def eqAll(v: Any): Boolean =
      (num(v), lower.flatMap(canonNum), upper.flatMap(canonNum)) match {
        case (Some(x), Some(lo), Some(hi)) => x == lo && x == hi
        case _ => (v, lower.get, upper.get) match {
          case (s: String, lo: String, hi: String) => lo == s && hi == s
          case _ => false
        }
      }
    def cmpAll(v: Any, takeUpper: Boolean, ok: Int => Boolean): Boolean = {
      val bound = if (takeUpper) upper else lower
      (num(v), bound.flatMap(canonNum)) match {
        case (Some(x), Some(b)) => ok(b.compare(x))
        case _ => (v, bound.get) match {
          case (s: String, b: String) => ok(b.compareTo(s))
          case _ => false
        }
      }
    }
    p match {
      case EqPred(_, v) => eqAll(v)
      case InPred(_, vs) => vs.exists(eqAll)
      case LtPred(_, v) => cmpAll(v, takeUpper = true, _ < 0)
      case LePred(_, v) => cmpAll(v, takeUpper = true, _ <= 0)
      case GtPred(_, v) => cmpAll(v, takeUpper = false, _ > 0)
      case GePred(_, v) => cmpAll(v, takeUpper = false, _ >= 0)
    }
  }

  private def withColumnName(p: ScanPredicate, name: String): ScanPredicate = p match {
    case EqPred(_, v) => EqPred(name, v)
    case LtPred(_, v) => LtPred(name, v)
    case LePred(_, v) => LePred(name, v)
    case GtPred(_, v) => GtPred(name, v)
    case GePred(_, v) => GePred(name, v)
    case InPred(_, vs) => InPred(name, vs)
  }

  /** Can a row whose column is the constant `v` satisfy `p`? (SQL
    * comparison semantics: anything vs null is false.) */
  private def constMatches(p: ScanPredicate, v: Any): Boolean = {
    if (v == null) return false
    def cmp(x: Any): Option[Int] = (canonNum(v), canonNum(x)) match {
      case (Some(a), Some(b)) => Some(a.compare(b))
      case _ => (v, x) match {
        case (a: String, b: String) => Some(a.compareTo(b))
        case _ => None
      }
    }
    p match {
      case EqPred(_, x) => canonEq(v, x)
      case InPred(_, xs) => xs.exists(canonEq(v, _))
      case LtPred(_, x) => cmp(x).forall(_ < 0)
      case LePred(_, x) => cmp(x).forall(_ <= 0)
      case GtPred(_, x) => cmp(x).forall(_ > 0)
      case GePred(_, x) => cmp(x).forall(_ >= 0)
    }
  }

  /** Plan-time delete-file scoping. Sequence rule per spec (equality:
    * strictly newer; position: same commit counts), then two prunes that
    * keep a delete in one partition from taxing every other partition's
    * scan with an anti-join: (a) a delete file recording a partition tuple
    * applies only within that partition (empty tuple = global — the form
    * external writers commonly produce); (b) a position-delete file's
    * referenced-data-file bounds (`file_path` min/max, spec reserved field
    * 2147483546) exclude data files outside its path range. Both prunes
    * are conservative: absent metadata means "applies". */
  def deleteApplies(del: DataFile, delSeq: Long,
                    data: DataFile, dataSeq: Long): Boolean = {
    import PositionDeleteRef.{normalize => normPath}
    val seqOk = if (del.content == 2) delSeq > dataSeq else delSeq >= dataSeq
    if (!seqOk) return false
    // a deletion vector (v3) names its ONE data file exactly — no
    // conservative fallbacks needed
    del.referencedDataFile match {
      case Some(ref) => return normPath(ref) == normPath(data.filePath)
      case None =>
    }
    if (del.partition.exists { case (_, v) => v.nonEmpty } && del.partition != data.partition)
      return false
    if (del.content == 1) {
      val p = normPath(data.filePath)
      del.lowerBounds.get("file_path").forall(lo => normPath(lo) <= p) &&
        del.upperBounds.get("file_path").forall(hi => p <= normPath(hi))
    } else true
  }

  /** Partition pruning: rewrite the predicate through each partition
    * transform over the predicate's source column. */
  private def keepByPartition(p: ScanPredicate, df: DataFile,
                              spec: PartitionSpec, schema: Schema): Boolean = {
    val field = schema.fieldByName(p.column).getOrElse(return true)
    spec.fields.filter(_.sourceId == field.id).forall { pf =>
      val raw = df.partition.getOrElse(pf.name, return true)
      if (raw.isEmpty) return true // null partition — keep
      val transform = Transform.parse(pf.transform)
      val resultType = transform.resultType(field.fieldType)
      val partVal = parseValue(raw, resultType).getOrElse(return true)
      p match {
        case EqPred(_, v) =>
          canonEq(transform(v, field.fieldType), partVal)
        case InPred(_, vs) =>
          vs.exists(v => canonEq(transform(v, field.fieldType), partVal))
        case _ if isMonotonic(transform) =>
          val bound = transform(valueOf(p), field.fieldType)
          (p, canonNum(bound), canonNum(partVal)) match {
            // transforms are order-preserving but lossy, so boundaries stay inclusive
            case (_: LtPred | _: LePred, Some(b), Some(x)) => x <= b
            case (_: GtPred | _: GePred, Some(b), Some(x)) => x >= b
            case _ => true
          }
        case _ => true
      }
    }
  }

  /** File skipping on footer min/max bounds (unpartitioned pruning). */
  private def keepByBounds(p: ScanPredicate, df: DataFile, schema: Schema): Boolean = {
    val field = schema.fieldByName(p.column).getOrElse(return true)
    val lower = df.lowerBounds.get(p.column).flatMap(parsePhysical(_, field.fieldType))
    val upper = df.upperBounds.get(p.column).flatMap(parsePhysical(_, field.fieldType))
    if (lower.isEmpty && upper.isEmpty) return true
    def num(v: Any): Option[BigDecimal] = canonNum(physicalOf(v, field.fieldType))
    p match {
      case EqPred(_, v) =>
        (num(v), lower.flatMap(canonNum), upper.flatMap(canonNum)) match {
          case (Some(x), Some(lo), Some(hi)) => x >= lo && x <= hi
          case _ => strRange(v, lower, upper)
        }
      case LtPred(_, v) => cmpLow(num(v), lower, strict = true, v)
      case LePred(_, v) => cmpLow(num(v), lower, strict = false, v)
      case GtPred(_, v) => cmpHigh(num(v), upper, strict = true, v)
      case GePred(_, v) => cmpHigh(num(v), upper, strict = false, v)
      case InPred(_, vs) => vs.exists(v => keepByBounds(EqPred(p.column, v), df, schema))
    }
  }

  private def cmpLow(x: Option[BigDecimal], lower: Option[Any], strict: Boolean, raw: Any): Boolean =
    (x, lower.flatMap(canonNum)) match {
      case (Some(v), Some(lo)) => if (strict) lo < v else lo <= v
      case _ => (raw, lower) match {
        case (s: String, Some(lo: String)) => if (strict) lo < s else lo <= s
        case _ => true
      }
    }
  private def cmpHigh(x: Option[BigDecimal], upper: Option[Any], strict: Boolean, raw: Any): Boolean =
    (x, upper.flatMap(canonNum)) match {
      case (Some(v), Some(hi)) => if (strict) hi > v else hi >= v
      case _ => (raw, upper) match {
        case (s: String, Some(hi: String)) => if (strict) hi > s else hi >= s
        case _ => true
      }
    }
  private def strRange(v: Any, lower: Option[Any], upper: Option[Any]): Boolean = v match {
    case s: String =>
      lower.forall { case lo: String => lo <= s; case _ => true } &&
        upper.forall { case hi: String => hi >= s; case _ => true }
    case _ => true
  }

  private def isMonotonic(t: Transform): Boolean = t match {
    case IdentityTransform | YearTransform | MonthTransform | DayTransform | HourTransform => true
    case TruncateTransform(_) => true
    case _ => false
  }

  private def valueOf(p: ScanPredicate): Any = p match {
    case LtPred(_, v) => v
    case LePred(_, v) => v
    case GtPred(_, v) => v
    case GePred(_, v) => v
    case EqPred(_, v) => v
    case InPred(_, vs) => vs.head
  }

  /** Parse a partition-dir value string into the transform result type. */
  private def parseValue(raw: String, t: IType): Option[Any] = try {
    t match {
      case IInt => Some(raw.toInt)
      case ILong => Some(raw.toLong)
      case IString | IUuid => Some(raw)
      case IDate => Some(java.time.LocalDate.parse(raw))
      case IDouble => Some(raw.toDouble)
      case IFloat => Some(raw.toFloat)
      case IBoolean => Some(raw.toBoolean)
      case IDecimal(_, _) => Some(new java.math.BigDecimal(raw))
      case _ => None
    }
  } catch { case _: Exception => None }

  /** Parquet footer bounds are physical values (dates as epoch days,
    * timestamps as micros). */
  private def parsePhysical(raw: String, t: IType): Option[Any] = try {
    t match {
      case IInt | IDate => Some(raw.toLong)
      case ILong | ITimestamp | ITimestampTz | ITime => Some(raw.toLong)
      case IFloat | IDouble => Some(raw.toDouble)
      case IDecimal(_, _) => Some(BigDecimal(raw))
      case IString | IUuid => Some(raw)
      case IBoolean => Some(raw.toBoolean)
      case _ => None
    }
  } catch { case _: Exception => None }

  /** Canonical physical encoding of a user-supplied predicate value. */
  private def physicalOf(v: Any, t: IType): Any = v match {
    case d: java.time.LocalDate => d.toEpochDay
    case d: java.sql.Date => d.toLocalDate.toEpochDay
    case ts: java.sql.Timestamp => ts.getTime * 1000L
    case i: java.time.Instant => i.getEpochSecond * 1000000L + i.getNano / 1000
    case ldt: java.time.LocalDateTime =>
      ldt.toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
    case other => other
  }

  private def canonNum(v: Any): Option[BigDecimal] = v match {
    case null => None
    case i: Int => Some(BigDecimal(i))
    case l: Long => Some(BigDecimal(l))
    case f: Float => Some(BigDecimal(f.toDouble))
    case d: Double => Some(BigDecimal(d))
    case d: java.math.BigDecimal => Some(BigDecimal(d))
    case d: BigDecimal => Some(d)
    case d: java.time.LocalDate => Some(BigDecimal(d.toEpochDay))
    case d: java.sql.Date => Some(BigDecimal(d.toLocalDate.toEpochDay))
    case _ => None
  }

  private def canonEq(a: Any, b: Any): Boolean = (canonNum(a), canonNum(b)) match {
    case (Some(x), Some(y)) => x == y
    case _ => String.valueOf(a) == String.valueOf(b)
  }
}

/** Hadoop `Configuration` is not `Serializable`; this carries a
  * [[TableScan.trimmed]] conf's entries through a Spark broadcast by
  * writing their key/value state (the same trick Spark's own internal
  * wrapper uses). Graft makes one only in [[TableScan.taskConf]]: tasks
  * read it through that broadcast, never from their own closure. Tasks
  * read [[value]], the entries over the Hadoop defaults of the JVM that
  * reads them, so an executor sees the `*-default.xml` values the
  * entries leave out, and the entries win over its own site files. */
private[graft] class SerializableHadoopConf(@transient var entries: Configuration)
    extends Serializable {
  @transient lazy val value: Configuration = {
    val c = new Configuration()
    entries.forEach(e => c.set(e.getKey, e.getValue))
    c
  }
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    entries.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    entries = new Configuration(false)
    entries.readFields(in)
  }
}
