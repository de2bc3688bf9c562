package graft.spark

import graft._
import graft.catalog.{Catalog => GCatalog, HadoopCatalog}
import graft.meta.SortOrder
import graft.types.SparkSchemaConverter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Table => SparkTableApi, _}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/**
 * Native DSv2 `TableCatalog` (SURVEY.md §7.3's sanctioned optional step):
 * registers a graft catalog under a Spark catalog name so the full SQL
 * surface routes through Spark's catalog API with no temp-view
 * registration —
 *
 * {{{
 * spark.conf.set("spark.sql.catalog.graft", classOf[GraftSparkCatalog].getName)
 * spark.conf.set("spark.sql.catalog.graft.warehouse", "/path/to/warehouse")
 * spark.sql("CREATE TABLE graft.ns.t (id BIGINT, ts TIMESTAMP) PARTITIONED BY (bucket(4, id), days(ts))")
 * spark.sql("INSERT INTO graft.ns.t SELECT …")
 * spark.sql("SELECT * FROM graft.ns.t VERSION AS OF 123")
 * spark.sql("DELETE FROM graft.ns.t WHERE id = 5")
 * }}}
 *
 * Backends: `warehouse=<dir>` opens a [[HadoopCatalog]]; `ref=<key>` binds
 * to a catalog instance pre-registered with [[GraftSparkCatalog.bind]]
 * (tests, or programmatic Memory/REST/JDBC catalogs). Time travel maps to
 * `VERSION AS OF <snapshot-id>` / `TIMESTAMP AS OF` via the
 * `loadTable(ident, version|timestamp)` hooks; metadata tables resolve as
 * `ns.t.snapshots` etc.
 */
class GraftSparkCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog with StagingTableCatalog {

  private var catalogName: String = _
  private var refKey: Option[String] = None
  private var fixedBacking: GCatalog = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    refKey = Option(options.get("ref"))
    if (refKey.isEmpty) {
      val wh = Option(options.get("warehouse")).getOrElse(throw new IllegalArgumentException(
        s"catalog $name requires a 'warehouse' or 'ref' option"))
      fixedBacking = new HadoopCatalog(wh, name)
    }
  }

  /** Spark caches catalog plugin instances for the session's lifetime, so a
    * `ref` binding resolves on every access — re-binding the key (tests,
    * repeated benchmark runs) swaps the backing catalog without a new
    * session. */
  private def backing: GCatalog =
    refKey.map(GraftSparkCatalog.resolve).getOrElse(fixedBacking)

  override def name(): String = catalogName
  override def defaultNamespace(): Array[String] = backing.defaultNamespace.toArray

  /** The wrapped graft catalog (programmatic access alongside SQL). */
  def graftCatalog: GCatalog = backing

  private def nameOf(ident: Identifier): String =
    (ident.namespace.toSeq :+ ident.name).mkString(".")

  // -------------------------------------------------------------- tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!backing.namespaceExists(namespace.toSeq))
      throw new NoSuchNamespaceException(namespace)
    backing.listTables(Some(namespace.toSeq))
      .map(parts => Identifier.of(parts.init.toArray, parts.last)).toArray
  }

  override def loadTable(ident: Identifier): SparkTableApi =
    try new GraftSparkTable(backing.loadTable(nameOf(ident)))
    catch {
      case _: NoSuchTableError | _: NoSuchNamespaceError =>
        metadataTable(ident).getOrElse(throw new NoSuchTableException(ident))
    }

  private def graftTable(ident: Identifier): graft.table.Table =
    try backing.loadTable(nameOf(ident)) catch {
      case _: NoSuchTableError | _: NoSuchNamespaceError => throw new NoSuchTableException(ident)
    }

  /** `VERSION AS OF <snapshot-id | 'branch' | 'tag'>` — a ref name reads
    * that ref's head, so WAP audit branches are SQL-readable:
    * `SELECT … FROM graft.ns.t VERSION AS OF 'audit'`. */
  override def loadTable(ident: Identifier, version: String): SparkTableApi = {
    val t = graftTable(ident)
    val sid = version.toLongOption match {
      case Some(id) =>
        if (t.snapshotById(id).isEmpty)
          throw new InvalidDataError(s"no snapshot with id $id")
        id
      case None => t.snapshotForRef(version).map(_.snapshotId).getOrElse(
        throw new InvalidDataError(s"no snapshot or ref named $version"))
    }
    new GraftSparkTable(t, Some(sid))
  }

  /** `TIMESTAMP AS OF` — Spark hands micros since epoch. */
  override def loadTable(ident: Identifier, timestampMicros: Long): SparkTableApi = {
    val t = graftTable(ident)
    val snap = t.snapshotAsOf(timestampMicros / 1000L).getOrElse(
      throw new InvalidDataError(
        s"no snapshot at or before timestamp ${timestampMicros / 1000L}"))
    new GraftSparkTable(t, Some(snap.snapshotId))
  }

  /** `ns.t.snapshots` / `.history` / `.refs` / `.manifests` / `.files` /
    * `.partitions` resolve as read-only metadata tables when `ns.t` exists,
    * and so do the SQL wrapper's `ns.t_snapshots` / `_history` / `_refs`.
    * Both are reached only when no table has the name itself. */
  private def metadataTable(ident: Identifier): Option[SparkTableApi] = {
    val ns = ident.namespace.toSeq
    val dotted = if (ns.isEmpty) None else Some(ns.mkString(".") -> ident.name)
    val aliased = ident.name match {
      case GraftSparkCatalog.MetadataAlias(base, kind) => Some((ns :+ base).mkString(".") -> kind)
      case _ => None
    }
    (dotted ++ aliased).collectFirst {
      case (parent, kind) if GraftSparkCatalog.metadataDFs.contains(kind) && backing.tableExists(parent) =>
        val t = backing.loadTable(parent)
        new GraftMetadataSparkTable(s"$parent.$kind",
          s => GraftSparkCatalog.metadataDFs(kind)(t.refresh(), s))
    }
  }

  private def userTableProps(props: Map[String, String]): Map[String, String] = {
    val reserved = Set(TableCatalog.PROP_LOCATION, TableCatalog.PROP_PROVIDER,
      TableCatalog.PROP_OWNER, TableCatalog.PROP_EXTERNAL,
      TableCatalog.PROP_COMMENT, TableCatalog.PROP_COLLATION,
      TableCatalog.PROP_IS_MANAGED_LOCATION, TableCatalog.PROP_TABLE_TYPE)
    props.view
      .filterKeys(k => !reserved.contains(k) && !k.startsWith(TableCatalog.OPTION_PREFIX))
      .toMap
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): SparkTableApi = {
    val props = properties.asScala.toMap
    val location = props.get(TableCatalog.PROP_LOCATION)
    val tableProps = userTableProps(props)
    // Spark DDL carries no field ids — fromSpark auto-assigns fresh ones
    val gSchema = SparkSchemaConverter.fromSpark(schema)
    val spec = TransformBridge.toGraftSpec(partitions, gSchema)
    val t =
      try backing.createTable(nameOf(ident), gSchema, location, spec,
        SortOrder.Unsorted, tableProps)
      catch {
        case _: TableAlreadyExistsError => throw new TableAlreadyExistsException(ident)
        case _: NoSuchNamespaceError => throw new NoSuchNamespaceException(ident.namespace)
      }
    new GraftSparkTable(t)
  }

  // ------------------------------------------- staged CTAS / RTAS (atomic)

  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable =
    stage(ident, info, replace = false, orCreate = false)
  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable =
    stage(ident, info, replace = true, orCreate = false)
  override def stageCreateOrReplace(ident: Identifier, info: TableInfo): StagedTable =
    stage(ident, info, replace = true, orCreate = true)

  /**
   * Atomic `CREATE/REPLACE TABLE … AS SELECT`: the staged table's data and
   * metadata accumulate against an UNPUBLISHED in-memory pointer
   * ([[graft.catalog.StagingShim]] — the full batch write path runs
   * unchanged), and `commitStagedChanges` publishes everything in one
   * `commitTable` CAS, retried like every table commit and failing with
   * the last [[CommitConflictError]] once the retries run out. A REPLACE
   * therefore never has a window where the old table is missing, and a
   * failed source query or publish leaves it untouched — the exact hazard
   * of the non-atomic drop-then-create path. Staged files
   * of an aborted attempt are deleted best-effort (anything missed is
   * unreferenced and reclaimed by `remove_orphan_files`).
   *
   * Backends that do not own their metadata pointer (REST — the server
   * assigns locations and commits) degrade to Spark's own non-atomic
   * replace semantics behind the same interface.
   */
  private def stage(ident: Identifier, info: TableInfo,
                    replace: Boolean, orCreate: Boolean): StagedTable = {
    val gSchema = SparkSchemaConverter.fromSpark(info.schema())
    val spec = TransformBridge.toGraftSpec(info.partitions(), gSchema)
    val props = info.properties().asScala.toMap
    val tableProps = userTableProps(props)
    val name = nameOf(ident)
    if (!backing.namespaceExists(ident.namespace.toSeq))
      throw new NoSuchNamespaceException(ident.namespace)
    val exists = backing.tableExists(name)
    if (!replace && exists) throw new TableAlreadyExistsException(ident)
    if (replace && !orCreate && !exists) throw new NoSuchTableException(ident)

    if (!backing.supportsStagedPublish) {
      if (exists) backing.dropTable(name)
      val t = backing.createTable(name, gSchema, None, spec, SortOrder.Unsorted, tableProps)
      return new GraftStagedTable(t, doCommit = () => (),
        doAbort = () => backing.dropTable(name, ifExists = true))
    }

    val gIdent = graft.catalog.TableIdent.parse(name, backing.defaultNamespace)
    val existing = if (exists) Some(backing.loadTable(name)) else None
    val location = props.get(TableCatalog.PROP_LOCATION)
      .orElse(existing.map(_.location))
      .getOrElse(backing.defaultTableLocation(gIdent))
    val stagedMeta = graft.meta.TableMetadata.create(location, gSchema, spec,
      SortOrder.Unsorted, tableProps)
    val shim = new graft.catalog.StagingShim(backing, stagedMeta)
    val staged = new graft.table.Table(Some(shim), gIdent, stagedMeta,
      existing.map(_.hadoopConf).getOrElse(new org.apache.hadoop.conf.Configuration()))

    new GraftStagedTable(staged,
      doCommit = () => {
        val finalMeta = shim.current
        if (backing.tableExists(name)) {
          if (!replace)
            throw new TableAlreadyExistsError(s"Table already exists: $name")
          backing.loadTable(name).replaceMetadata(finalMeta)
        } else {
          // brief empty-table window (CREATE only — no old data at risk)
          val fresh = backing.createTable(name, gSchema, Some(location), spec,
            SortOrder.Unsorted, tableProps)
          backing.commitTable(gIdent, fresh.metadata, finalMeta)
        }
      },
      doAbort = () => try {
        val conf = staged.hadoopConf
        staged.scan().planFiles().foreach { t =>
          val path = new org.apache.hadoop.fs.Path(t.filePath)
          try path.getFileSystem(conf).delete(path, false)
          catch { case _: Exception => }
        }
      } catch { case _: Exception => })
  }

  override def alterTable(ident: Identifier, changes: TableChange*): SparkTableApi = {
    val t = graftTable(ident)
    val sets = changes.collect { case s: TableChange.SetProperty => s.property -> s.value }
    val removes = changes.collect { case r: TableChange.RemoveProperty => r.property }
    val schemaChanges = changes.filter {
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty => false
      case _ => true
    }
    // schema changes commit FIRST: they are the only ones that can be
    // rejected, and a rejection must not leave a property-only half of
    // the ALTER applied (property updates cannot fail validation)
    if (schemaChanges.nonEmpty) {
      val up = t.updateSchema()
      schemaChanges.foreach {
        case a: TableChange.AddColumn =>
          if (a.fieldNames.length != 1)
            throw new UnsupportedFeatureError("nested ADD COLUMN is not supported")
          if (!a.isNullable)
            throw new UnsupportedFeatureError("ADD COLUMN must be nullable (no default backfill)")
          up.addColumn(a.fieldNames()(0),
            SparkSchemaConverter.fromSparkType(a.dataType()), Option(a.comment()))
        case r: TableChange.RenameColumn =>
          if (r.fieldNames.length != 1)
            throw new UnsupportedFeatureError("nested RENAME COLUMN is not supported")
          up.renameColumn(r.fieldNames()(0), r.newName())
        case d: TableChange.DeleteColumn =>
          if (d.fieldNames.length != 1)
            throw new UnsupportedFeatureError("nested DROP COLUMN is not supported")
          up.deleteColumn(d.fieldNames()(0))
        case other =>
          throw new UnsupportedFeatureError(s"unsupported ALTER TABLE change: $other")
      }
      up.commit()
    }
    if (sets.nonEmpty || removes.nonEmpty)
      t.updateProperties(sets.toMap, removes)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    try { backing.dropTable(nameOf(ident)); true }
    catch { case _: NoSuchTableError | _: NoSuchNamespaceError => false }

  override def purgeTable(ident: Identifier): Boolean =
    try { backing.purgeTable(nameOf(ident)); true }
    catch { case _: NoSuchTableError | _: NoSuchNamespaceError => false }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    try backing.renameTable(nameOf(oldIdent), nameOf(newIdent))
    catch {
      case _: NoSuchTableError => throw new NoSuchTableException(oldIdent)
      case _: TableAlreadyExistsError => throw new TableAlreadyExistsException(newIdent)
    }

  override def invalidateTable(ident: Identifier): Unit = ()

  override def tableExists(ident: Identifier): Boolean =
    backing.tableExists(nameOf(ident))

  // ---------------------------------------------------------- procedures

  /** `CALL graft.system.<proc>(...)` — SQL maintenance (see
    * [[GraftProcedures]] for the roster). */
  override def loadProcedure(ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    if (!ident.namespace.sameElements(Array("system")))
      throw new RuntimeException(s"unknown procedure namespace: ${ident.namespace.mkString(".")}")
    GraftProcedures.load(backing, ident.name).getOrElse(
      throw new RuntimeException(s"unknown procedure: ${ident.name}"))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      GraftProcedures.list.map(Identifier.of(Array("system"), _))
    else Array.empty

  // ---------------------------------------------------------- namespaces

  override def listNamespaces(): Array[Array[String]] =
    backing.listNamespaces(None).map(_.toArray).toArray

  override def listNamespaces(parent: Array[String]): Array[Array[String]] = {
    if (parent.isEmpty) return listNamespaces()
    if (!backing.namespaceExists(parent.toSeq))
      throw new NoSuchNamespaceException(parent)
    backing.listNamespaces(Some(parent.toSeq)).map(_.toArray).toArray
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    backing.namespaceExists(namespace.toSeq)

  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] = {
    if (!backing.namespaceExists(namespace.toSeq))
      throw new NoSuchNamespaceException(namespace)
    backing.namespaceProperties(namespace.toSeq).asJava
  }

  override def createNamespace(namespace: Array[String],
                               metadata: java.util.Map[String, String]): Unit =
    try backing.createNamespace(namespace.toSeq, metadata.asScala.toMap)
    catch {
      case _: NamespaceAlreadyExistsError =>
        throw new NamespaceAlreadyExistsException(namespace)
    }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit = {
    if (!backing.namespaceExists(namespace.toSeq))
      throw new NoSuchNamespaceException(namespace)
    val current = backing.namespaceProperties(namespace.toSeq)
    val updated = changes.foldLeft(current) {
      case (p, s: NamespaceChange.SetProperty) => p.updated(s.property, s.value)
      case (p, r: NamespaceChange.RemoveProperty) => p - r.property
      case (_, other) =>
        throw new UnsupportedFeatureError(s"unsupported namespace change: $other")
    }
    backing.updateNamespace(namespace.toSeq, updated)
  }

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val ns = namespace.toSeq
    if (!backing.namespaceExists(ns)) return false
    if (cascade)
      backing.listTables(Some(ns)).foreach(parts => backing.dropTable(parts.mkString(".")))
    backing.dropNamespace(ns)
    true
  }
}

object GraftSparkCatalog {
  private val MetadataAlias = "(.+)_(snapshots|history|refs)".r

  private val metadataDFs: Map[String, (graft.table.Table, SparkSession) => DataFrame] = {
    val data = col("content") === 0
    Map(
      "snapshots" -> (_.snapshotsDF(_)),
      "history" -> (_.historyDF(_)),
      "refs" -> (_.refsDF(_)),
      "manifests" -> (_.manifestsDF(_)),
      "files" -> (_.filesDF(_)),
      "partitions" -> (_.partitionsDF(_)),
      "entries" -> (_.entriesDF(_)),
      "all_manifests" -> (_.allManifestsDF(_)),
      "all_files" -> (_.allFilesDF(_)),
      "all_data_files" -> ((t, s) => t.allFilesDF(s).where(data)),
      "all_delete_files" -> ((t, s) => t.allFilesDF(s).where(!data)),
      "data_files" -> ((t, s) => t.filesDF(s).where(data)),
      "delete_files" -> ((t, s) => t.filesDF(s).where(!data)),
      "metadata_log_entries" -> (_.metadataLogEntriesDF(_)),
      "statistics" -> (_.statisticsDF(_)),
      "partition_statistics" -> (_.partitionStatisticsDF(_)))
  }

  private val refs = TrieMap[String, () => Option[GCatalog]]()

  /** Pre-register a catalog instance for the `ref=<key>` option (tests and
    * programmatic Memory/REST/JDBC catalogs, which have no string-only
    * construction). */
  def bind(key: String, catalog: GCatalog): Unit = refs.put(key, () => Some(catalog))
  def unbind(key: String): Unit = refs.remove(key)
  private def resolve(key: String): GCatalog =
    refs.get(key).flatMap(_()).getOrElse(throw new IllegalArgumentException(
      s"no graft catalog bound under ref '$key' — call GraftSparkCatalog.bind first"))

  /** Convenience: register `catalog` on `spark` under `name` (must happen
    * before the catalog name is first referenced in SQL). */
  def register(spark: SparkSession, name: String, catalog: GCatalog): Unit = {
    bind(name, catalog)
    configure(spark, name)
  }

  /** [[register]] without keeping `catalog` alive: the binding lapses once
    * nothing else holds the catalog (a catalog's own SQL session). */
  private[graft] def registerWeakly(spark: SparkSession, name: String, catalog: GCatalog): Unit = {
    val ref = new java.lang.ref.WeakReference(catalog)
    refs.put(name, () => Option(ref.get))
    configure(spark, name)
  }

  private def configure(spark: SparkSession, name: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.ref", name)
  }
}
