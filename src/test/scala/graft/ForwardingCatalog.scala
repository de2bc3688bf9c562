package graft

import graft.catalog.{Catalog, TableIdent}
import graft.meta.{PartitionSpec, SortOrder, TableMetadata}
import graft.table.Table
import graft.types.Schema

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

/** A catalog that forwards every call to `inner`. Tables it hands out name
  * it as their catalog, so every commit a [[Table]] makes comes back
  * through here; subclasses override the calls they observe or break. */
class ForwardingCatalog(inner: Catalog) extends Catalog {
  def name: String = inner.name
  def defaultNamespace: Seq[String] = inner.defaultNamespace

  /** `t` rebound to this catalog. */
  def own(t: Table): Table = new Table(Some(this), t.ident, t.metadata, t.hadoopConf)

  def listNamespaces(parent: Option[Seq[String]]): Seq[Seq[String]] = inner.listNamespaces(parent)
  def createNamespace(ns: Seq[String], properties: Map[String, String],
                      ifNotExists: Boolean): Unit = inner.createNamespace(ns, properties, ifNotExists)
  def namespaceExists(ns: Seq[String]): Boolean = inner.namespaceExists(ns)
  def namespaceProperties(ns: Seq[String]): Map[String, String] = inner.namespaceProperties(ns)
  def updateNamespace(ns: Seq[String], properties: Map[String, String]): Unit =
    inner.updateNamespace(ns, properties)
  def dropNamespace(ns: Seq[String], ifExists: Boolean): Unit = inner.dropNamespace(ns, ifExists)

  def listTables(ns: Option[Seq[String]]): Seq[Seq[String]] = inner.listTables(ns)
  def createTable(name: String, schema: Schema, location: Option[String],
                  partitionSpec: PartitionSpec, sortOrder: SortOrder,
                  properties: Map[String, String]): Table =
    own(inner.createTable(name, schema, location, partitionSpec, sortOrder, properties))
  def loadTable(name: String): Table = own(inner.loadTable(name))
  def dropTable(name: String, ifExists: Boolean): Unit = inner.dropTable(name, ifExists)
  def purgeTable(name: String): Unit = inner.purgeTable(name)
  def tableExists(name: String): Boolean = inner.tableExists(name)
  def renameTable(oldName: String, newName: String): Unit = inner.renameTable(oldName, newName)
  def registerTable(name: String, metadataLocation: String): Table =
    own(inner.registerTable(name, metadataLocation))

  private[graft] def commitTable(ident: TableIdent, base: TableMetadata,
                                 updated: TableMetadata): TableMetadata =
    inner.commitTable(ident, base, updated)
  private[graft] def currentMetadata(ident: TableIdent): TableMetadata =
    inner.currentMetadata(ident)
  private[graft] override def supportsStagedPublish: Boolean = inner.supportsStagedPublish
  private[graft] override def defaultTableLocation(ident: TableIdent): String =
    inner.defaultTableLocation(ident)
}

/** Every `commitTable` is counted and loses its CAS with
  * [[CommitConflictError]], as if another writer always committed first.
  * Drives the terminal-failure path of the commit loop. */
final class ConflictingCatalog(inner: Catalog) extends ForwardingCatalog(inner) {
  val commitCalls = new AtomicInteger()

  private[graft] override def commitTable(ident: TableIdent, base: TableMetadata,
                                          updated: TableMetadata): TableMetadata = {
    commitCalls.incrementAndGet()
    throw new CommitConflictError(s"injected conflict on $ident")
  }
}

/** Records the names passed to `loadTable` and counts `listTables` calls. */
final class CountingCatalog(inner: Catalog) extends ForwardingCatalog(inner) {
  val loads = new ConcurrentLinkedQueue[String]()
  val lists = new AtomicInteger()

  override def loadTable(name: String): Table = { loads.add(name); super.loadTable(name) }
  override def listTables(ns: Option[Seq[String]]): Seq[Seq[String]] = {
    lists.incrementAndGet()
    super.listTables(ns)
  }
}
