package graft.catalog

import graft._
import graft.meta._
import graft.table.{Table, TableFiles}
import graft.types.Schema
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.json4s._
import org.json4s.jackson.JsonMethods

/**
 * Filesystem-warehouse catalog: each table directory carries
 * `metadata/v{N}.metadata.json` plus `metadata/version-hint.text`, and a
 * commit is a create-if-absent of the next version file (rename-free CAS —
 * `TableFiles.create(fs, path, overwrite = false)` is the gate). On the local
 * file system that create is one `O_EXCL` open, so two catalog instances or
 * processes over one warehouse cannot both claim a version; on other file
 * systems it is as atomic as their `fs.create(path, overwrite = false)`.
 * This is the FS analogue of the reference's SQL/Glue pointer-swap backends
 * (`ext/iceberg/src/catalog.rs:309-441` semantics).
 *
 * Namespaces are directories marked with a `.graft_ns.json` properties file
 * (so data directories are never mistaken for namespaces).
 */
final class HadoopCatalog(
    val warehouse: String,
    val name: String = "hadoop",
    val defaultNamespace: Seq[String] = Seq("default"),
    val hadoopConf: Configuration = new Configuration()) extends Catalog {

  private val NsMarker = ".graft_ns.json"
  private val root = new Path(warehouse)
  private def fs = root.getFileSystem(hadoopConf)
  // serializes this instance's commits; other instances and processes are
  // kept out by the create-if-absent of the next version file
  private val lock = new Object

  if (!fs.exists(nsMarkerPath(defaultNamespace))) createNamespace(defaultNamespace, ifNotExists = true)

  private def nsPath(ns: Seq[String]): Path = ns.foldLeft(root)((p, s) => new Path(p, s))
  private def nsMarkerPath(ns: Seq[String]): Path = new Path(nsPath(ns), NsMarker)
  private def tablePath(ident: TableIdent): Path = new Path(nsPath(ident.namespace), ident.name)
  private def metadataDir(ident: TableIdent): Path = new Path(tablePath(ident), "metadata")
  private def hintPath(ident: TableIdent): Path = new Path(metadataDir(ident), "version-hint.text")
  private def versionPath(ident: TableIdent, v: Int): Path =
    new Path(metadataDir(ident), s"v$v.metadata.json")

  private def writeFile(p: Path, content: String, overwrite: Boolean): Unit = {
    val out = TableFiles.create(fs, p, overwrite)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }
  private def readFile(p: Path): String = {
    val len = fs.getFileStatus(p).getLen.toInt
    val buf = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(0, buf) finally in.close()
    new String(buf, "UTF-8")
  }
  /** Table presence on disk, tolerant of a lost hint file. */
  private def tableOnDisk(ident: TableIdent): Boolean =
    fs.exists(hintPath(ident)) || fs.exists(versionPath(ident, 1))

  /** Current version with crash recovery: the hint file is a HINT, not the
    * authority — a writer that died after creating `v{N+1}.metadata.json`
    * but before updating the hint has COMMITTED (the create-if-absent
    * succeeded). Without roll-forward, every later commit would retry
    * create(v+1), hit the orphan, and livelock on CommitConflictError.
    * Scan forward from the hint, adopt the highest existing version, and
    * repair the hint. */
  private def readVersion(ident: TableIdent): Int = {
    // the hint rewrite truncates-then-writes, so a concurrent reader can
    // observe it empty or partial — treat an unparseable hint exactly
    // like a lost one (the version-file scan below recovers the truth)
    val hinted: Option[Int] =
      if (fs.exists(hintPath(ident)))
        scala.util.Try(readFile(hintPath(ident)).trim.toInt).toOption
      else None
    var v = hinted.getOrElse {
      if (fs.exists(versionPath(ident, 1))) 1 // hint lost or mid-rewrite
      else throw new NoSuchTableError(s"Table does not exist: $ident")
    }
    var advanced = false
    while (fs.exists(versionPath(ident, v + 1))) { v += 1; advanced = true }
    if (advanced) writeFile(hintPath(ident), v.toString, overwrite = true)
    v
  }

  // ---------------------------------------------------------- namespaces
  def listNamespaces(parent: Option[Seq[String]] = None): Seq[Seq[String]] = {
    val base = parent.getOrElse(Nil)
    if (parent.isDefined && !namespaceExists(base))
      throw new NoSuchNamespaceError(s"Namespace does not exist: ${base.mkString(".")}")
    val dir = nsPath(base)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory && fs.exists(new Path(st.getPath, NsMarker)))
      .map(st => base :+ st.getPath.getName)
      .sortBy(_.mkString("."))
  }

  def createNamespace(ns: Seq[String], properties: Map[String, String] = Map.empty,
                      ifNotExists: Boolean = false): Unit = {
    if (namespaceExists(ns)) {
      if (!ifNotExists)
        throw new NamespaceAlreadyExistsError(s"Namespace already exists: ${ns.mkString(".")}")
    } else {
      writeFile(nsMarkerPath(ns), propsToJson(properties), overwrite = true)
    }
  }

  def namespaceExists(ns: Seq[String]): Boolean = fs.exists(nsMarkerPath(ns))

  def namespaceProperties(ns: Seq[String]): Map[String, String] = {
    if (!namespaceExists(ns))
      throw new NoSuchNamespaceError(s"Namespace does not exist: ${ns.mkString(".")}")
    propsFromJson(readFile(nsMarkerPath(ns)))
  }

  def updateNamespace(ns: Seq[String], properties: Map[String, String]): Unit = {
    if (!namespaceExists(ns))
      throw new NoSuchNamespaceError(s"Namespace does not exist: ${ns.mkString(".")}")
    writeFile(nsMarkerPath(ns), propsToJson(properties), overwrite = true)
  }

  def dropNamespace(ns: Seq[String], ifExists: Boolean = false): Unit = {
    if (!namespaceExists(ns)) {
      if (!ifExists)
        throw new NoSuchNamespaceError(s"Namespace does not exist: ${ns.mkString(".")}")
      return
    }
    val children = fs.listStatus(nsPath(ns)).filter(_.getPath.getName != NsMarker)
    if (children.nonEmpty)
      throw new GraftError(s"Namespace is not empty: ${ns.mkString(".")}")
    fs.delete(nsPath(ns), true)
  }

  // -------------------------------------------------------------- tables
  def listTables(ns: Option[Seq[String]] = None): Seq[Seq[String]] = {
    val target = ns.getOrElse(defaultNamespace)
    if (!namespaceExists(target))
      throw new NoSuchNamespaceError(s"Namespace does not exist: ${target.mkString(".")}")
    fs.listStatus(nsPath(target)).toSeq
      .filter(st => st.isDirectory &&
        (fs.exists(new Path(st.getPath, "metadata/version-hint.text")) ||
          fs.exists(new Path(st.getPath, "metadata/v1.metadata.json"))))
      .map(st => target :+ st.getPath.getName)
      .sortBy(_.mkString("."))
  }

  def createTable(name: String, schema: Schema,
                  location: Option[String] = None,
                  partitionSpec: PartitionSpec = PartitionSpec.Unpartitioned,
                  sortOrder: SortOrder = SortOrder.Unsorted,
                  properties: Map[String, String] = Map.empty): Table = lock.synchronized {
    val ident = resolveIdent(name)
    if (!namespaceExists(ident.namespace))
      throw new NoSuchNamespaceError(s"Namespace does not exist: ${ident.namespace.mkString(".")}")
    if (tableExists(name))
      throw new TableAlreadyExistsError(s"Table already exists: $ident")
    CatalogUtil.validateSpec(schema, partitionSpec)
    val loc = location.getOrElse(tablePath(ident).toString)
    val meta = TableMetadata.create(loc, schema, partitionSpec, sortOrder, properties)
    CatalogUtil.writeMetadataFile(versionPath(ident, 1), meta, hadoopConf, overwrite = false)
    writeFile(hintPath(ident), "1", overwrite = true)
    new Table(Some(this), ident, meta, hadoopConf)
  }

  def loadTable(name: String): Table = {
    val ident = resolveIdent(name)
    new Table(Some(this), ident, currentMetadata(ident), hadoopConf)
  }

  def dropTable(name: String, ifExists: Boolean = false): Unit = {
    val ident = resolveIdent(name)
    if (!tableOnDisk(ident)) {
      if (!ifExists) throw new NoSuchTableError(s"Table does not exist: $ident")
      return
    }
    // catalog entry removal only: the metadata pointer goes away, data stays
    fs.delete(metadataDir(ident), true)
  }

  def purgeTable(name: String): Unit = {
    val ident = resolveIdent(name)
    if (!tableOnDisk(ident))
      throw new NoSuchTableError(s"Table does not exist: $ident")
    val loc = new Path(currentMetadata(ident).location)
    fs.delete(metadataDir(ident), true)
    if (fs.exists(loc)) fs.delete(loc, true)
    if (fs.exists(tablePath(ident))) fs.delete(tablePath(ident), true)
  }

  def tableExists(name: String): Boolean = {
    val ident = resolveIdent(name)
    namespaceExists(ident.namespace) && tableOnDisk(ident)
  }

  def renameTable(oldName: String, newName: String): Unit = lock.synchronized {
    val oldIdent = resolveIdent(oldName)
    val newIdent = resolveIdent(newName)
    if (!tableOnDisk(oldIdent))
      throw new NoSuchTableError(s"Table does not exist: $oldIdent")
    if (!namespaceExists(newIdent.namespace))
      throw new NoSuchNamespaceError(s"Namespace does not exist: ${newIdent.namespace.mkString(".")}")
    if (fs.exists(tablePath(newIdent)))
      throw new TableAlreadyExistsError(s"Table already exists: $newIdent")
    if (!fs.rename(tablePath(oldIdent), tablePath(newIdent)))
      throw new GraftError(s"rename failed: $oldIdent -> $newIdent")
  }

  def registerTable(name: String, metadataLocation: String): Table = lock.synchronized {
    val ident = resolveIdent(name)
    if (!namespaceExists(ident.namespace))
      throw new NoSuchNamespaceError(s"Namespace does not exist: ${ident.namespace.mkString(".")}")
    if (tableExists(name))
      throw new TableAlreadyExistsError(s"Table already exists: $ident")
    val meta = CatalogUtil.readMetadataFile(metadataLocation, hadoopConf)
    CatalogUtil.writeMetadataFile(versionPath(ident, 1), meta, hadoopConf, overwrite = false)
    writeFile(hintPath(ident), "1", overwrite = true)
    new Table(Some(this), ident, meta, hadoopConf)
  }

  // ------------------------------------------------------ commit protocol
  private[graft] override def supportsStagedPublish: Boolean = true
  private[graft] override def defaultTableLocation(ident: TableIdent): String =
    (Seq(warehouse) ++ ident.namespace ++ Seq(ident.name)).mkString("/")

  private[graft] def commitTable(ident: TableIdent, base: TableMetadata,
                                 updated: TableMetadata): TableMetadata = lock.synchronized {
    val v = readVersion(ident)
    val current = CatalogUtil.readMetadataFile(versionPath(ident, v).toString, hadoopConf)
    if (CatalogUtil.versionFingerprint(current) != CatalogUtil.versionFingerprint(base))
      throw new CommitConflictError(s"concurrent commit to $ident")
    val withLog = updated.copy(metadataLog = updated.metadataLog :+
      MetadataLogEntry(System.currentTimeMillis(), versionPath(ident, v).toString))
    // create-if-absent is the CAS: a racing writer that already claimed v+1
    // makes this throw CommitConflictError (caller refreshes and retries)
    CatalogUtil.writeMetadataFile(versionPath(ident, v + 1), withLog, hadoopConf, overwrite = false)
    writeFile(hintPath(ident), (v + 1).toString, overwrite = true)
    withLog
  }

  private[graft] def currentMetadata(ident: TableIdent): TableMetadata = {
    if (!fs.exists(hintPath(ident)) && !fs.exists(versionPath(ident, 1)))
      throw new NoSuchTableError(s"Table does not exist: $ident")
    CatalogUtil.readMetadataFile(versionPath(ident, readVersion(ident)).toString, hadoopConf)
  }

  // ---------------------------------------------------------------- json
  private def propsToJson(m: Map[String, String]): String =
    JsonMethods.compact(JsonMethods.render(
      JObject(m.toList.map { case (k, v) => k -> (JString(v): JValue) })))
  private def propsFromJson(s: String): Map[String, String] = JsonMethods.parse(s) match {
    case JObject(fields) => fields.collect { case (k, JString(v)) => k -> v }.toMap
    case _ => Map.empty
  }
}
