package graft.catalog

import graft._
import graft.meta._
import graft.table.{Table, TableFiles}
import graft.types.Schema
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import scala.collection.mutable

/**
 * In-process catalog (ref memory backend, `ext/iceberg/src/catalog.rs:48-58`;
 * the reference test suite's default, `test/test_helper.rb:26-59`). Metadata
 * pointers live in a synchronized map; data/manifest files live under the
 * warehouse directory on the local FS.
 */
final class MemoryCatalog(
    val name: String = "memory",
    val warehouse: String =
      java.nio.file.Files.createTempDirectory("graft-wh").toString,
    val defaultNamespace: Seq[String] = Seq("default"),
    val hadoopConf: Configuration = new Configuration()) extends Catalog {

  private val namespaces = mutable.Map[Seq[String], Map[String, String]](
    defaultNamespace -> Map.empty)
  private val tables = mutable.Map[TableIdent, TableMetadata]()
  private val lock = new Object

  // ---------------------------------------------------------- namespaces
  def listNamespaces(parent: Option[Seq[String]] = None): Seq[Seq[String]] =
    lock.synchronized {
      parent match {
        case None => namespaces.keys.filter(_.length == 1).toSeq.sortBy(_.mkString("."))
        case Some(p) =>
          if (!namespaces.contains(p))
            throw new NoSuchNamespaceError(s"Namespace does not exist: ${p.mkString(".")}")
          namespaces.keys
            .filter(ns => ns.length == p.length + 1 && ns.startsWith(p))
            .toSeq.sortBy(_.mkString("."))
      }
    }

  def createNamespace(ns: Seq[String], properties: Map[String, String] = Map.empty,
                      ifNotExists: Boolean = false): Unit = lock.synchronized {
    if (namespaces.contains(ns)) {
      if (!ifNotExists)
        throw new NamespaceAlreadyExistsError(s"Namespace already exists: ${ns.mkString(".")}")
    } else namespaces(ns) = properties
  }

  def namespaceExists(ns: Seq[String]): Boolean =
    lock.synchronized(namespaces.contains(ns))

  def namespaceProperties(ns: Seq[String]): Map[String, String] = lock.synchronized {
    namespaces.getOrElse(ns,
      throw new NoSuchNamespaceError(s"Namespace does not exist: ${ns.mkString(".")}"))
  }

  def updateNamespace(ns: Seq[String], properties: Map[String, String]): Unit =
    lock.synchronized {
      if (!namespaces.contains(ns))
        throw new NoSuchNamespaceError(s"Namespace does not exist: ${ns.mkString(".")}")
      namespaces(ns) = properties
    }

  def dropNamespace(ns: Seq[String], ifExists: Boolean = false): Unit = lock.synchronized {
    if (!namespaces.contains(ns)) {
      if (!ifExists)
        throw new NoSuchNamespaceError(s"Namespace does not exist: ${ns.mkString(".")}")
    } else {
      if (tables.keys.exists(_.namespace == ns))
        throw new GraftError(s"Namespace is not empty: ${ns.mkString(".")}")
      if (namespaces.keys.exists(child => child.length > ns.length && child.startsWith(ns)))
        throw new GraftError(s"Namespace is not empty: ${ns.mkString(".")}")
      namespaces.remove(ns)
    }
  }

  // -------------------------------------------------------------- tables
  def listTables(ns: Option[Seq[String]] = None): Seq[Seq[String]] = lock.synchronized {
    val target = ns.getOrElse(defaultNamespace)
    if (!namespaces.contains(target))
      throw new NoSuchNamespaceError(s"Namespace does not exist: ${target.mkString(".")}")
    tables.keys.filter(_.namespace == target).map(_.parts).toSeq.sortBy(_.mkString("."))
  }

  def createTable(name: String, schema: Schema,
                  location: Option[String] = None,
                  partitionSpec: PartitionSpec = PartitionSpec.Unpartitioned,
                  sortOrder: SortOrder = SortOrder.Unsorted,
                  properties: Map[String, String] = Map.empty): Table = lock.synchronized {
    val ident = resolveIdent(name)
    if (!namespaces.contains(ident.namespace))
      throw new NoSuchNamespaceError(s"Namespace does not exist: ${ident.namespace.mkString(".")}")
    if (tables.contains(ident))
      throw new TableAlreadyExistsError(s"Table already exists: $ident")
    CatalogUtil.validateSpec(schema, partitionSpec)
    val loc = location.getOrElse(
      (Seq(warehouse) ++ ident.namespace ++ Seq(ident.name)).mkString("/"))
    val meta = TableMetadata.create(loc, schema, partitionSpec, sortOrder, properties)
    tables(ident) = meta
    new Table(Some(this), ident, meta, hadoopConf)
  }

  def loadTable(name: String): Table = lock.synchronized {
    val ident = resolveIdent(name)
    val meta = tables.getOrElse(ident,
      throw new NoSuchTableError(s"Table does not exist: $ident"))
    new Table(Some(this), ident, meta, hadoopConf)
  }

  def dropTable(name: String, ifExists: Boolean = false): Unit = lock.synchronized {
    val ident = resolveIdent(name)
    if (tables.remove(ident).isEmpty && !ifExists)
      throw new NoSuchTableError(s"Table does not exist: $ident")
  }

  def purgeTable(name: String): Unit = {
    val loc = lock.synchronized {
      val ident = resolveIdent(name)
      val meta = tables.remove(ident).getOrElse(
        throw new NoSuchTableError(s"Table does not exist: ${ident.toString}"))
      meta.location
    }
    val p = new Path(loc)
    val fs = p.getFileSystem(hadoopConf)
    if (fs.exists(p)) fs.delete(p, true)
  }

  def tableExists(name: String): Boolean = lock.synchronized {
    val ident = resolveIdent(name)
    // missing namespace → false, not an error (ref catalog.rb:89-93)
    namespaces.contains(ident.namespace) && tables.contains(ident)
  }

  def renameTable(oldName: String, newName: String): Unit = lock.synchronized {
    val oldIdent = resolveIdent(oldName)
    val newIdent = resolveIdent(newName)
    val meta = tables.getOrElse(oldIdent,
      throw new NoSuchTableError(s"Table does not exist: $oldIdent"))
    if (!namespaces.contains(newIdent.namespace))
      throw new NoSuchNamespaceError(s"Namespace does not exist: ${newIdent.namespace.mkString(".")}")
    if (tables.contains(newIdent))
      throw new TableAlreadyExistsError(s"Table already exists: $newIdent")
    tables.remove(oldIdent)
    tables(newIdent) = meta
  }

  def registerTable(name: String, metadataLocation: String): Table = lock.synchronized {
    val ident = resolveIdent(name)
    if (!namespaces.contains(ident.namespace))
      throw new NoSuchNamespaceError(s"Namespace does not exist: ${ident.namespace.mkString(".")}")
    if (tables.contains(ident))
      throw new TableAlreadyExistsError(s"Table already exists: $ident")
    val meta = CatalogUtil.readMetadataFile(metadataLocation, hadoopConf)
    tables(ident) = meta
    new Table(Some(this), ident, meta, hadoopConf)
  }

  // ------------------------------------------------------ commit protocol
  private[graft] override def supportsStagedPublish: Boolean = true
  private[graft] override def defaultTableLocation(ident: TableIdent): String =
    (Seq(warehouse) ++ ident.namespace ++ Seq(ident.name)).mkString("/")

  private[graft] def commitTable(ident: TableIdent, base: TableMetadata,
                                 updated: TableMetadata): TableMetadata = lock.synchronized {
    val current = tables.getOrElse(ident,
      throw new NoSuchTableError(s"Table does not exist: $ident"))
    if (CatalogUtil.versionFingerprint(current) != CatalogUtil.versionFingerprint(base))
      throw new CommitConflictError(s"concurrent commit to $ident")
    tables(ident) = updated
    updated
  }

  private[graft] def currentMetadata(ident: TableIdent): TableMetadata = lock.synchronized {
    tables.getOrElse(ident, throw new NoSuchTableError(s"Table does not exist: $ident"))
  }
}

private[graft] object CatalogUtil {
  /** Identity for optimistic concurrency: two metadata objects with the same
    * fingerprint describe the same committed version. Covers the FULL
    * committed state (canonicalized JSON with sorted object keys, so a
    * round-trip through MetadataJson can't reorder map entries) — a commit
    * that only changes refs (tags/branches) or only the snapshot list
    * (expiration) must conflict with a concurrent writer holding a
    * pre-commit handle, or tags are silently lost and expired snapshots
    * resurrected. */
  def versionFingerprint(m: TableMetadata): String = {
    import org.json4s._
    def canon(j: JValue): JValue = j match {
      case JObject(fields) => JObject(fields.map { case (k, v) => (k, canon(v)) }.sortBy(_._1))
      case JArray(xs) => JArray(xs.map(canon))
      case other => other
    }
    org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(canon(MetadataJson.toJson(m))))
  }

  def validateSpec(schema: Schema, spec: PartitionSpec): Unit = {
    import graft.transforms.Transform
    spec.fields.foreach { pf =>
      val src = schema.fieldById(pf.sourceId).getOrElse(
        throw new InvalidDataError(s"partition source id ${pf.sourceId} not in schema"))
      val t = Transform.parse(pf.transform)
      if (!t.canTransform(src.fieldType))
        throw new InvalidDataError(
          s"transform ${pf.transform} is not valid for type ${src.fieldType} (column ${src.name})")
    }
  }

  def readMetadataFile(location: String, conf: Configuration): TableMetadata = {
    val p = new Path(location)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p))
      throw new NoSuchTableError(s"Metadata file does not exist: $location")
    // the commit CAS is create-if-absent, so the version file is VISIBLE
    // before its content lands — a concurrent reader (streaming sources
    // resolve the table every trigger) can catch it empty or truncated.
    // Re-read briefly: a writer finishes in milliseconds, and a genuinely
    // malformed file still surfaces its ORIGINAL parse error after the
    // retry budget.
    var last: Throwable = null
    var attempt = 0
    while (attempt < 40) {
      val len = fs.getFileStatus(p).getLen
      if (len > 0L) {
        val buf = new Array[Byte](len.toInt)
        val in = fs.open(p)
        try in.readFully(0, buf) finally in.close()
        try return MetadataJson.read(new String(buf, "UTF-8"))
        catch { case scala.util.control.NonFatal(e) => last = e }
      }
      attempt += 1
      if (attempt < 40) Thread.sleep(25)
    }
    if (last != null) throw last
    throw new GraftError(
      s"metadata file still empty after retries (writer crashed mid-commit?): $location")
  }

  def writeMetadataFile(p: Path, meta: TableMetadata, conf: Configuration,
                        overwrite: Boolean): Unit = {
    val fs = p.getFileSystem(conf)
    val out =
      try TableFiles.create(fs, p, overwrite)
      catch { case _: java.io.IOException if !overwrite =>
        throw new CommitConflictError(s"metadata version already exists: $p")
      }
    try out.write(MetadataJson.write(meta).getBytes("UTF-8")) finally out.close()
  }
}
