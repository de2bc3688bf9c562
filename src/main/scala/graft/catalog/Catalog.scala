package graft.catalog

import graft._
import graft.meta._
import graft.types.Schema
import org.apache.spark.sql.SparkSession

/** Multi-level table identifier. Resolution rules mirror the reference
  * (`ext/iceberg/src/utils.rs:25-52`): dotted single strings split into
  * parts; dotted parts inside arrays are rejected. */
final case class TableIdent(namespace: Seq[String], name: String) {
  def parts: Seq[String] = namespace :+ name
  override def toString: String = parts.mkString(".")
}

object TableIdent {
  def parse(s: String, defaultNamespace: Seq[String]): TableIdent = {
    val parts = s.split('.').toSeq
    if (parts.length == 1) TableIdent(defaultNamespace, parts.head)
    else TableIdent(parts.init, parts.last)
  }
  def of(parts: Seq[String]): TableIdent = {
    parts.foreach { p =>
      if (p.contains('.'))
        throw new InvalidDataError(s"identifier part cannot contain '.': $p")
    }
    TableIdent(parts.init, parts.last)
  }
}

object NamespaceIdent {
  /** A namespace given as a dotted string splits; array parts must be dot-free. */
  def resolve(ns: Any): Seq[String] = ns match {
    case s: String => s.split('.').toSeq
    case parts: Seq[_] =>
      val sp = parts.map(_.toString)
      sp.foreach { p =>
        if (p.contains('.'))
          throw new InvalidDataError(s"namespace part cannot contain '.': $p")
      }
      sp
    case other => throw new InvalidDataError(s"bad namespace: $other")
  }
}

/**
 * Catalog interface — the §2.1 DDL operator inventory of the reference
 * (`lib/iceberg/catalog.rb:1-129`): namespaces, tables, metadata pointers.
 * Implementations: [[MemoryCatalog]] (in-process map) and [[HadoopCatalog]]
 * (warehouse directory with `version-hint.text` + rename-CAS commits).
 */
trait Catalog {
  def name: String
  def defaultNamespace: Seq[String]

  // -- namespaces -----------------------------------------------------------
  def listNamespaces(parent: Option[Seq[String]] = None): Seq[Seq[String]]
  def createNamespace(ns: Seq[String], properties: Map[String, String] = Map.empty,
                      ifNotExists: Boolean = false): Unit
  def namespaceExists(ns: Seq[String]): Boolean
  def namespaceProperties(ns: Seq[String]): Map[String, String]
  def updateNamespace(ns: Seq[String], properties: Map[String, String]): Unit
  def dropNamespace(ns: Seq[String], ifExists: Boolean = false): Unit

  // -- tables ---------------------------------------------------------------
  def listTables(ns: Option[Seq[String]] = None): Seq[Seq[String]]
  def createTable(name: String, schema: Schema,
                  location: Option[String] = None,
                  partitionSpec: PartitionSpec = PartitionSpec.Unpartitioned,
                  sortOrder: SortOrder = SortOrder.Unsorted,
                  properties: Map[String, String] = Map.empty): graft.table.Table
  def loadTable(name: String): graft.table.Table
  def dropTable(name: String, ifExists: Boolean = false): Unit
  def purgeTable(name: String): Unit
  def tableExists(name: String): Boolean
  def renameTable(oldName: String, newName: String): Unit
  def registerTable(name: String, metadataLocation: String): graft.table.Table

  // -- SQL surface (§2.7) ----------------------------------------------------
  /** `catalog.sql(query, params)` parity (ref `lib/iceberg/catalog.rb:103-108`):
    * Spark SQL over this catalog's tables, positional `$1..$n` params. */
  def sql(spark: SparkSession, query: String,
          params: Seq[Any] = Nil): graft.table.Result =
    graft.sql.GraftSql.sql(this, spark, query, params)

  private val sqlSessions = new java.util.WeakHashMap[SparkSession, SparkSession]()

  /** The session [[sql]] runs in for `caller`, made on first use
    * ([[graft.sql.GraftSql.newSession]]) and kept while `caller` lives. */
  private[graft] def sqlSession(caller: SparkSession): SparkSession = sqlSessions.synchronized {
    sqlSessions.computeIfAbsent(caller, graft.sql.GraftSql.newSession(this, _))
  }

  // -- commit protocol (used by Table.append) --------------------------------
  /** Atomically replace the table's metadata; `base` is the version the
    * writer started from (optimistic concurrency — throws
    * [[CommitConflictError]] if someone else committed in between). */
  private[graft] def commitTable(ident: TableIdent, base: TableMetadata,
                                 updated: TableMetadata): TableMetadata
  private[graft] def currentMetadata(ident: TableIdent): TableMetadata

  // -- staged publish (atomic CREATE/REPLACE TABLE AS SELECT) ---------------
  /** Whether externally-staged metadata can publish through [[commitTable]]
    * (the pointer-owning backends). REST stays false: the server assigns
    * locations and owns commits, so the Spark layer degrades to Spark's own
    * non-atomic replace semantics there. */
  private[graft] def supportsStagedPublish: Boolean = false
  /** The location a new table would get — staged data files land there
    * BEFORE the table exists, so the convention must be deterministic. */
  private[graft] def defaultTableLocation(ident: TableIdent): String =
    throw new UnsupportedFeatureError(s"catalog $name does not stage tables")

  protected def resolveIdent(name: String): TableIdent =
    TableIdent.parse(name, defaultNamespace)
}
