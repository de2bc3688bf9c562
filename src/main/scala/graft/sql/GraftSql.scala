package graft.sql

import graft._
import graft.catalog.Catalog
import graft.spark.{GraftSparkCatalog, GraftSparkTable}
import graft.table.Result
import graft.types.{NestedField, Schema}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, InsertIntoStatement, LogicalPlan, MergeIntoTable, UpdateTable}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graftbridge.CatalystBridge

import java.util.concurrent.atomic.AtomicLong
import scala.util.matching.Regex

/**
 * The reference's SQL surface (`catalog.sql(query, params)`,
 * `lib/iceberg/catalog.rb:103-108` → `ext/iceberg/src/catalog.rs:443-508`)
 * on Spark SQL. As the reference makes the catalog DataFusion's default
 * catalog and schema (`catalog.rs:449-455`), each [[Catalog]] runs its
 * statements in a session of its own ([[Catalog.sqlSession]]) where that
 * instance is the default catalog, through [[GraftSparkCatalog]]. Names
 * resolve lazily: a statement loads only the tables it names, at their
 * current snapshot, and `<t>_snapshots` / `_history` / `_refs` are metadata
 * tables when no table has that name. The wrapper keeps what Spark does not
 * do: one statement per call, `$1..$n` params, unique output names, UPDATE /
 * DELETE / MERGE rejected (`test/sql_test.rb`), CREATE TABLE through the
 * reference type table, INSERT of fewer values than columns, and CREATE
 * VIEW as a temp view of the catalog's session, pinned to the data it saw.
 * Every other statement (DROP TABLE, CALL, …) acts on the catalog exactly
 * as it does through [[GraftSparkCatalog]]. The caller's temp views and
 * functions are not visible, and no view reaches the caller's session.
 */
object GraftSql {

  def sql(catalog: Catalog, spark: SparkSession, query: String,
          params: Seq[Any] = Nil): Result =
    toResult(sqlDF(catalog, spark, query, params))

  /** The same statement as a DataFrame (the Spark-idiomatic entry —
    * `Result` is the row-API parity wrapper). */
  def sqlDF(catalog: Catalog, spark: SparkSession, query: String,
            params: Seq[Any] = Nil): DataFrame = {
    val stmt = bindParams(singleStatement(query), params)
    val session = catalog.sqlSession(spark)
    stmt match {
      case CreateTableRe(name, colsRaw) =>
        catalog.createTable(name, Schema(0, columns(colsRaw)))
        session.emptyDataFrame
      case CreateViewRe(name, body) =>
        // the view reads the data it saw (as the reference's DataFusion
        // views do, sql_test.rb:71-86); Spark re-resolves the catalog tables
        // of a temp view on every use, so each is pinned to its snapshot
        val pinned = run(session, body).queryExecution.analyzed.transformWithSubqueries {
          case r @ DataSourceV2Relation(t: GraftSparkTable, _, _, _, _, _) =>
            r.copy(table = t.pinned, identifier = None)
        }
        CatalystBridge.dataFrame(session, pinned).createOrReplaceTempView(name)
        session.emptyDataFrame
      case _ => run(session, stmt)
    }
  }

  /** A new session with `caller`'s SQL conf at this moment and `catalog`
    * as its default catalog, bound under a key unique to the instance
    * (names are not unique: every MemoryCatalog is "memory"). */
  private[graft] def newSession(catalog: Catalog, caller: SparkSession): SparkSession = {
    val session = caller.newSession()
    caller.sessionState.conf.getAllConfs.foreach { case (k, v) =>
      session.sessionState.conf.setConfString(k, v)
    }
    val key = s"graft_sql_${sessionKeys.incrementAndGet()}"
    GraftSparkCatalog.registerWeakly(session, key, catalog)
    session.conf.set("spark.sql.defaultCatalog", key)
    session
  }

  private val sessionKeys = new AtomicLong()

  private val CreateTableRe =
    """(?is)^\s*create\s+table\s+([\w.]+)\s*\((.*)\)\s*$""".r
  private val CreateViewRe =
    """(?is)^\s*create\s+(?:or\s+replace\s+)?view\s+([\w.]+)\s+as\s+(.+)$""".r

  private def columns(colsRaw: String): Seq[NestedField] =
    splitTopLevel(colsRaw).zipWithIndex.map { case (defRaw, i) =>
      val d = defRaw.trim
      val notNull = d.toLowerCase.endsWith("not null")
      val core = if (notNull) d.substring(0, d.length - "not null".length).trim else d
      val sp = core.indexOf(' ')
      if (sp < 0) throw new InvalidDataError(s"bad column definition: $defRaw")
      val colName = core.substring(0, sp).trim.stripPrefix("\"").stripSuffix("\"")
      NestedField(i + 1, colName, Schema.parseTypeName(core.substring(sp + 1)), required = notNull)
    }

  /** Parse, check and run one statement. Reference parity: no row-level
    * DML (`sql_test.rb`), decided on the parsed plan before anything runs —
    * the tables are writable DSv2 tables, and a comment can precede the verb. */
  private def run(session: SparkSession, stmt: String): DataFrame = {
    val plan = session.sessionState.sqlParser.parsePlan(stmt)
    plan.collectFirst {
      case _: UpdateTable => "UPDATE"
      case _: DeleteFromTable => "DELETE"
      case _: MergeIntoTable => "MERGE"
    }.foreach(verb => throw new UnsupportedFeatureError(s"$verb is not supported"))
    CatalystBridge.dataFrame(session, leadingColumns(session, plan))
  }

  /** Reference parity: an INSERT without a column list may give fewer
    * values than the table has columns, filling the leading ones; Spark
    * NULL-fills the rest only for an explicit column list, so name them. */
  private def leadingColumns(session: SparkSession, plan: LogicalPlan): LogicalPlan = plan match {
    case i: InsertIntoStatement if i.userSpecifiedCols.isEmpty && !i.byName && i.partitionSpec.isEmpty =>
      val width = CatalystBridge.dataFrame(session, i.query).columns.length
      val cols = CatalystBridge.dataFrame(session, i.table).columns
      if (width < cols.length) i.copy(userSpecifiedCols = cols.take(width).toSeq) else i
    case other => other
  }

  /** Reference parity: exactly one statement per call (`sql_test.rb:95-101`). */
  private def singleStatement(query: String): String = {
    val free = unquoted(query)
    splitAt(query, query.indices.filter(i => query.charAt(i) == ';' && free(i))) match {
      case Seq(one) => one
      case _ => throw new InvalidDataError("expected exactly one statement")
    }
  }

  /** Split "a int, d decimal(10, 2)" on top-level commas only. */
  private def splitTopLevel(s: String): Seq[String] = {
    val depth = s.scanLeft(0)((d, c) => d + (if (c == '(') 1 else if (c == ')') -1 else 0))
    splitAt(s, s.indices.filter(i => s.charAt(i) == ',' && depth(i) == 0))
  }

  /** `s` cut at the given indices; pieces trimmed, empty ones dropped. */
  private def splitAt(s: String, cuts: Seq[Int]): Seq[String] = {
    val bounds = -1 +: cuts :+ s.length
    bounds.zip(bounds.tail).map { case (a, b) => s.substring(a + 1, b).trim }.filter(_.nonEmpty)
  }

  /** The indices of `s` outside '…' and "…" literals. Spark SQL string
    * literals accept backslash escapes by default, so `\'` / `\"` inside a
    * literal does not end it. */
  private def unquoted(s: String): Set[Int] = {
    val out = Set.newBuilder[Int]
    var inS = false; var inD = false
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\\' if inS || inD => i += 1
        case '\'' if !inD => inS = !inS
        case '"' if !inS => inD = !inD
        case _ if !inS && !inD => out += i
        case _ =>
      }
      i += 1
    }
    out.result()
  }

  private val Placeholder = """\$(\d+)""".r

  /** Positional `$1..$n` binding by literal splice, with the reference's
    * type table (`catalog.rs:467-495`); extra params are ignored. A
    * dollar-number INSIDE a string literal (`WHERE note = 'costs $1'`) is
    * data, not a placeholder. */
  private[graft] def bindParams(stmt: String, params: Seq[Any]): String = {
    if (params.isEmpty) return stmt
    val free = unquoted(stmt)
    Placeholder.replaceAllIn(stmt, m => Regex.quoteReplacement(
      if (!free(m.start)) m.matched
      else {
        val n = m.group(1).toInt
        if (n < 1 || n > params.length)
          throw new InvalidDataError(s"no value for placeholder $$$n")
        literal(params(n - 1))
      }))
  }

  private def literal(v: Any): String = v match {
    case null | None => "NULL"
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    // the 'D' suffix keeps Spark from reading these as DECIMAL literals
    // (reference binds Float params as f64, catalog.rs:474)
    case f: Float => s"CAST('$f' AS DOUBLE)"
    case d: Double => s"CAST('$d' AS DOUBLE)"
    case d: java.math.BigDecimal => d.toPlainString
    case d: BigDecimal => d.bigDecimal.toPlainString
    case s: String => "'" + s.replace("'", "''") + "'"
    case d: java.time.LocalDate => s"DATE '$d'"
    case d: java.sql.Date => s"DATE '${d.toLocalDate}'"
    case t: java.time.LocalDateTime =>
      s"TIMESTAMP_NTZ '${t.toString.replace('T', ' ')}'"
    case t: java.time.Instant => s"TIMESTAMP '${t.toString.replace("T", " ").stripSuffix("Z")}'"
    case t: java.sql.Timestamp => s"TIMESTAMP '${t.toLocalDateTime.toString.replace('T', ' ')}'"
    case other => throw new InvalidDataError(s"unsupported parameter type: ${other.getClass}")
  }

  /** Reference parity: duplicate output names rejected (`sql_test.rb:103-107`). */
  private def toResult(df: DataFrame): Result = {
    val cols = df.columns.toSeq
    val dups = cols.groupBy(identity).collect { case (c, g) if g.size > 1 => c }
    if (dups.nonEmpty)
      throw new InvalidDataError(s"duplicate column names: ${dups.mkString(", ")}")
    Result(cols, df.collect().toSeq.map(_.toSeq))
  }
}
