package graft.spark

import graft.UnsupportedFeatureError
import graft.table.{EqPred, GePred, GtPred, InPred, LePred, LtPred, ScanPredicate, Table => GTable, WhenMatched, WhenNotMatched, WhenNotMatchedBySource}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graftbridge.CatalystBridge

/**
 * SQL UPDATE and MERGE INTO for graft tables, via the public
 * `SparkSessionExtensions` mechanism (SURVEY.md §4/§7.3 names extensions as
 * the sanctioned escape hatch). Spark's own path for these statements
 * requires `SupportsRowLevelOperations` + an executor-side DSv2 writer; a
 * resolution rule that hands the statement to graft's native copy-on-write /
 * merge-on-read DML (which already plans, prunes, rewrites and CAS-commits
 * at scale) is both simpler and faster than bridging a second write path.
 *
 * Register at session build:
 * {{{ .config("spark.sql.extensions", classOf[GraftSqlExtensions].getName) }}}
 *
 * Supported surface (anything else raises UnsupportedFeatureError with the
 * reason — never a silent wrong answer):
 *  - `UPDATE t SET c = expr, … WHERE <AND of simple comparisons / IN>`
 *  - `MERGE INTO t USING src ON t.k = src.k [AND …] WHEN MATCHED THEN
 *    UPDATE SET * | UPDATE SET c = expr | DELETE WHEN NOT MATCHED THEN
 *    INSERT * | INSERT (cols) VALUES (src exprs)`
 * DELETE already routes through the DSv2 `SupportsDelete` path. Reads of
 * graft tables plan through [[GraftScanStrategy]].
 */
class GraftSqlExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectParser((_, delegate) => new GraftSqlParser(delegate))
    ext.injectResolutionRule(session => new GraftDmlResolution(session))
    ext.injectPlannerStrategy(session => new GraftDmlStrategy(session))
    ext.injectPlannerStrategy(_ => GraftScanStrategy)
  }
}

/** ALTER TABLE … ADD PARTITION FIELD (parser-injected; Spark's grammar has
  * no partition-evolution DDL). Identifier resolves at planning time. */
case class GraftAddPartitionFieldCommand(ident: Seq[String], source: String,
                                         transform: String, name: Option[String])
  extends LeafNode with Command { override def output: Seq[Attribute] = Nil }

/** ALTER TABLE … DROP PARTITION FIELD (field name, or a transform form
  * mapped to its default name). */
case class GraftDropPartitionFieldCommand(ident: Seq[String], fieldName: String)
  extends LeafNode with Command { override def output: Seq[Attribute] = Nil }

/** ALTER TABLE … WRITE ORDERED BY / WRITE UNORDERED (empty columns):
  * sort-order evolution, shaping future writes only. */
case class GraftWriteOrderedCommand(ident: Seq[String],
                                    columns: Seq[(String, String, Option[String])])
  extends LeafNode with Command { override def output: Seq[Attribute] = Nil }

/** ALTER TABLE … CREATE BRANCH/TAG [AS OF VERSION n]. */
case class GraftCreateRefCommand(ident: Seq[String], kind: String,
                                 refName: String, snapshotId: Option[Long])
  extends LeafNode with Command { override def output: Seq[Attribute] = Nil }

/** ALTER TABLE … DROP BRANCH/TAG. */
case class GraftDropRefCommand(ident: Seq[String], kind: String, refName: String)
  extends LeafNode with Command { override def output: Seq[Attribute] = Nil }

/** Eagerly-executed logical commands (Spark runs `Command` nodes at
  * DataFrame creation). The merge SOURCE plan rides as a field, not a
  * child: the strategy materializes it as a DataFrame itself. */
case class GraftUpdateCommand(table: GTable, preds: Seq[ScanPredicate],
                              assignments: Map[String, String])
  extends LeafNode with Command { override def output: Seq[Attribute] = Nil }

/** UPDATE whose condition exceeds ScanPredicates: runs the merge-on-read
  * `updateWhere` (position deletes + updated images), with the prunable
  * conjuncts still bounding the scan. */
case class GraftUpdateWhereCommand(table: GTable, condition: String,
                                   prunePreds: Seq[ScanPredicate],
                                   assignments: Map[String, String])
  extends LeafNode with Command { override def output: Seq[Attribute] = Nil }

/** DELETE whose condition exceeds ScanPredicates (OR, LIKE, functions). */
case class GraftDeleteWhereCommand(table: GTable, condition: String,
                                   prunePreds: Seq[ScanPredicate])
  extends LeafNode with Command { override def output: Seq[Attribute] = Nil }

case class GraftMergeCommand(table: GTable, source: LogicalPlan,
                             on: Seq[String], whenMatched: WhenMatched,
                             whenNotMatched: WhenNotMatched,
                             bySource: WhenNotMatchedBySource = WhenNotMatchedBySource.Ignore)
  extends LeafNode with Command { override def output: Seq[Attribute] = Nil }

class GraftDmlStrategy(session: SparkSession) extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GraftUpdateCommand(t, preds, assigns) =>
      GraftDmlExec(() => t.refresh().update(session, preds, assigns)) :: Nil
    case GraftUpdateWhereCommand(t, cond, pp, assigns) =>
      GraftDmlExec(() => t.refresh().updateWhere(session, cond, assigns, pp)) :: Nil
    case GraftDeleteWhereCommand(t, cond, pp) =>
      GraftDmlExec(() => t.refresh().deleteWhere(session, cond, pp)) :: Nil
    case GraftMergeCommand(t, src, on, wm, wnm, bys) =>
      GraftDmlExec(() => t.refresh().merge(session,
        CatalystBridge.dataFrame(session, src), on, wm, wnm, bys)) :: Nil
    case GraftAddPartitionFieldCommand(ident, source, transform, name) =>
      val t = resolveGraftTable(ident)
      GraftDmlExec(() => t.refresh().updateSpec()
        .addField(source, transform, name).commit()) :: Nil
    case GraftDropPartitionFieldCommand(ident, fieldName) =>
      val t = resolveGraftTable(ident)
      GraftDmlExec(() => t.refresh().updateSpec().removeField(fieldName).commit()) :: Nil
    case GraftWriteOrderedCommand(ident, columns) =>
      val t = resolveGraftTable(ident)
      GraftDmlExec(() => t.refresh().replaceSortOrder(columns)) :: Nil
    case GraftCreateRefCommand(ident, kind, refName, sid) =>
      val t = resolveGraftTable(ident)
      GraftDmlExec(() =>
        if (kind == "branch") t.refresh().createBranch(refName, sid)
        else t.refresh().createTag(refName, sid)) :: Nil
    case GraftDropRefCommand(ident, kind, refName) =>
      val t = resolveGraftTable(ident)
      GraftDmlExec(() => {
        val refreshed = t.refresh()
        refreshed.metadata.refs.get(refName).foreach { r =>
          if (r.refType != kind) throw new graft.InvalidDataError(
            s"ref $refName is a ${r.refType}, not a $kind")
        }
        refreshed.dropRef(refName)
      }) :: Nil
    case _ => Nil
  }

  /** Resolve a raw (possibly catalog-qualified) identifier from the
    * parser-injected DDL to the backing graft table. */
  private def resolveGraftTable(ident: Seq[String]): GTable = {
    val cm = CatalystBridge.catalogManager(session)
    val (cat, rest) =
      if (ident.size > 1 && cm.isCatalogRegistered(ident.head))
        (cm.catalog(ident.head), ident.tail)
      else (cm.currentCatalog, ident)
    cat match {
      case g: GraftSparkCatalog =>
        val ns = if (rest.size > 1) rest.init.toArray else g.defaultNamespace()
        g.loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(ns, rest.last)) match {
          case gt: GraftSparkTable => gt.graftTable
          case other => throw new UnsupportedFeatureError(
            s"not a graft table: ${ident.mkString(".")} ($other)")
        }
      case other => throw new UnsupportedFeatureError(
        "ALTER TABLE ... PARTITION FIELD requires a graft catalog " +
          s"(got catalog '${other.name()}' for ${ident.mkString(".")})")
    }
  }
}

case class GraftDmlExec(body: () => Unit) extends LeafExecNode {
  override def output: Seq[Attribute] = Nil
  override protected def doExecute() = {
    body()
    sparkContext.emptyRDD[InternalRow]
  }
}

/** Converts resolved UpdateTable / MergeIntoTable over a [[GraftSparkTable]]
  * relation into the eager commands above; other tables fall through to
  * Spark's own (rejecting) path untouched. */
class GraftDmlResolution(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case u @ UpdateTable(target, assignments, condition)
        if u.resolved && graftTable(target).isDefined =>
      val t = graftTable(target).get
      condition.foreach(rejectSubqueries)
      val assigns = assignments.map { a =>
        (attrName(a.key, "UPDATE SET target"), unqualifiedSql(a.value))
      }.toMap
      condition match {
        case Some(cond) =>
          val (preds, residual) = convertConjuncts(cond)
          if (residual.isEmpty) GraftUpdateCommand(t, preds, assigns)
          else GraftUpdateWhereCommand(t, unqualifiedSql(cond), preds, assigns)
        case None => // UPDATE without WHERE: every row, via position deletes
          GraftUpdateWhereCommand(t, "true", Nil, assigns)
      }

    // Only DELETEs the DSv2 SupportsDelete path must refuse (conditions
    // beyond ScanPredicate conjunctions); simple ones stay on that path.
    case d @ DeleteFromTable(target, condition)
        if d.resolved && graftTable(target).isDefined &&
          !isConstTrue(condition) && convertConjuncts(condition)._2.nonEmpty =>
      rejectSubqueries(condition)
      val (preds, _) = convertConjuncts(condition)
      GraftDeleteWhereCommand(graftTable(target).get,
        unqualifiedSql(condition), preds)

    case m: MergeIntoTable if m.resolved && graftTable(m.targetTable).isDefined =>
      convertMerge(m)
  }

  /** Split a condition into conjuncts and convert each: (convertible
    * ScanPredicates, residual conjuncts needing row-level handling). */
  private def convertConjuncts(cond: Expression): (Seq[ScanPredicate], Seq[Expression]) = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case o => Seq(o)
    }
    val (ok, rest) = conjuncts(cond).map(c => (c, toPredicate(c))).partition(_._2.isDefined)
    (ok.flatMap(_._2), rest.map(_._1))
  }

  private def isConstTrue(e: Expression): Boolean = e match {
    case Const(true) => true
    case _ => false
  }

  /** Correlated/uncorrelated subqueries can't be re-parsed against the
    * scanned DataFrame — the one genuinely unsupported condition shape. */
  private def rejectSubqueries(cond: Expression): Unit =
    if (cond.exists(_.isInstanceOf[SubqueryExpression]))
      unsupported(s"subquery in DML condition `${cond.sql}`")

  private def graftTable(plan: LogicalPlan): Option[GTable] = plan match {
    case SubqueryAlias(_, child) => graftTable(child)
    case r: DataSourceV2Relation => r.table match {
      case g: GraftSparkTable => Some(g.graftTable)
      case _ => None
    }
    case _ => None
  }

  private def unsupported(what: String): Nothing =
    throw new UnsupportedFeatureError(
      s"$what is not supported for graft SQL DML (use the programmatic API)")

  private def attrName(e: Expression, ctx: String): String = e match {
    case a: Attribute => a.name
    case other => unsupported(s"$ctx `${other.sql}`")
  }

  /** Render an expression as SQL that re-resolves against the scanned
    * DataFrame: resolved attributes carry catalog-qualified names
    * (`cat.ns.t.col`) which must drop to the bare column. */
  private def unqualifiedSql(e: Expression): String =
    e.transform {
      case a: Attribute => UnresolvedAttribute(Seq(a.name))
    }.sql

  /** Any foldable expression is a constant at this point (the analyzer has
    * not constant-folded yet, so literals arrive wrapped in Casts). */
  private object Const {
    def unapply(e: Expression): Option[Any] =
      if (e.foldable && !e.isInstanceOf[Attribute])
        Some(CatalystBridge.literalToScala(e.eval(), e.dataType))
      else None
  }

  /** One conjunct → a pruning-capable ScanPredicate, or None (the conjunct
    * then rides row-level through updateWhere/deleteWhere). */
  private def toPredicate(cond: Expression): Option[ScanPredicate] = cond match {
    case EqualTo(a: Attribute, Const(v)) => Some(EqPred(a.name, v))
    case EqualTo(Const(v), a: Attribute) => Some(EqPred(a.name, v))
    case LessThan(a: Attribute, Const(v)) => Some(LtPred(a.name, v))
    case LessThan(Const(v), a: Attribute) => Some(GtPred(a.name, v))
    case LessThanOrEqual(a: Attribute, Const(v)) => Some(LePred(a.name, v))
    case LessThanOrEqual(Const(v), a: Attribute) => Some(GePred(a.name, v))
    case GreaterThan(a: Attribute, Const(v)) => Some(GtPred(a.name, v))
    case GreaterThan(Const(v), a: Attribute) => Some(LtPred(a.name, v))
    case GreaterThanOrEqual(a: Attribute, Const(v)) => Some(GePred(a.name, v))
    case GreaterThanOrEqual(Const(v), a: Attribute) => Some(LePred(a.name, v))
    case In(a: Attribute, vs) if vs.forall(Const.unapply(_).isDefined) =>
      Some(InPred(a.name, vs.map(v => Const.unapply(v).get)))
    case _ => None
  }

  // ----------------------------------------------------------------- merge

  private def convertMerge(m: MergeIntoTable): GraftMergeCommand = {
    val t = graftTable(m.targetTable).get
    if (m.schemaEvolutionEnabled) unsupported("MERGE WITH SCHEMA EVOLUTION")

    val targetAttrs = m.targetTable.outputSet
    val sourceAttrs = m.sourceTable.outputSet

    // type coercion wraps narrower sides in widening Casts — the key or
    // projected column underneath is what matters
    object BareAttr {
      def unapply(e: Expression): Option[Attribute] = e match {
        case a: Attribute => Some(a)
        case c: Cast => unapply(c.child)
        case _ => None
      }
    }

    // ON: conjunction of target.k = source.k with matching names
    def onKeys(cond: Expression): Seq[String] = cond match {
      case And(l, r) => onKeys(l) ++ onKeys(r)
      case EqualTo(BareAttr(a), BareAttr(b))
          if targetAttrs.contains(a) && sourceAttrs.contains(b) =>
        if (!a.name.equalsIgnoreCase(b.name))
          unsupported(s"ON ${a.name} = ${b.name} (key names must match)")
        Seq(a.name)
      case EqualTo(BareAttr(b), BareAttr(a))
          if targetAttrs.contains(a) && sourceAttrs.contains(b) =>
        if (!a.name.equalsIgnoreCase(b.name))
          unsupported(s"ON ${b.name} = ${a.name} (key names must match)")
        Seq(a.name)
      case other => unsupported(s"ON condition `${other.sql}`")
    }
    val keys = onKeys(m.mergeCondition)

    // Source projection: name every source column after the target column
    // it feeds, so graft's merge sees an aligned source (it references
    // source values as __src_<name>). INSERT assignments define the
    // mapping; with no INSERT action, same-name matching does.
    val insertAction = m.notMatchedActions match {
      case Nil => None
      case Seq(i: InsertAction) =>
        if (i.condition.isDefined) unsupported("conditional WHEN NOT MATCHED")
        Some(i)
      case _ => unsupported("multiple WHEN NOT MATCHED clauses")
    }
    val targetFields = t.currentSchema.fields.map(_.name)
    val srcProjection: Seq[(String, Expression)] = insertAction match {
      case Some(i) =>
        i.assignments.map(a => (attrName(a.key, "INSERT target"), a.value))
      case None =>
        val byName = sourceAttrs.toSeq.map(a => a.name.toLowerCase -> a).toMap
        targetFields.flatMap(f => byName.get(f.toLowerCase).map(f -> _))
    }
    val srcNames = srcProjection.map(_._1.toLowerCase).toSet
    keys.foreach { k =>
      if (!srcNames.contains(k.toLowerCase))
        unsupported(s"MERGE key $k missing from the source projection")
    }
    // reverse map: source attribute -> projected (target-side) name, for
    // rewriting UPDATE SET expressions to graft's __src_<name> references
    val srcAttrToName: Map[ExprId, String] = srcProjection.collect {
      case (name, BareAttr(a)) => a.exprId -> name
    }.toMap

    def rewriteToSrcRefs(e: Expression): String = {
      val rewritten = e.transform {
        case a: Attribute if sourceAttrs.contains(a) =>
          srcAttrToName.get(a.exprId) match {
            case Some(n) => UnresolvedAttribute(Seq(s"__src_$n"))
            case None => unsupported(
              s"UPDATE SET references source expression `${a.name}` not in the source projection")
          }
        case a: Attribute => UnresolvedAttribute(Seq(a.name))
      }
      rewritten.sql
    }

    val whenMatched: WhenMatched = m.matchedActions match {
      case Nil => WhenMatched.Ignore
      case Seq(d: DeleteAction) =>
        if (d.condition.isDefined) unsupported("conditional WHEN MATCHED DELETE")
        WhenMatched.Delete
      case Seq(u: UpdateAction) =>
        if (u.condition.isDefined) unsupported("conditional WHEN MATCHED UPDATE")
        val assigns = u.assignments.map(a =>
          (attrName(a.key, "UPDATE SET target"), a.value))
        val isUpdateAll = assigns.length == targetFields.length &&
          assigns.forall { case (name, v) => v match {
            case BareAttr(src) if sourceAttrs.contains(src) =>
              srcAttrToName.get(src.exprId).exists(_.equalsIgnoreCase(name))
            case _ => false
          } }
        if (isUpdateAll) WhenMatched.UpdateAll
        else WhenMatched.UpdateSet(
          assigns.map { case (n, v) => n -> rewriteToSrcRefs(v) }.toMap)
      case _ => unsupported("multiple WHEN MATCHED clauses")
    }

    val whenNotMatched: WhenNotMatched = insertAction match {
      case None => WhenNotMatched.Ignore
      case Some(_) => WhenNotMatched.InsertAll
    }

    // WHEN NOT MATCHED BY SOURCE — the full-sync side. Its rows carry NO
    // source values (that's what "not matched by source" means), so UPDATE
    // SET expressions referencing source columns are rejected outright.
    def rewriteTargetOnly(e: Expression): String = {
      val rewritten = e.transform {
        case a: Attribute if sourceAttrs.contains(a) =>
          unsupported(
            s"NOT MATCHED BY SOURCE UPDATE SET references source column `${a.name}`")
        case a: Attribute => UnresolvedAttribute(Seq(a.name))
      }
      rewritten.sql
    }
    val bySource: WhenNotMatchedBySource = m.notMatchedBySourceActions match {
      case Nil => WhenNotMatchedBySource.Ignore
      case Seq(d: DeleteAction) =>
        if (d.condition.isDefined) unsupported("conditional WHEN NOT MATCHED BY SOURCE DELETE")
        WhenNotMatchedBySource.Delete
      case Seq(u: UpdateAction) =>
        if (u.condition.isDefined) unsupported("conditional WHEN NOT MATCHED BY SOURCE UPDATE")
        WhenNotMatchedBySource.UpdateSet(u.assignments.map(a =>
          attrName(a.key, "UPDATE SET target") -> rewriteTargetOnly(a.value)).toMap)
      case _ => unsupported("multiple WHEN NOT MATCHED BY SOURCE clauses")
    }

    // materialize the projection as a plan so the strategy can run it
    val projected = Project(
      srcProjection.map { case (name, e) => Alias(e, name)() }, m.sourceTable)
    GraftMergeCommand(t, projected, keys, whenMatched, whenNotMatched, bySource)
  }
}
