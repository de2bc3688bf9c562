package graft.spark

import graft.table.{FileScanTask, Table => GTable}
import graft.types._
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate._
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.connector.read.streaming.SparkDataStream
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._

/**
 * Answers whole-table COUNT(*) / COUNT(col) / MIN(col) / MAX(col) from
 * manifest metadata (record counts, null counts, column bounds recorded
 * from parquet footers at write time) — no data file is opened. This is
 * the table-format dividend: the stats were paid for once at write time.
 *
 * Exactness rules (decline ⇒ normal scan, never a wrong answer):
 *  - no pushed filters, no GROUP BY;
 *  - no delete files in any planned task (deleted rows would be counted);
 *  - COUNT(col) needs a null count for the column in EVERY file;
 *  - MIN/MAX need a bound for the column in every file, and a type whose
 *    bound ordering provably matches Spark's (int/long/date/timestamp/
 *    decimal/string). Float/double are NOT answered from bounds: Spark
 *    orders NaN above +Infinity but parquet writers disagree on whether
 *    NaN enters the footer min/max at all (some skip it, some propagate
 *    it), so a footer bound cannot prove the true MIN/MAX of a column
 *    that might hold NaN. String bounds longer than
 *    [[StringBoundTruncateLen]] bytes decline too: foreign writers (files
 *    registered via addFiles) may truncate long binary stats, and a
 *    truncated bound is valid for pruning but not exact for MIN/MAX.
 *
 * Planning reuses the scan's own manifest walk, distributed past the
 * 64-manifest threshold — a COUNT(*) on a 10⁵-manifest table must not
 * serialize a driver-side manifest read at optimization time. A declined
 * aggregate hands its planned tasks to the scan that replaces it, so the
 * snapshot is planned once.
 */
private[spark] object MetadataAggregates {

  /** Foreign parquet writers commonly cap binary stats at 64 bytes; a
    * bound at or past the cap cannot be proven untruncated. */
  private[spark] val StringBoundTruncateLen = 64

  /** The aggregate's (schema, values), or None to decline. `plan` is the
    * unfiltered scan's planning, run at most once and only when the rules
    * above do not decline first. */
  def compute(gt: GTable, pushed: Array[Filter], agg: Aggregation,
              plan: => Seq[FileScanTask]): Option[(StructType, Seq[Any])] = {
    if (pushed.nonEmpty || agg.groupByExpressions().nonEmpty) return None
    val schema = gt.currentSchema
    val tasks = plan
    if (tasks.exists(_.deleteFiles.nonEmpty)) return None
    val files = tasks.map(_.file)
    val totalRows = files.map(_.recordCount).sum

    def singleColumn(f: AggregateFunc): Option[NestedField] = {
      val ref = f match {
        case m: Min => m.column()
        case m: Max => m.column()
        case c: Count => c.column()
        case _ => return None
      }
      ref match {
        case fr: NamedReference if fr.fieldNames().length == 1 =>
          schema.fieldByName(fr.fieldNames()(0))
            .orElse(schema.fields.find(_.name.equalsIgnoreCase(fr.fieldNames()(0))))
        case _ => None
      }
    }

    // Right(value) = exact (null when no file holds a non-null value:
    // MIN/MAX over zero non-null rows IS NULL); Left = decline. A file
    // whose column is provably all-null (nullCount == recordCount)
    // contributes nothing to MIN/MAX and is skipped; a file with
    // non-null values but no recorded bound forces the decline.
    def bound(field: NestedField, lower: Boolean): Either[Unit, Any] = {
      val contributing = files.filterNot(f =>
        f.nullCounts.get(field.name).contains(f.recordCount))
      if (contributing.isEmpty) return Right(null)
      val raws = contributing.map(f =>
        (if (lower) f.lowerBounds else f.upperBounds).get(field.name))
      if (raws.exists(_.isEmpty)) return Left(())
      if (field.fieldType == IString &&
          raws.flatten.exists(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            .length >= StringBoundTruncateLen)) return Left(())
      val parsed = raws.flatten.map(parse(_, field.fieldType))
      if (parsed.exists(_.isEmpty)) return Left(())
      val vals = parsed.flatten
      Right(if (lower) vals.min(orderingFor(field.fieldType))
            else vals.max(orderingFor(field.fieldType)))
    }

    val results: Seq[Option[(StructField, Any)]] =
      agg.aggregateExpressions().toIndexedSeq.zipWithIndex.map { case (e, i) =>
        e match {
          case _: CountStar =>
            Some((StructField(s"agg_$i", LongType, nullable = false), totalRows))
          case c: Count if !c.isDistinct() =>
            singleColumn(c).flatMap { f =>
              if (files.forall(_.nullCounts.contains(f.name)))
                Some((StructField(s"agg_$i", LongType, nullable = false),
                  totalRows - files.map(_.nullCounts(f.name)).sum))
              else None
            }
          case m: Min =>
            singleColumn(m).filter(f => supported(f.fieldType)).flatMap { f =>
              bound(f, lower = true).toOption.map(v =>
                (StructField(s"agg_$i", SparkSchemaConverter.toSparkType(f.fieldType),
                  nullable = true), if (v == null) null else externalize(v, f.fieldType)))
            }
          case m: Max =>
            singleColumn(m).filter(f => supported(f.fieldType)).flatMap { f =>
              bound(f, lower = false).toOption.map(v =>
                (StructField(s"agg_$i", SparkSchemaConverter.toSparkType(f.fieldType),
                  nullable = true), if (v == null) null else externalize(v, f.fieldType)))
            }
          case _ => None // SUM/AVG/distinct: no per-file stats recorded
        }
      }
    if (results.exists(_.isEmpty)) return None
    // empty table: counts are 0 and min/max are NULL — that IS exact
    val fields = results.flatten.map(_._1)
    val values = results.flatten.map(_._2)
    Some((StructType(fields), values))
  }

  // float/double intentionally absent: NaN makes footer bounds unprovable
  // as Spark MIN/MAX (see the class doc) — COUNT paths are unaffected
  private def supported(t: IType): Boolean = t match {
    case IInt | ILong | IDate | ITimestamp | ITimestampTz |
         ITime | IString | IDecimal(_, _) => true
    case _ => false
  }

  /** Bounds are stored as physical-representation strings (epoch days,
    * micros, plain decimals — see ParquetStats); parse for comparison. */
  private def parse(raw: String, t: IType): Option[Any] = try {
    t match {
      case IInt | IDate => Some(raw.toInt)
      case ILong | ITimestamp | ITimestampTz | ITime => Some(raw.toLong)
      case IFloat => Some(raw.toFloat)
      case IDouble => Some(raw.toDouble)
      case IDecimal(_, _) => Some(BigDecimal(raw))
      case IString => Some(raw)
      case _ => None
    }
  } catch { case _: Exception => None }

  private def orderingFor(t: IType): Ordering[Any] = (t match {
    case IInt | IDate => Ordering.Int
    case ILong | ITimestamp | ITimestampTz | ITime => Ordering.Long
    case IFloat => Ordering.Float.TotalOrdering
    case IDouble => Ordering.Double.TotalOrdering
    case IDecimal(_, _) => Ordering.BigDecimal
    case IString => Ordering.String
    case _ => throw new IllegalStateException(s"unordered type $t")
  }).asInstanceOf[Ordering[Any]]

  /** Physical comparison value → the external Scala value Spark's Row
    * converter expects for the column's Spark type. */
  private def externalize(x: Any, t: IType): Any = t match {
    case IDate => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(x.asInstanceOf[Int].toLong))
    case ITimestamp =>
      val us = x.asInstanceOf[Long]
      java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
        (Math.floorMod(us, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)
    case ITimestampTz =>
      val us = x.asInstanceOf[Long]
      java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
        Math.floorMod(us, 1000000L) * 1000L)
    case IDecimal(_, s) => x.asInstanceOf[BigDecimal].setScale(s).bigDecimal
    case _ => x
  }
}

/** One-row scan carrying metadata-computed aggregate values. */
private[spark] class GraftMetadataAggScan(
    gt: GTable, aggSchema: StructType, values: Seq[Any]) extends Scan {

  override def readSchema(): StructType = aggSchema

  /** The row as the one-row local relation [[GraftScanStrategy]] plans in
    * place of the scan's relation, whose attributes are `output`. */
  def exec(output: Seq[Attribute]): SparkPlan =
    new GraftMetadataAggScanExec(output,
      LocalRelation.fromExternalRows(output, Seq(Row.fromSeq(values))).data, None)

  override def description(): String =
    s"graft metadata-only aggregate over ${gt.ident}"
}

/** A one-row local table scan, named in plans for the metadata aggregate
  * it answers. */
private[spark] class GraftMetadataAggScanExec(
    output: Seq[Attribute], rows: Seq[InternalRow], stream: Option[SparkDataStream])
  extends LocalTableScanExec(output, rows, stream)
