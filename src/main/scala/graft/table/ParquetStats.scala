package graft.table

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

import scala.jdk.CollectionConverters._
import scala.language.existentials
import scala.util.Try

/** Per-file stats from a Parquet footer — row count plus per-column
  * min/max/null-count, recorded into the manifest so scans can skip files
  * without opening them (the same role as Iceberg's data-file stats). Files
  * this engine writes take them from the footer the writer hands back after
  * close ([[fromFooter]], ref `table.rs:83-112`), so no written file is ever
  * re-opened; only foreign files registered by `addFiles` are [[read]].
  *
  * Bound representation contract (everything downstream depends on it):
  *  - int/long/date/timestamp: decimal integer string of the physical value;
  *  - float/double: `Double.toString` (may be scientific notation; never NaN
  *    — a row group whose stats carry NaN poisons the column's bounds);
  *  - decimal (INT32/INT64-backed): the SCALED value as a plain decimal
  *    string ("123.45", not the unscaled "12345") so scan pruning and
  *    metadata aggregates can compare it directly against user values;
  *  - string (BINARY + UTF8 annotation): the UTF-8 text itself, merged
  *    LEXICOGRAPHICALLY — never numerically, even if every value parses as
  *    a number: Parquet computed the per-group bounds lexicographically,
  *    and scan-time pruning compares lexicographically, so a numeric merge
  *    here would produce bounds that are not true bounds (lower("9","10")
  *    is "10" lexicographically — picking "9" would let EqPred(c,"10")
  *    prune a file that contains the row);
  *  - raw binary / fixed-len (incl. FLBA decimals): no bounds recorded.
  *
  * A column whose stats are missing or unusable in ANY row group gets no
  * file-level bounds at all (and no null count if stats are absent): a
  * partial merge would under-cover the file and make pruning wrong.
  * Parquet-java writes no stats for a column chunk whose min and max
  * together reach [[MaxStatsBytes]]; the writer's in-memory footer still
  * has them, so [[fromFooter]] applies that cut itself and both entry
  * points agree.
  */
object ParquetStats {
  final case class FileStats(
      recordCount: Long,
      lowerBounds: Map[String, String],
      upperBounds: Map[String, String],
      nullCounts: Map[String, Long])

  /** Parquet-java's `ParquetMetadataConverter.MAX_STATS_SIZE`: a column
    * chunk's stats are written only when its min and max together are
    * smaller. */
  val MaxStatsBytes = 4096

  /** Stats of a file this engine did not write: one footer read. */
  def read(conf: Configuration, file: Path): FileStats = {
    val reader = ParquetFiles.open(conf, file)
    try fromFooter(reader.getFooter) finally reader.close()
  }

  /** Stats from a footer in hand — the one `ParquetWriter.getFooter`
    * returns after close, or one just read. */
  def fromFooter(footer: ParquetMetadata): FileStats = {
    val blocks = footer.getBlocks.asScala
    val recordCount = blocks.map(_.getRowCount).sum
    val lower = scala.collection.mutable.Map[String, String]()
    val upper = scala.collection.mutable.Map[String, String]()
    val nulls = scala.collection.mutable.Map[String, Long]()
    val poisonedBounds = scala.collection.mutable.Set[String]()
    val poisonedNulls = scala.collection.mutable.Set[String]()
    for (block <- blocks; col <- block.getColumns.asScala) {
      // only top-level primitive columns
      if (col.getPath.size == 1) {
        val name = col.getPath.toDotString
        // parquet-java writes no stats for a chunk whose min + max reach
        // MaxStatsBytes; a writer's in-memory footer still holds them
        val st = Option(col.getStatistics).filter(_.isSmallerThan(MaxStatsBytes)).orNull
        if (st != null && !st.isEmpty) {
          // foreign writers (the addFiles path) can leave num_nulls unset;
          // getNumNulls then returns the -1 sentinel, which would corrupt
          // the file's null count (and everything downstream of it:
          // COUNT(col) metadata-aggregate pushdown, addFiles' zero-null
          // partition-tuple proof) — a row group without a SET null count
          // poisons the column's count entirely
          if (st.isNumNullsSet) nulls(name) = nulls.getOrElse(name, 0L) + st.getNumNulls
          else poisonedNulls += name
          if (st.hasNonNullValue) {
            boundsOf(col.getPrimitiveType, st) match {
              case Usable(mn, mx, isNum) =>
                lower(name) = lower.get(name).fold(mn)(prev => if (lt(isNum, mn, prev)) mn else prev)
                upper(name) = upper.get(name).fold(mx)(prev => if (lt(isNum, prev, mx)) mx else prev)
              case Unusable => poisonedBounds += name
              case Unsupported => ()
            }
          } else if (st.getNumNulls < block.getRowCount) {
            // values without a min/max — parquet-java's footer reader drops
            // a float/double chunk's min/max when it saw a NaN: no bound
            // may claim to cover them
            poisonedBounds += name
          }
        } else {
          // a row group with no stats for this column: any merged bound or
          // null count would silently exclude its rows
          poisonedBounds += name
          poisonedNulls += name
        }
      }
    }
    poisonedBounds.foreach { n => lower -= n; upper -= n }
    poisonedNulls.foreach(nulls -= _)
    FileStats(recordCount, lower.toMap, upper.toMap, nulls.toMap)
  }

  private sealed trait ColBounds
  private case object Unsupported extends ColBounds
  private case object Unusable extends ColBounds
  private final case class Usable(mn: String, mx: String, numeric: Boolean) extends ColBounds

  private def boundsOf(pt: org.apache.parquet.schema.PrimitiveType,
                       st: org.apache.parquet.column.statistics.Statistics[_]): ColBounds =
    Try[ColBounds] {
      val logical = pt.getLogicalTypeAnnotation
      val decimalScale = logical match {
        case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => Some(d.getScale)
        case _ => None
      }
      pt.getPrimitiveTypeName match {
        case INT32 | INT64 =>
          val mn = st.genericGetMin.asInstanceOf[Number].longValue()
          val mx = st.genericGetMax.asInstanceOf[Number].longValue()
          decimalScale match {
            case Some(s) =>
              Usable(java.math.BigDecimal.valueOf(mn, s).toPlainString,
                     java.math.BigDecimal.valueOf(mx, s).toPlainString, numeric = true)
            case None => Usable(mn.toString, mx.toString, numeric = true)
          }
        case FLOAT | DOUBLE =>
          val mn = st.genericGetMin.asInstanceOf[Number].doubleValue()
          val mx = st.genericGetMax.asInstanceOf[Number].doubleValue()
          // parquet-mr's float stats can propagate NaN into min/max; a NaN
          // bound orders arbitrarily, so the whole column's bounds are out.
          // A zero bound widens to cover both zeros, as parquet-java's
          // footer reader does (PARQUET-1222).
          if (mn.isNaN || mx.isNaN) Unusable
          else Usable((if (mn == 0.0) -0.0 else mn).toString,
                      (if (mx == 0.0) 0.0 else mx).toString, numeric = true)
        case BOOLEAN =>
          // "false" < "true" lexicographically, matching boolean order
          Usable(st.genericGetMin.toString, st.genericGetMax.toString, numeric = false)
        case BINARY if logical.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
          val mn = st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary]
          val mx = st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary]
          Usable(mn.toStringUsingUTF8, mx.toStringUsingUTF8, numeric = false)
        case _ => Unsupported // raw binary, FLBA (incl. FLBA decimals), INT96
      }
    }.getOrElse(Unusable)

  /** Merge comparator chosen by the column's physical type — NEVER by
    * whether the strings happen to parse as numbers. */
  private def lt(numeric: Boolean, a: String, b: String): Boolean =
    if (numeric) numLt(a, b) else a < b

  // Double.toString can emit "Infinity"/"-Infinity", which BigDecimal
  // rejects; order them explicitly around every finite value.
  private def numLt(a: String, b: String): Boolean = (a, b) match {
    case (x, y) if x == y => false
    case ("-Infinity", _) | (_, "Infinity") => true
    case ("Infinity", _) | (_, "-Infinity") => false
    case _ => BigDecimal(a) < BigDecimal(b)
  }
}
