package graft.table

import graft._
import graft.functions.GraftFunctions
import graft.meta.{PartitionSpec, SortOrder}
import graft.types._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Write-path helpers: schema alignment (name-based binding + casts, ref
  * `table.rs:343-384`), partition-transform columns, the plan preparation
  * in front of [[DataFileWriter]], and row-hash → DataFrame coercion (ref
  * `batch.rs:60-174`). */
object AppendUtil {

  /** Bind df columns to the table schema by NAME (column order independent —
    * ref `test/polars_test.rb:58-63`), cast to the table types, fill missing
    * columns with their write-default or null; [[missingColumns]] rejects
    * extras and missing required ones. */
  def align(df: DataFrame, schema: Schema): DataFrame = {
    val missing = missingColumns(df.columns.toSeq, schema).map(_.name).toSet
    df.select(schema.fields.map { f =>
      val value = if (missing(f.name)) lit(f.writeDefault.orNull) else col(f.name)
      value.cast(SparkSchemaConverter.toSparkType(f.fieldType)).as(f.name)
    }: _*)
  }

  /** The table columns a write of `columns` leaves out. Rejects a column
    * the table lacks, and a left-out required column with no write-default. */
  def missingColumns(columns: Seq[String], schema: Schema): Seq[NestedField] = {
    val extra = columns.toSet -- schema.fields.map(_.name)
    if (extra.nonEmpty)
      throw new InvalidDataError(s"unknown columns: ${extra.mkString(", ")}")
    val missing = schema.fields.filterNot(f => columns.contains(f.name))
    missing.find(f => f.required && f.writeDefault.isEmpty).foreach(f =>
      throw new InvalidDataError(s"missing required column: ${f.name}"))
    missing
  }

  /** Spark Column computing a partition transform over its source column.
    * Uses our codegen'd expressions for bucket/truncate; built-in functions
    * for the time transforms (all stay inside WholeStageCodegen). */
  def transformColumn(transformStr: String, source: Column, sourceType: IType): Column = {
    import graft.transforms._
    Transform.parse(transformStr) match {
      case IdentityTransform => source
      case BucketTransform(n) => GraftFunctions.iceberg_bucket(n, source)
      case TruncateTransform(w) => GraftFunctions.iceberg_truncate(w, source)
      case YearTransform => (year(source) - lit(1970)).cast("int")
      case MonthTransform => ((year(source) - lit(1970)) * 12 + month(source) - lit(1)).cast("int")
      case DayTransform => datediff(source.cast("date"), to_date(lit("1970-01-01"))).cast("int")
      case HourTransform =>
        // NTZ timestamps reject CAST(... AS BIGINT); EpochMicros reads the
        // physical micros directly (timezone-independent, stays in codegen)
        floor(GraftFunctions.epoch_micros(source) / lit(3600000000L)).cast("int")
      case VoidTransform => lit(null).cast("int")
      case UnknownTransform(_) => lit(null).cast("string")
    }
  }

  private val PartColPrefix = "_p_"

  /**
   * Write the aligned DataFrame as Parquet data files under `dataDir` and
   * return their manifest entries, with stats from each file's writer
   * footer — nothing is listed or re-opened afterwards.
   *
   * Scale notes: partitioned writes shuffle on (transform columns, salt) so
   * a hot partition tuple (one day, one bucket) is produced by up to
   * `saltBuckets` tasks instead of one straggler/OOM task, while small
   * partitions still collapse to few files; sort order applies within
   * partitions only (no global sort / range shuffle). Each transform value
   * is carried to the writer as Spark's cast to string — the tuple string
   * the manifest records. Files stay where they are written (no rename
   * pass — object-store friendly); the manifest is the source of truth for
   * file paths. `dataDir` must be fresh to this call: a failed job deletes
   * it (see [[DataFileWriter.write]]).
   */
  def writeData(aligned: DataFrame, schema: Schema, spec: PartitionSpec,
                sortOrder: SortOrder, dataDir: Path, conf: Configuration,
                targetFileRows: Long = 5000000L,
                saltBuckets: Int = 4): Seq[graft.manifest.DataFile] = {
    val fieldById = schema.fields.map(f => f.id -> f).toMap
    val partCols = spec.fields.map { pf =>
      val src = fieldById.getOrElse(pf.sourceId,
        throw new InvalidDataError(s"partition source id ${pf.sourceId} not in schema"))
      (pf, transformColumn(pf.transform, col(src.name), src.fieldType).as(PartColPrefix + pf.fieldId))
    }

    val sortCols: Seq[Column] = sortOrder.fields.flatMap { sf =>
      fieldById.get(sf.sourceId).map { src =>
        val base = transformColumn(sf.transform, col(src.name), src.fieldType)
        (sf.direction, sf.nullOrder) match {
          case ("asc", "nulls-first") => base.asc_nulls_first
          case ("asc", _) => base.asc_nulls_last
          case (_, "nulls-first") => base.desc_nulls_first
          case _ => base.desc_nulls_last
        }
      }
    }

    val prepared =
      if (spec.isUnpartitioned) {
        if (sortCols.nonEmpty) aligned.sortWithinPartitions(sortCols: _*) else aligned
      } else {
        val withParts = partCols.foldLeft(aligned) { case (d, (pf, c)) =>
          d.withColumn(PartColPrefix + pf.fieldId, c)
        }
        val partNames = partCols.map { case (pf, _) => PartColPrefix + pf.fieldId }
        // deterministic salt: spreads a skewed partition tuple over up to
        // saltBuckets tasks; targetFileRows still bounds file size
        val salt = pmod(xxhash64(aligned.columns.map(col).toSeq: _*), lit(saltBuckets.toLong))
        val shuffled = withParts.repartition(partNames.map(col) :+ salt: _*)
        val sorted = if (sortCols.nonEmpty) shuffled.sortWithinPartitions(sortCols: _*) else shuffled
        sorted.select(aligned.columns.map(col).toSeq ++
          partNames.map(n => col(n).cast("string").as(n)): _*)
      }
    DataFileWriter.write(prepared, dataDir, conf, targetFileRows,
      partitionColumns = spec.fields.map(_.name))
  }

  /** Write position-delete files (spec content=1: rows of `(file_path,
    * pos)`, sorted by file then ordinal). One shuffle on `file_path` keeps
    * every delete file covering a contiguous run of data files, so the
    * read-side anti-join stream-matches instead of spraying. Cost is
    * O(matched rows) — the whole point of merge-on-read DML: a selective
    * DELETE on a 100 TB table writes kilobytes, not rewritten gigabytes.
    * Tasks with no rows write no file (no rows ⇒ no commit). */
  def writePositionDeletes(posDf: DataFrame, dir: Path, conf: Configuration,
                           targetFileRows: Long = 5000000L): Seq[graft.manifest.DataFile] = {
    // RANGE partitioning (not hash): each delete file then covers a
    // lexicographically contiguous run of data-file paths, so the recorded
    // file_path bounds are tight and plan-time delete scoping
    // (ScanPruning.deleteApplies) attaches each delete file to only the
    // data files it can reference — a hash shuffle would smear every
    // file's bounds across the whole path range.
    val shaped = posDf
      .select(col("file_path").cast("string").as("file_path"), col("pos").cast("long").as("pos"))
      .repartitionByRange(col("file_path"), col("pos"))
      .sortWithinPartitions("file_path", "pos")
    DataFileWriter.write(shaped, dir, conf, targetFileRows, DataFileWriter.PositionDeletes)
  }

  /** Write equality-delete files (spec content=2): rows are the key tuples
    * whose OLDER versions become invisible; `equalityIds` records which
    * field ids the equality is over. The upsert primitive: a delete file
    * at sequence N hides matching rows in data files with sequence < N,
    * while same-commit data files (sequence N) are untouched — so one
    * commit of (equality deletes + new rows) is an atomic last-wins
    * upsert, O(batch) cost regardless of table size. */
  def writeEqualityDeletes(keysDf: DataFrame, keyFields: Seq[graft.types.NestedField],
                           dir: Path, conf: Configuration,
                           targetFileRows: Long = 5000000L): Seq[graft.manifest.DataFile] = {
    val keyNames = keyFields.map(_.name)
    DataFileWriter.write(keysDf.select(keyNames.map(col): _*).distinct(), dir, conf,
      targetFileRows, DataFileWriter.equalityDeletes(keyNames, keyFields.map(_.id)))
  }

  /**
   * Bit-interleaved z-order value over up to 4 columns, composed from
   * built-in (codegen'd) bit ops: each column is normalized to a 16-bit
   * rank within its [min, max] range, then bit j of dimension i lands at
   * position j*k+i. Rows close in z-value are close in EVERY dimension,
   * so range-partitioning by this column gives files whose bounds are
   * tight on all clustered columns at once — multi-dimensional pruning
   * from one layout. NULLs rank at the minimum.
   */
  def zorderColumn(cols: Seq[Column], mins: Seq[Double], maxs: Seq[Double]): Column = {
    require(cols.nonEmpty && cols.size <= 4, "zorder takes 1-4 columns")
    val k = cols.size
    val norms = cols.zipWithIndex.map { case (c, i) =>
      val range = maxs(i) - mins(i)
      if (range <= 0 || range.isNaN) lit(0L)
      else least(lit(65535L), greatest(lit(0L),
        ((coalesce(c.cast("double"), lit(mins(i))) - mins(i)) / range * 65535.0)
          .cast("long")))
    }
    val terms = for {
      j <- 0 until 16
      i <- 0 until k
    } yield shiftleft(shiftright(norms(i), j).bitwiseAND(lit(1L)), j * k + i)
    terms.reduce(_ bitwiseOR _)
  }

  // ------------------------------------------------- row-hash append path

  /** Convert row hashes to a DataFrame with the reference's coercion rules
    * (`batch.rs:60-174`): missing column → null; decimals accept
    * Integer/Float/String; wrong types raise InvalidDataError. */
  def rowsToDF(spark: SparkSession, rows: Seq[Map[String, Any]], schema: Schema): DataFrame = {
    val sparkSchema = SparkSchemaConverter.toSpark(schema)
    val sparkRows: Seq[Row] = rows.map { m =>
      val unknown = m.keySet -- schema.fields.map(_.name).toSet
      if (unknown.nonEmpty)
        throw new InvalidDataError(s"unknown columns: ${unknown.mkString(", ")}")
      Row.fromSeq(schema.fields.map { f =>
        coerce(m.getOrElse(f.name, null), f.fieldType, f.name)
      })
    }
    // row-hash appends are driver-built small batches: one task → one data
    // file, matching the reference's single rolling writer (1 append ⇒ 1
    // file, `test/table_scan_test.rb:4-7`); df appends keep their partitioning
    spark.createDataFrame(sparkRows.asJava, sparkSchema).coalesce(1)
  }

  def coerce(v: Any, t: IType, field: String): Any = {
    if (v == null) return null
    def bad(): Nothing =
      throw new InvalidDataError(s"can't convert $v (${v.getClass.getSimpleName}) to $t for column $field")
    t match {
      case IBoolean => v match { case b: Boolean => b; case _ => bad() }
      case IInt => v match {
        case i: Int => i
        case l: Long if l.isValidInt => l.toInt
        case _ => bad()
      }
      case ILong => v match { case l: Long => l; case i: Int => i.toLong; case _ => bad() }
      case IFloat => v match { case f: Float => f; case d: Double => d.toFloat; case i: Int => i.toFloat; case _ => bad() }
      case IDouble => v match { case d: Double => d; case f: Float => f.toDouble; case i: Int => i.toDouble; case l: Long => l.toDouble; case _ => bad() }
      case IDecimal(p, s) =>
        val bd = v match {
          case d: java.math.BigDecimal => d
          case d: BigDecimal => d.bigDecimal
          case i: Int => java.math.BigDecimal.valueOf(i.toLong)
          case l: Long => java.math.BigDecimal.valueOf(l)
          case d: Double => java.math.BigDecimal.valueOf(d)
          case str: String =>
            try new java.math.BigDecimal(str)
            catch { case _: NumberFormatException => bad() }
          case _ => bad()
        }
        bd.setScale(s, java.math.RoundingMode.UNNECESSARY)
      case IDate => v match {
        case d: java.sql.Date => d
        case d: java.time.LocalDate => d
        case _ => bad()
      }
      case ITime => v match {
        case l: Long => l
        case t: java.time.LocalTime => t.toNanoOfDay / 1000L
        case _ => bad()
      }
      case ITimestamp | ITimestampNano => v match {
        case t: java.time.LocalDateTime => t
        case ts: java.sql.Timestamp => ts.toLocalDateTime
        case i: java.time.Instant => java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC)
        case _ => bad()
      }
      case ITimestampTz | ITimestampTzNano => v match {
        case i: java.time.Instant => i
        case ts: java.sql.Timestamp => ts.toInstant
        case t: java.time.LocalDateTime => t.toInstant(java.time.ZoneOffset.UTC)
        case _ => bad()
      }
      case IString | IUuid => v match { case s: String => s; case _ => bad() }
      case IBinary | IFixed(_) => v match {
        case b: Array[Byte] => b
        case s: String => s.getBytes("UTF-8")
        case _ => bad()
      }
      case IStruct(fields) => v match {
        case m: Map[_, _] =>
          val mm = m.asInstanceOf[Map[String, Any]]
          Row.fromSeq(fields.map(f => coerce(mm.getOrElse(f.name, null), f.fieldType, s"$field.${f.name}")))
        case r: Row => r
        case _ => bad()
      }
      case IList(_, e, _) => v match {
        case s: Seq[_] => s.map(x => coerce(x, e, field))
        case _ => bad()
      }
      case IMap(_, k, _, vt, _) => v match {
        case m: Map[_, _] => m.map { case (kk, vv) =>
          coerce(kk, k, field) -> coerce(vv, vt, field)
        }
        case _ => bad()
      }
    }
  }
}
