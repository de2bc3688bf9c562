package graft.manifest

import graft.meta.{PartitionField, PartitionSpec}
import graft.table.TableFiles
import graft.types._
import org.apache.avro.{LogicalTypes, Schema => AvroSchema}
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.json4s._
import org.json4s.jackson.JsonMethods

import java.nio.{ByteBuffer, ByteOrder}
import scala.jdk.CollectionConverters._

/** One data file tracked by a manifest (ref `scan.rs:82-109` FileScanTask
  * accessors). In memory, partition values and column bounds are carried as
  * name-keyed string maps (the form the pruning code consumes); the Avro
  * layer converts to/from the spec's field-id-keyed binary representation. */
final case class DataFile(
    filePath: String,
    fileFormat: String, // "PARQUET" | "PUFFIN" (deletion vectors, v3)
    partition: Map[String, String], // partition field name -> value string ("" = null)
    recordCount: Long,
    fileSizeInBytes: Long,
    // column stats by source field NAME at write time (bounds as strings)
    lowerBounds: Map[String, String] = Map.empty,
    upperBounds: Map[String, String] = Map.empty,
    nullCounts: Map[String, Long] = Map.empty,
    content: Int = 0, // 0=data, 1=position deletes, 2=equality deletes
    equalityIds: Seq[Int] = Nil,
    // ---- format-v3 fields (spec ids 142-145) ----
    // row-lineage: the _row_id of this data file's first row (v3 writers
    // assign it at commit; we store it explicitly rather than relying on
    // manifest-level inheritance)
    firstRowId: Option[Long] = None,
    // deletion vectors: the ONE data file this DV applies to, plus the
    // blob's byte range inside the Puffin file (ranged reads at scan time)
    referencedDataFile: Option[String] = None,
    contentOffset: Option[Long] = None,
    contentSizeInBytes: Option[Long] = None) {
  def isDeletionVector: Boolean = content == 1 && fileFormat == "PUFFIN"
}

/** A manifest entry: a data file + its lifecycle status. */
final case class ManifestEntry(
    status: Int, // 0=existing 1=added 2=deleted
    snapshotId: Long,
    sequenceNumber: Long,
    dataFile: DataFile) {
  def isLive: Boolean = status != ManifestEntry.StatusDeleted
}
object ManifestEntry {
  val StatusExisting = 0
  val StatusAdded = 1
  val StatusDeleted = 2
}

/** Per-partition-field roll-up over one manifest's entries (spec v2
  * `field_summary`, fields 509/510/511): lets scan planning skip reading
  * a whole manifest when no file in it can match. Bounds are Iceberg
  * single-value-serialized bytes of the transform RESULT type; `None`
  * bounds = unknown (always keep). `containsNull` covers genuinely-null
  * partition values only — an unparseable (era-re-keyed) value withholds
  * the bounds entirely instead, so pruning stays conservative. */
final case class FieldSummary(
    containsNull: Boolean,
    lowerBound: Option[Seq[Byte]] = None,
    upperBound: Option[Seq[Byte]] = None)

/** Manifest-list entry: one manifest file + roll-up stats (spec v2
  * `manifest_file`, fields 500-517, incl. the 507 `partitions` field
  * summaries). `schemaId` is a graft extension field (schema-evolution
  * projection groups files by writer schema without opening each
  * manifest); spec readers resolve by name and skip it. */
final case class ManifestFile(
    manifestPath: String,
    manifestLength: Long,
    partitionSpecId: Int,
    addedSnapshotId: Long,
    addedFilesCount: Int,
    addedRowsCount: Long,
    schemaId: Int,
    content: Int = 0, // 0=data manifests, 1=delete manifests
    sequenceNumber: Long = 0L,
    minSequenceNumber: Long = 0L,
    existingFilesCount: Int = 0,
    deletedFilesCount: Int = 0,
    existingRowsCount: Long = 0L,
    deletedRowsCount: Long = 0L,
    partitions: Seq[FieldSummary] = Nil)

/**
 * Avro reader/writer for manifests and manifest lists following the
 * published Iceberg table-spec v2 layout (the same shape the reference
 * consumes through the iceberg crate — `ext/iceberg/src/scan.rs:36-51`
 * reads real manifests; its PyIceberg cross-writer test
 * `test/sql_test.rb:109-117` depends on it):
 *
 *  - `manifest_entry` records with spec field ids (status=0, snapshot_id=1,
 *    data_file=2, sequence_number=3, file_sequence_number=4) and a
 *    `data_file` struct (r2) carrying content/134, file_path/100,
 *    file_format/101, partition/102 (typed struct r102 with per-field
 *    partition field ids), record_count/103, file_size_in_bytes/104,
 *    null_value_counts/110, lower_bounds/125, upper_bounds/128,
 *    equality_ids/135;
 *  - bounds as field-id-keyed maps of single-value-serialized binary
 *    (Appendix D: little-endian numerics, UTF-8 strings, big-endian
 *    unscaled decimals), encoded as key/value arrays with
 *    `logicalType: map` (Avro maps only key by string);
 *  - manifest headers carry the write schema + partition spec as JSON
 *    (`schema`, `partition-spec`, `partition-spec-id`, `format-version`,
 *    `content`) making every manifest self-describing — the reader maps
 *    field ids back to names without caller-provided context;
 *  - `manifest_file` list records with spec fields 500-517.
 *
 * Avro (not JSON) so a 100 TB table's million-file metadata stays compact
 * and splittable.
 */
object Manifests {

  // ----------------------------------------------------- avro schema build

  private def nullable(s: AvroSchema): AvroSchema =
    AvroSchema.createUnion(java.util.List.of(AvroSchema.create(AvroSchema.Type.NULL), s))

  private def reqField(name: String, s: AvroSchema, fieldId: Int): AvroSchema.Field = {
    val f = new AvroSchema.Field(name, s, null, null.asInstanceOf[Object])
    f.addProp("field-id", fieldId)
    f
  }
  private def optField(name: String, s: AvroSchema, fieldId: Int): AvroSchema.Field = {
    val f = new AvroSchema.Field(name, nullable(s), null, JsonProperties_NULL)
    f.addProp("field-id", fieldId)
    f
  }
  private val JsonProperties_NULL: Object = org.apache.avro.JsonProperties.NULL_VALUE

  private def prim(t: AvroSchema.Type): AvroSchema = AvroSchema.create(t)

  /** Spec map encoding for non-string keys: array of key/value records with
    * `logicalType: map`. */
  private def kvArray(recName: String, keyId: Int, valueSchema: AvroSchema,
                      valueId: Int): AvroSchema = {
    val rec = AvroSchema.createRecord(recName, null, null, false)
    rec.setFields(java.util.List.of(
      reqField("key", prim(AvroSchema.Type.INT), keyId),
      reqField("value", valueSchema, valueId)))
    val arr = AvroSchema.createArray(rec)
    arr.addProp("logicalType", "map")
    arr
  }

  /** Avro field names must be [A-Za-z_][A-Za-z0-9_]*. */
  private def sanitize(name: String): String = {
    val s = name.map(c => if (c.isLetterOrDigit || c == '_') c else '_')
    if (s.isEmpty || s.head.isDigit) "_" + s else s
  }

  /** Partition value type under a spec field's transform. */
  private def partResultType(pf: PartitionField, schema: Schema): IType = {
    import graft.transforms.Transform
    schema.fieldById(pf.sourceId) match {
      case Some(src) =>
        try Transform.parse(pf.transform).resultType(src.fieldType)
        catch { case _: Exception => IString }
      case None => IString
    }
  }

  /** Avro type for a typed partition field. Types whose directory-string
    * form has no stable primitive encoding here fall back to string. */
  private def partAvroType(t: IType): AvroSchema = t match {
    case IInt => prim(AvroSchema.Type.INT)
    case IDate => LogicalTypes.date().addToSchema(prim(AvroSchema.Type.INT))
    case ILong => prim(AvroSchema.Type.LONG)
    case IBoolean => prim(AvroSchema.Type.BOOLEAN)
    case IFloat => prim(AvroSchema.Type.FLOAT)
    case IDouble => prim(AvroSchema.Type.DOUBLE)
    case IDecimal(p, s) =>
      LogicalTypes.decimal(p, s).addToSchema(prim(AvroSchema.Type.BYTES))
    case _ => prim(AvroSchema.Type.STRING)
  }

  /** The typed r102 partition struct for a (spec, write-schema) pair. */
  private def partitionSchema(spec: PartitionSpec, schema: Schema): AvroSchema = {
    val rec = AvroSchema.createRecord("r102", null, null, false)
    rec.setFields(spec.fields.map { pf =>
      optField(sanitize(pf.name), partAvroType(partResultType(pf, schema)), pf.fieldId)
    }.asJava)
    rec
  }

  private def entrySchema(spec: PartitionSpec, schema: Schema): AvroSchema = {
    val dataFile = AvroSchema.createRecord("r2", null, null, false)
    dataFile.setFields(java.util.List.of(
      reqField("content", prim(AvroSchema.Type.INT), 134),
      reqField("file_path", prim(AvroSchema.Type.STRING), 100),
      reqField("file_format", prim(AvroSchema.Type.STRING), 101),
      reqField("partition", partitionSchema(spec, schema), 102),
      reqField("record_count", prim(AvroSchema.Type.LONG), 103),
      reqField("file_size_in_bytes", prim(AvroSchema.Type.LONG), 104),
      optField("null_value_counts", kvArray("k121_v122", 121, prim(AvroSchema.Type.LONG), 122), 110),
      optField("lower_bounds", kvArray("k126_v127", 126, prim(AvroSchema.Type.BYTES), 127), 125),
      optField("upper_bounds", kvArray("k129_v130", 129, prim(AvroSchema.Type.BYTES), 130), 128),
      optField("equality_ids", {
        val arr = AvroSchema.createArray(prim(AvroSchema.Type.INT))
        arr.addProp("element-id", 136)
        arr
      }, 135),
      // format-v3: row lineage + deletion-vector reference (spec 142-145);
      // optional, so v2 entries simply carry nulls
      optField("first_row_id", prim(AvroSchema.Type.LONG), 142),
      optField("referenced_data_file", prim(AvroSchema.Type.STRING), 143),
      optField("content_offset", prim(AvroSchema.Type.LONG), 144),
      optField("content_size_in_bytes", prim(AvroSchema.Type.LONG), 145)))
    val rec = AvroSchema.createRecord("manifest_entry", null, null, false)
    rec.setFields(java.util.List.of(
      reqField("status", prim(AvroSchema.Type.INT), 0),
      optField("snapshot_id", prim(AvroSchema.Type.LONG), 1),
      optField("sequence_number", prim(AvroSchema.Type.LONG), 3),
      optField("file_sequence_number", prim(AvroSchema.Type.LONG), 4),
      reqField("data_file", dataFile, 2)))
    rec
  }

  private val fieldSummarySchema: AvroSchema = {
    val rec = AvroSchema.createRecord("r508", null, null, false)
    rec.setFields(java.util.List.of(
      reqField("contains_null", prim(AvroSchema.Type.BOOLEAN), 509),
      optField("contains_nan", prim(AvroSchema.Type.BOOLEAN), 518),
      optField("lower_bound", prim(AvroSchema.Type.BYTES), 510),
      optField("upper_bound", prim(AvroSchema.Type.BYTES), 511)))
    rec
  }

  private val manifestFileSchema: AvroSchema = {
    val rec = AvroSchema.createRecord("manifest_file", null, null, false)
    val schemaIdExt = new AvroSchema.Field("schema_id", prim(AvroSchema.Type.INT), null,
      null.asInstanceOf[Object]) // graft extension, no spec field id
    val partsArr = AvroSchema.createArray(fieldSummarySchema)
    partsArr.addProp("element-id", 508)
    rec.setFields(java.util.List.of(
      reqField("manifest_path", prim(AvroSchema.Type.STRING), 500),
      reqField("manifest_length", prim(AvroSchema.Type.LONG), 501),
      reqField("partition_spec_id", prim(AvroSchema.Type.INT), 502),
      reqField("content", prim(AvroSchema.Type.INT), 517),
      reqField("sequence_number", prim(AvroSchema.Type.LONG), 515),
      reqField("min_sequence_number", prim(AvroSchema.Type.LONG), 516),
      reqField("added_snapshot_id", prim(AvroSchema.Type.LONG), 503),
      reqField("added_files_count", prim(AvroSchema.Type.INT), 504),
      reqField("existing_files_count", prim(AvroSchema.Type.INT), 505),
      reqField("deleted_files_count", prim(AvroSchema.Type.INT), 506),
      reqField("added_rows_count", prim(AvroSchema.Type.LONG), 512),
      reqField("existing_rows_count", prim(AvroSchema.Type.LONG), 513),
      reqField("deleted_rows_count", prim(AvroSchema.Type.LONG), 514),
      optField("partitions", partsArr, 507),
      schemaIdExt))
    rec
  }

  /** Exposed for the golden-fixture spec test. */
  private[graft] def entryAvroSchema(spec: PartitionSpec, schema: Schema): AvroSchema =
    entrySchema(spec, schema)
  private[graft] def manifestFileAvroSchema: AvroSchema = manifestFileSchema

  // ------------------------------------------------ partition value serde

  /** Null (= unknown partition value; the fields are optional and pruning
    * treats missing as keep) when the directory string fails to parse as
    * the transform result type — e.g. a kept file re-keyed under an evolved
    * same-named partition field of a different type. Mirrors
    * `SingleValue.toBytes`' Option behavior rather than failing the commit. */
  private def encodePartValue(t: IType, raw: String): AnyRef =
    try {
      t match {
        case IInt => Integer.valueOf(raw.toInt)
        case IDate => Integer.valueOf(java.time.LocalDate.parse(raw).toEpochDay.toInt)
        case ILong => java.lang.Long.valueOf(raw.toLong)
        case IBoolean => java.lang.Boolean.valueOf(raw.toBoolean)
        case IFloat => java.lang.Float.valueOf(raw.toFloat)
        case IDouble => java.lang.Double.valueOf(raw.toDouble)
        case IDecimal(_, s) =>
          ByteBuffer.wrap(new java.math.BigDecimal(raw)
            .setScale(s, java.math.RoundingMode.UNNECESSARY).unscaledValue.toByteArray)
        case _ => raw
      }
    } catch { case scala.util.control.NonFatal(_) => null }

  private def decodePartValue(t: IType, v: AnyRef): String = t match {
    case IDate => java.time.LocalDate.ofEpochDay(
      v.asInstanceOf[Number].longValue()).toString
    case IDecimal(_, s) =>
      val bb = v.asInstanceOf[ByteBuffer].duplicate()
      val arr = new Array[Byte](bb.remaining()); bb.get(arr)
      new java.math.BigDecimal(new java.math.BigInteger(arr), s).toPlainString
    case _ => v.toString
  }

  // ----------------------------------------------------------- file write

  private def schemaJson(schema: Schema): String =
    JsonMethods.compact(JsonMethods.render(graft.meta.MetadataJson.schemaToJson(schema)))
  private def specFieldsJson(spec: PartitionSpec): String =
    JsonMethods.compact(JsonMethods.render(JArray(spec.fields.toList.map(f => JObject(
      "source-id" -> JInt(f.sourceId), "field-id" -> JInt(f.fieldId),
      "name" -> JString(f.name), "transform" -> JString(f.transform))))))

  private def boundsToAvro(m: Map[String, String], schema: Schema,
                           kvSchema: AvroSchema, content: Int): java.util.List[GenericRecord] = {
    val itemSchema = kvSchema.getElementType
    m.toList.sortBy(_._1).flatMap { case (name, raw) =>
      // Table columns resolve by name; a position-delete file's
      // referenced-data-file bounds use the spec's reserved fields. For
      // position deletes (content==1) the reserved names win — a table
      // column literally named "file_path"/"pos" must not re-key (or
      // re-type) the delete file's own bounds.
      val fromSchema = schema.fieldByName(name).map(f => f.id -> f.fieldType)
      val resolved: Option[(Int, IType)] =
        if (content == 1) ReservedFields.byName.get(name).orElse(fromSchema)
        else fromSchema.orElse(ReservedFields.byName.get(name))
      resolved.flatMap { case (id, t) =>
        SingleValue.toBytes(t, raw).map { bytes =>
          val r = new GenericData.Record(itemSchema)
          r.put("key", id)
          r.put("value", ByteBuffer.wrap(bytes))
          r: GenericRecord
        }
      }
    }.asJava
  }

  /**
   * Spec `field_summary` roll-up (manifest-list field 507) over one
   * manifest's files: per partition field (spec order) the null presence
   * and min/max bounds, single-value-serialized in the transform result
   * type. An unparseable partition value (an era-re-keyed field) makes
   * that field's bounds unknown rather than wrong — manifest-level
   * pruning then keeps the manifest and the per-file check decides.
   */
  def partitionSummaries(files: Seq[DataFile], spec: PartitionSpec,
                         schema: Schema): Seq[FieldSummary] =
    spec.fields.map { pf =>
      val t = partResultType(pf, schema)
      val raws = files.map(_.partition.getOrElse(pf.name, ""))
      val containsNull = raws.exists(_.isEmpty)
      val nonNull = raws.filter(_.nonEmpty)
      val phys = nonNull.map(physicalForm(t, _))
      if (nonNull.isEmpty || phys.exists(_.isEmpty)) FieldSummary(containsNull)
      else {
        val vals = phys.flatten
        val numeric = t match {
          case IInt | ILong | IFloat | IDouble | IDate | ITimestamp |
               ITimestampTz | ITime | IDecimal(_, _) => true
          case _ => false
        }
        val (lo, hi) =
          if (numeric)
            (vals.minBy(BigDecimal(_)), vals.maxBy(BigDecimal(_)))
          else (vals.min, vals.max)
        FieldSummary(containsNull,
          SingleValue.toBytes(t, lo).map(_.toSeq),
          SingleValue.toBytes(t, hi).map(_.toSeq))
      }
    }

  /** Decoded (display) partition value → the physical string form
    * `SingleValue.toBytes` expects (epoch-day dates, unscaled decimals). */
  private def physicalForm(t: IType, raw: String): Option[String] =
    try {
      t match {
        case IDate => Some(java.time.LocalDate.parse(raw).toEpochDay.toString)
        case IDecimal(_, s) => Some(new java.math.BigDecimal(raw)
          .setScale(s, java.math.RoundingMode.UNNECESSARY).unscaledValue.toString)
        case IInt | ILong | ITime | ITimestamp | ITimestampTz =>
          { raw.toLong; Some(raw) } // validate numeric form
        case IFloat | IDouble => { raw.toDouble; Some(raw) }
        case _ => Some(raw)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Spec reserved field ids (Iceberg table spec, "Reserved field IDs"):
    * the delete-file columns of position deletes. */
  private[graft] object ReservedFields {
    val FilePathId = 2147483546
    val PosId = 2147483545
    val byName: Map[String, (Int, IType)] =
      Map("file_path" -> (FilePathId -> IString), "pos" -> (PosId -> ILong))
    val byId: Map[Int, (String, IType)] =
      Map(FilePathId -> ("file_path" -> IString), PosId -> ("pos" -> ILong))
  }

  /**
   * Write a manifest. `schema`/`spec` describe the entries' write context:
   * bounds names are resolved to field ids against `schema`, the partition
   * struct is typed by `spec`'s transforms, and both are embedded in the
   * header so the file is self-describing.
   */
  def writeManifest(fs: FileSystem, path: Path, entries: Seq[ManifestEntry],
                    schema: Schema, spec: PartitionSpec): Long = {
    val avro = entrySchema(spec, schema)
    val dfSchema = avro.getField("data_file").schema()
    val partSchema = dfSchema.getField("partition").schema()
    val nullsSchema = dfSchema.getField("null_value_counts").schema().getTypes.get(1)
    val lowerSchema = dfSchema.getField("lower_bounds").schema().getTypes.get(1)
    val upperSchema = dfSchema.getField("upper_bounds").schema().getTypes.get(1)
    val partTypes = spec.fields.map(pf => pf -> partResultType(pf, schema))

    val writer = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](avro))
    writer.setMeta("schema", schemaJson(schema))
    writer.setMeta("schema-id", schema.schemaId.toString)
    writer.setMeta("partition-spec", specFieldsJson(spec))
    writer.setMeta("partition-spec-id", spec.specId.toString)
    writer.setMeta("format-version", "2")
    writer.setMeta("content",
      if (entries.exists(_.dataFile.content != 0)) "deletes" else "data")
    val out = TableFiles.create(fs, path, overwrite = true)
    try {
      writer.create(avro, out)
      entries.foreach { e =>
        val part = new GenericData.Record(partSchema)
        partTypes.foreach { case (pf, t) =>
          val raw = e.dataFile.partition.getOrElse(pf.name, "")
          part.put(sanitize(pf.name), if (raw.isEmpty) null else encodePartValue(t, raw))
        }
        val df = new GenericData.Record(dfSchema)
        df.put("content", e.dataFile.content)
        df.put("file_path", e.dataFile.filePath)
        df.put("file_format", e.dataFile.fileFormat)
        df.put("partition", part)
        df.put("record_count", e.dataFile.recordCount)
        df.put("file_size_in_bytes", e.dataFile.fileSizeInBytes)
        df.put("null_value_counts",
          e.dataFile.nullCounts.toList.sortBy(_._1).flatMap { case (name, cnt) =>
            schema.fieldByName(name).map { f =>
              val r = new GenericData.Record(nullsSchema.getElementType)
              r.put("key", f.id); r.put("value", cnt)
              r: GenericRecord
            }
          }.asJava)
        df.put("lower_bounds",
          boundsToAvro(e.dataFile.lowerBounds, schema, lowerSchema, e.dataFile.content))
        df.put("upper_bounds",
          boundsToAvro(e.dataFile.upperBounds, schema, upperSchema, e.dataFile.content))
        df.put("equality_ids",
          if (e.dataFile.equalityIds.isEmpty) null
          else e.dataFile.equalityIds.map(Integer.valueOf).asJava)
        df.put("first_row_id", e.dataFile.firstRowId.map(java.lang.Long.valueOf).orNull)
        df.put("referenced_data_file", e.dataFile.referencedDataFile.orNull)
        df.put("content_offset", e.dataFile.contentOffset.map(java.lang.Long.valueOf).orNull)
        df.put("content_size_in_bytes",
          e.dataFile.contentSizeInBytes.map(java.lang.Long.valueOf).orNull)
        val r = new GenericData.Record(avro)
        r.put("status", e.status)
        r.put("snapshot_id", e.snapshotId)
        r.put("sequence_number", e.sequenceNumber)
        r.put("file_sequence_number", e.sequenceNumber)
        r.put("data_file", df)
        writer.append(r)
      }
    } finally writer.close()
    fs.getFileStatus(path).getLen
  }

  // ------------------------------------------------------------ file read

  private def bytesOf(v: AnyRef): Array[Byte] = {
    val bb = v.asInstanceOf[ByteBuffer].duplicate()
    val arr = new Array[Byte](bb.remaining()); bb.get(arr); arr
  }

  def readManifest(fs: FileSystem, path: Path): Seq[ManifestEntry] = {
    val in = new org.apache.avro.file.SeekableByteArrayInput(readFully(fs, path))
    val reader = new DataFileReader[GenericRecord](in, new GenericDatumReader[GenericRecord]())
    try {
      // self-describing header: write schema + partition spec
      val schemaMeta = Option(reader.getMetaString("schema")).getOrElse(
        throw new graft.InvalidDataError(
          s"manifest $path predates the spec-v2 Avro layout (no 'schema' " +
            "header); rewrite the table with a current writer"))
      val schema = graft.meta.MetadataJson.schemaFromJson(
        JsonMethods.parse(schemaMeta))
      val specFields: Seq[PartitionField] =
        JsonMethods.parse(Option(reader.getMetaString("partition-spec")).getOrElse("[]")) match {
          case JArray(xs) => xs.map(f => PartitionField(
            sourceId = (f \ "source-id").asInstanceOf[JInt].num.toInt,
            fieldId = (f \ "field-id").asInstanceOf[JInt].num.toInt,
            name = (f \ "name").asInstanceOf[JString].s,
            transform = (f \ "transform").asInstanceOf[JString].s))
          case _ => Nil
        }
      val spec = PartitionSpec(
        Option(reader.getMetaString("partition-spec-id")).map(_.toInt).getOrElse(0),
        specFields)
      val nameById = schema.fields.map(f => f.id -> f).toMap
      val partTypes = spec.fields.map(pf => pf -> partResultType(pf, schema))

      def boundsFromAvro(v: AnyRef): Map[String, String] = v match {
        case null => Map.empty
        case list: java.util.List[_] =>
          list.asScala.flatMap { item =>
            val r = item.asInstanceOf[GenericRecord]
            val id = r.get("key").asInstanceOf[Int]
            nameById.get(id).map(f =>
              f.name -> SingleValue.fromBytes(f.fieldType, bytesOf(r.get("value"))))
              .orElse(ReservedFields.byId.get(id).map { case (name, t) =>
                name -> SingleValue.fromBytes(t, bytesOf(r.get("value")))
              })
          }.toMap
        case _ => Map.empty
      }

      reader.iterator().asScala.map { r =>
        val df = r.get("data_file").asInstanceOf[GenericRecord]
        val part = df.get("partition").asInstanceOf[GenericRecord]
        val partition = partTypes.map { case (pf, t) =>
          val v = part.get(sanitize(pf.name))
          pf.name -> (if (v == null) "" else decodePartValue(t, v))
        }.toMap
        val nulls = df.get("null_value_counts") match {
          case null => Map.empty[String, Long]
          case list: java.util.List[_] =>
            list.asScala.flatMap { item =>
              val kv = item.asInstanceOf[GenericRecord]
              nameById.get(kv.get("key").asInstanceOf[Int])
                .map(f => f.name -> kv.get("value").asInstanceOf[Long])
            }.toMap
          case _ => Map.empty[String, Long]
        }
        val eqIds = df.get("equality_ids") match {
          case null => Nil
          case list: java.util.List[_] => list.asScala.toList.map(_.asInstanceOf[Int])
          case _ => Nil
        }
        def longOr0(v: AnyRef): Long = if (v == null) 0L else v.asInstanceOf[Long]
        ManifestEntry(
          status = r.get("status").asInstanceOf[Int],
          snapshotId = longOr0(r.get("snapshot_id")),
          sequenceNumber = longOr0(r.get("sequence_number")),
          dataFile = DataFile(
            filePath = df.get("file_path").toString,
            fileFormat = df.get("file_format").toString,
            partition = partition,
            recordCount = df.get("record_count").asInstanceOf[Long],
            fileSizeInBytes = df.get("file_size_in_bytes").asInstanceOf[Long],
            lowerBounds = boundsFromAvro(df.get("lower_bounds")),
            upperBounds = boundsFromAvro(df.get("upper_bounds")),
            nullCounts = nulls,
            content = df.get("content").asInstanceOf[Int],
            equalityIds = eqIds,
            // v3 fields; absent in pre-v3 manifests (GenericDatumReader
            // resolves a missing writer field to null only if the reader
            // schema declares it, so probe via hasField)
            firstRowId = optLong(df, "first_row_id"),
            referencedDataFile = optStr(df, "referenced_data_file"),
            contentOffset = optLong(df, "content_offset"),
            contentSizeInBytes = optLong(df, "content_size_in_bytes")))
      }.toList
    } finally reader.close()
  }

  private def optLong(r: GenericRecord, name: String): Option[Long] =
    if (r.getSchema.getField(name) == null) None
    else Option(r.get(name)).map(_.asInstanceOf[Long])
  private def optStr(r: GenericRecord, name: String): Option[String] =
    if (r.getSchema.getField(name) == null) None
    else Option(r.get(name)).map(_.toString)

  // --------------------------------------------------------- manifest list

  def writeManifestList(fs: FileSystem, path: Path, manifests: Seq[ManifestFile],
                        snapshotId: Long = -1L, parentSnapshotId: Option[Long] = None,
                        sequenceNumber: Long = -1L): Long = {
    val writer = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](manifestFileSchema))
    if (snapshotId >= 0) writer.setMeta("snapshot-id", snapshotId.toString)
    parentSnapshotId.foreach(p => writer.setMeta("parent-snapshot-id", p.toString))
    if (sequenceNumber >= 0) writer.setMeta("sequence-number", sequenceNumber.toString)
    writer.setMeta("format-version", "2")
    val out = TableFiles.create(fs, path, overwrite = true)
    try {
      writer.create(manifestFileSchema, out)
      manifests.foreach { m =>
        val r = new GenericData.Record(manifestFileSchema)
        r.put("manifest_path", m.manifestPath)
        r.put("manifest_length", m.manifestLength)
        r.put("partition_spec_id", m.partitionSpecId)
        r.put("content", m.content)
        r.put("sequence_number", m.sequenceNumber)
        r.put("min_sequence_number", m.minSequenceNumber)
        r.put("added_snapshot_id", m.addedSnapshotId)
        r.put("added_files_count", m.addedFilesCount)
        r.put("existing_files_count", m.existingFilesCount)
        r.put("deleted_files_count", m.deletedFilesCount)
        r.put("added_rows_count", m.addedRowsCount)
        r.put("existing_rows_count", m.existingRowsCount)
        r.put("deleted_rows_count", m.deletedRowsCount)
        r.put("partitions",
          if (m.partitions.isEmpty) null
          else m.partitions.map { s =>
            val fr = new GenericData.Record(fieldSummarySchema)
            fr.put("contains_null", s.containsNull)
            fr.put("contains_nan", null)
            fr.put("lower_bound", s.lowerBound.map(b => ByteBuffer.wrap(b.toArray)).orNull)
            fr.put("upper_bound", s.upperBound.map(b => ByteBuffer.wrap(b.toArray)).orNull)
            fr: GenericRecord
          }.asJava)
        r.put("schema_id", m.schemaId)
        writer.append(r)
      }
    } finally writer.close()
    fs.getFileStatus(path).getLen
  }

  def readManifestList(fs: FileSystem, path: Path): Seq[ManifestFile] = {
    val in = new org.apache.avro.file.SeekableByteArrayInput(readFully(fs, path))
    val reader = new DataFileReader[GenericRecord](in, new GenericDatumReader[GenericRecord]())
    try {
      if (reader.getSchema.getField("content") == null)
        throw new graft.InvalidDataError(
          s"manifest list $path predates the spec-v2 Avro layout (no " +
            "'content' field); rewrite the table with a current writer")
      reader.iterator().asScala.map { r =>
        def intOr0(n: String): Int =
          Option(r.get(n)).map(_.asInstanceOf[Int]).getOrElse(0)
        def longOr0(n: String): Long =
          Option(r.get(n)).map(_.asInstanceOf[Long]).getOrElse(0L)
        ManifestFile(
          manifestPath = r.get("manifest_path").toString,
          manifestLength = r.get("manifest_length").asInstanceOf[Long],
          partitionSpecId = r.get("partition_spec_id").asInstanceOf[Int],
          addedSnapshotId = r.get("added_snapshot_id").asInstanceOf[Long],
          addedFilesCount = r.get("added_files_count").asInstanceOf[Int],
          addedRowsCount = r.get("added_rows_count").asInstanceOf[Long],
          schemaId = intOr0("schema_id"),
          content = r.get("content").asInstanceOf[Int],
          sequenceNumber = longOr0("sequence_number"),
          minSequenceNumber = longOr0("min_sequence_number"),
          existingFilesCount = intOr0("existing_files_count"),
          deletedFilesCount = intOr0("deleted_files_count"),
          existingRowsCount = longOr0("existing_rows_count"),
          deletedRowsCount = longOr0("deleted_rows_count"),
          partitions = r.get("partitions") match {
            case list: java.util.List[_] => list.asScala.toList.map { item =>
              val fr = item.asInstanceOf[GenericRecord]
              FieldSummary(
                containsNull = fr.get("contains_null").asInstanceOf[Boolean],
                lowerBound = Option(fr.get("lower_bound")).map(bytesOf(_).toSeq),
                upperBound = Option(fr.get("upper_bound")).map(bytesOf(_).toSeq))
            }
            case _ => Nil // absent in pre-507 lists
          })
      }.toList
    } finally reader.close()
  }

  private def readFully(fs: FileSystem, path: Path): Array[Byte] = {
    val len = fs.getFileStatus(path).getLen.toInt
    val buf = new Array[Byte](len)
    val in = fs.open(path)
    try in.readFully(0, buf) finally in.close()
    buf
  }

  def newConf(): Configuration = new Configuration()
}

/**
 * Iceberg single-value binary serialization (spec Appendix D): the encoding
 * of bound values in manifests. Converts from/to graft's canonical bound
 * strings (the physical forms ParquetStats records: epoch-day dates, micros
 * timestamps, SCALED plain decimal strings — "123.45", matching what scan
 * pruning compares user values against; the manifest bytes stay the spec's
 * unscaled big-endian integer).
 */
private[graft] object SingleValue {

  def toBytes(t: IType, raw: String): Option[Array[Byte]] =
    try {
      t match {
        case IInt | IDate =>
          Some(ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
            .putInt(raw.toInt).array())
        case ILong | ITime | ITimestamp | ITimestampTz | ITimestampNano | ITimestampTzNano =>
          Some(ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
            .putLong(raw.toLong).array())
        case IFloat =>
          Some(ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
            .putFloat(raw.toFloat).array())
        case IDouble =>
          Some(ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
            .putDouble(raw.toDouble).array())
        case IBoolean =>
          Some(Array[Byte](if (raw.toBoolean) 1 else 0))
        case IString => Some(raw.getBytes("UTF-8"))
        case IUuid =>
          val u = java.util.UUID.fromString(raw)
          Some(ByteBuffer.allocate(16) // big-endian per spec
            .putLong(u.getMostSignificantBits).putLong(u.getLeastSignificantBits).array())
        case IBinary | IFixed(_) => Some(raw.getBytes("UTF-8"))
        case IDecimal(_, s) =>
          // canonical form is the scaled decimal string ("67.89")
          Some(new java.math.BigDecimal(raw)
            .setScale(s, java.math.RoundingMode.UNNECESSARY)
            .unscaledValue.toByteArray) // big-endian two's-complement, minimal
        case _ => None
      }
    } catch { case _: Exception => None }

  def fromBytes(t: IType, bytes: Array[Byte]): String = t match {
    case IInt | IDate =>
      ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getInt.toString
    case ILong | ITime | ITimestamp | ITimestampTz | ITimestampNano | ITimestampTzNano =>
      ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getLong.toString
    case IFloat =>
      ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getFloat.toString
    case IDouble =>
      ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getDouble.toString
    case IBoolean => (bytes.nonEmpty && bytes(0) != 0).toString
    case IUuid =>
      val bb = ByteBuffer.wrap(bytes)
      new java.util.UUID(bb.getLong, bb.getLong).toString
    case IDecimal(_, s) =>
      new java.math.BigDecimal(new java.math.BigInteger(bytes), s).toPlainString
    case _ => new String(bytes, "UTF-8") // string, binary, fixed
  }
}
