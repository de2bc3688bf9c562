package graft.spark

import graft.{InvalidDataError, UnsupportedFeatureError}
import graft.manifest.DataFile
import graft.table.{AppendUtil, DataFileWriter, TableScan, Table => GTable}
import graft.transforms.Transform
import graft.types.{Schema, SparkSchemaConverter}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expression, Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types._

/**
 * The DSv2 writes Spark drives itself: dynamic-partition `INSERT
 * OVERWRITE` (Spark has no V1 fallback exec for it) and every streaming
 * write, appends and upserts, whether the stream names its table with
 * `toTable` or with `format("graft")`. Their tasks run [[DataFileWriter]] — the
 * same writer every batch append, overwrite, DML and compaction uses
 * through `AppendUtil.writeData` — so every table write produces files
 * and stats the same way. Plain appends and overwrites stay on the V1
 * write (`InsertableRelation` → `Table.append`) only because it prepares
 * the plan first: the salted partition shuffle a requested distribution
 * cannot express. Both routes write rows one at a time through Spark's
 * `ParquetWriteSupport`, as Spark's own file writer does.
 */
private[spark] object GraftV2Write {

  /** Build the serializable writer factory for one write of `gt`. */
  def factory(gt: GTable, writeSchema: StructType, dataDir: String): DataFileWriter.Factory = {
    val schema = gt.currentSchema
    checkWriteSchema(writeSchema, schema)
    val spec = gt.defaultPartitionSpec
    DataFileWriter.checkWritableSpec(spec, schema)
    val ordinalByName = writeSchema.fieldNames.zipWithIndex.toMap
    val partition = spec.fields.map { pf =>
      val src = schema.fieldById(pf.sourceId).get
      val ord = ordinalByName.getOrElse(src.name, throw new UnsupportedFeatureError(
        s"partition source column ${src.name} missing from write schema"))
      DataFileWriter.Evaluated(pf.name, ord, writeSchema.fields(ord).dataType,
        Transform.parse(pf.transform), src.fieldType)
    }
    DataFileWriter.Factory(
      dir = DataFileWriter.qualify(new Path(dataDir), gt.hadoopConf),
      schema = writeSchema,
      sconf = TableScan.taskConf(org.apache.spark.sql.SparkSession.active, gt.hadoopConf),
      targetFileRows = gt.properties.get("write.target-file-rows").map(_.toLong).getOrElse(5000000L),
      partition = partition)
  }

  /** The tasks write rows in `writeSchema` as it stands, so reject on the
    * driver what a file must not carry: a column the table lacks, a column
    * of another type (nullability aside), or a left-out column that needs a
    * value (required, or with a write-default). */
  private def checkWriteSchema(writeSchema: StructType, schema: Schema): Unit = {
    AppendUtil.missingColumns(writeSchema.fieldNames.toSeq, schema)
      .find(_.writeDefault.isDefined).foreach(f => throw new InvalidDataError(
        s"missing column with a write-default: ${f.name}"))
    writeSchema.fields.foreach { wf =>
      val want = SparkSchemaConverter.toSparkType(schema.fieldByName(wf.name).get.fieldType)
      if (!DataTypeUtils.equalsIgnoreNullability(wf.dataType, want))
        throw new InvalidDataError(s"column ${wf.name} is ${wf.dataType.simpleString}, " +
          s"the table's is ${want.simpleString}")
    }
  }

  /** The files named by (possibly partial or null) commit messages. */
  def collectFiles(messages: Array[WriterCommitMessage]): Seq[DataFile] =
    messages.toSeq.flatMap(DataFileWriter.files)

  /** Delete the files named by commit messages — the abort path; a file
    * that never made it to a manifest is invisible. */
  def deleteFiles(gt: GTable, messages: Array[WriterCommitMessage]): Unit =
    collectFiles(messages).foreach(f => DataFileWriter.delete(gt.hadoopConf, f.filePath))

  def freshDataDir(gt: GTable): String =
    new Path(gt.location, s"data/${java.util.UUID.randomUUID()}").toString
}

/**
 * Requested write distribution: cluster incoming rows by the partition
 * SOURCE columns (identity references resolve without a FunctionCatalog;
 * same-source-value rows share a tuple, so each tuple lands in few
 * tasks) — without this a 1000-task write of a 365-partition table
 * could fan out 365k small files. The fanout writer stays correct under
 * ANY distribution, so `write.distribution-mode=none` opts a skewed
 * workload out (one hot partition otherwise serializes into one task —
 * the batch path's salt, which a requested distribution cannot express).
 * Within tasks, rows sort by the table's identity sort-order fields so
 * rolled files keep tight bounds.
 */
private[spark] trait PartitionClustered extends RequiresDistributionAndOrdering {
  protected def gt: GTable

  override def requiredDistribution(): Distribution = {
    val fieldById = gt.currentSchema.fields.map(f => f.id -> f).toMap
    if (gt.defaultPartitionSpec.isUnpartitioned ||
      gt.properties.getOrElse("write.distribution-mode", "hash") == "none") Distributions.unspecified()
    else Distributions.clustered(gt.defaultPartitionSpec.fields
      .flatMap(pf => fieldById.get(pf.sourceId)).map(f => Expressions.column(f.name): Expression).toArray)
  }

  override def requiredOrdering(): Array[SortOrder] = {
    val fieldById = gt.currentSchema.fields.map(f => f.id -> f).toMap
    gt.metadata.defaultSortOrder.fields.flatMap { sf =>
      fieldById.get(sf.sourceId).collect {
        case f if sf.transform == "identity" =>
          Expressions.sort(Expressions.column(f.name),
            if (sf.direction == "desc") SortDirection.DESCENDING else SortDirection.ASCENDING)
      }
    }.toArray
  }

  override def distributionStrictlyRequired(): Boolean = false
}

/**
 * A native V2 streaming sink: each micro-batch epoch is written by the
 * executors and committed as ONE atomic snapshot by the driver —
 * metadata-only driver work, same scale shape as the batch paths.
 * Exactly-once per epoch: the epoch id and the STABLE streaming query id
 * (Spark's checkpoint-metadata id, which `LogicalWriteInfo.queryId`
 * carries into every restart) land in the snapshot summary, so a replayed
 * epoch after recovery is detected and its files deleted — the same
 * `streaming-query-id`/`streaming-batch-id` bookkeeping (and therefore
 * the same dedup scope) as [[graft.streaming.StreamingOps.appendStream]].
 */
private[spark] abstract class GraftEpochWrite(protected val gt: GTable, queryId: String)
  extends Write with StreamingWrite {

  protected val dataDir: String = GraftV2Write.freshDataDir(gt)

  /** Commit one epoch's files, with the replay bookkeeping `summary`. */
  protected def commitEpoch(t: GTable, files: Seq[DataFile], summary: Map[String, String]): Unit

  override def toStreaming: StreamingWrite = this

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val t = gt.refresh()
    if (graft.streaming.StreamingOps.lastCommittedBatchId(t, queryId).exists(_ >= epochId))
      GraftV2Write.deleteFiles(t, messages)
    else commitEpoch(t, GraftV2Write.collectFiles(messages), Map(
      "streaming-query-id" -> queryId, "streaming-batch-id" -> epochId.toString))
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    GraftV2Write.deleteFiles(gt, messages)
}

/**
 * `df.writeStream.toTable("cat.db.t")`, or `format("graft")` with
 * warehouse+table options: Append mode appends (optionally
 * staging on a WAP `branch`); Complete mode replaces the table's whole
 * content each epoch (the V2 truncate contract). Merge-key upserts go to
 * [[GraftStreamingUpsertWrite]].
 */
private[spark] final class GraftStreamingWrite(
    gtable: GTable, writeSchema: StructType, queryId: String,
    replaceEachEpoch: Boolean, branch: String)
  extends GraftEpochWrite(gtable, queryId) with PartitionClustered {

  if (replaceEachEpoch && branch != "main")
    throw new UnsupportedFeatureError(
      "Complete-mode streaming cannot stage on a branch: each epoch replaces " +
        "the published table; use Append mode for write-audit-publish")

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    GraftV2Write.factory(gt, writeSchema, dataDir)

  override protected def commitEpoch(t: GTable, files: Seq[DataFile],
                                     summary: Map[String, String]): Unit =
    if (replaceEachEpoch) t.overwriteAllWithFiles(files, summary)
    else t.appendFiles(files, summary, toBranch = branch)

  override def description(): String = s"graft streaming write ${gt.ident}"
}

/**
 * Native V2 streaming UPSERT sink (`writeStream.option("merge-keys", …)`,
 * by `toTable` or `format("graft")`, Append or Update output mode): each micro-batch
 * epoch lands as ONE atomic MOR row delta — executors fan data rows out
 * to partition files AND write the epoch's merge keys as global
 * equality-delete files, the driver commits metadata only. Same sequence
 * semantics as [[graft.table.Table.upsert]] (deletes apply strictly below
 * the commit's sequence, so the epoch replaces prior versions of its keys
 * without reading or rewriting any existing data — O(epoch) regardless of
 * table size), same replay bookkeeping as [[GraftStreamingWrite]].
 *
 * The write demands a STRICT clustering by the key columns plus a
 * key-ascending ordering: same-key rows meet in one task adjacently, so
 * the per-task writer rejects NULL and duplicate keys with O(1) state —
 * the streaming analogue of the batch upsert's driver-side checks.
 */
private[spark] final class GraftStreamingUpsertWrite(
    gtable: GTable, writeSchema: StructType, queryId: String,
    keys: Seq[String], branch: String)
  extends GraftEpochWrite(gtable, queryId) with RequiresDistributionAndOrdering {

  private val keyFields = keys.map(k => gt.currentSchema.fieldByName(k).getOrElse(
    throw new graft.InvalidDataError(s"merge key not in table schema: $k")))
  private val keyOrdinals = keys.map { k =>
    val i = writeSchema.fieldNames.indexOf(k)
    if (i < 0) throw new graft.InvalidDataError(s"merge key missing from write schema: $k")
    i
  }
  // era the files are written under — CAS retries pin the manifests to it
  private val writeSchemaId = gt.metadata.currentSchemaId
  private val writeSpecId = gt.metadata.defaultSpecId

  override def requiredDistribution(): Distribution =
    Distributions.clustered(keys.map(k => Expressions.column(k): Expression).toArray)
  override def requiredOrdering(): Array[SortOrder] =
    keys.map(k => Expressions.sort(Expressions.column(k), SortDirection.ASCENDING)).toArray
  override def distributionStrictlyRequired(): Boolean = true

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    GraftV2Write.factory(gt, writeSchema, dataDir)
      .copy(upsert = Some(DataFileWriter.UpsertKeys(keys, keyOrdinals, keyFields.map(_.id))))

  override protected def commitEpoch(t: GTable, files: Seq[DataFile],
                                     summary: Map[String, String]): Unit = {
    val (delFiles, dataFiles) = files.partition(_.content == 2)
    t.commitRowDelta(delFiles, dataFiles, summary, toBranch = branch,
      writeSchemaId = Some(writeSchemaId), writeSpecId = Some(writeSpecId))
  }

  override def description(): String =
    s"graft streaming upsert ${gt.ident} on (${keys.mkString(", ")})"
}

/**
 * Dynamic-partition overwrite (`INSERT OVERWRITE` under
 * `spark.sql.sources.partitionOverwriteMode=dynamic`,
 * `DataFrameWriterV2.overwritePartitions()`): executors fan the incoming
 * rows into partition-tuple files; the driver then atomically replaces
 * exactly the partitions those files touch — untouched partitions carry
 * their files, and replacing N days of a 100 TB table costs O(N days
 * written) + a metadata swap, never a table rewrite.
 */
private[spark] final class GraftDynamicOverwriteWrite(protected val gt: GTable, writeSchema: StructType)
  extends Write with BatchWrite with PartitionClustered {

  private val dataDir = GraftV2Write.freshDataDir(gt)

  override def toBatch: BatchWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    GraftV2Write.factory(gt, writeSchema, dataDir)

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    gt.refresh().commitDynamicOverwrite(GraftV2Write.collectFiles(messages))

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftV2Write.deleteFiles(gt, messages)

  override def description(): String = s"graft dynamic overwrite ${gt.ident}"
}
