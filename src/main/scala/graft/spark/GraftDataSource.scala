package graft.spark

import graft.InvalidDataError
import graft.table.StaticTable
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.catalog.{Table => SparkTable}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/**
 * Path-based reads without a catalog — the reference's StaticTable
 * (`lib/iceberg/static_table.rb`) surfaced as a Spark data source:
 *
 * {{{
 * spark.read.format("graft").load("/warehouse/ns/t")            // table dir
 * spark.read.format("graft").load(".../v7.metadata.json")       // pinned metadata
 * spark.read.format("graft").option("snapshot-id", "123").load(dir)
 * spark.read.format("graft").option("branch", "audit").load(dir)
 * spark.read.format("graft").option("as-of-timestamp-ms", ms).load(dir)
 * spark.read.format("graft").option("hadoop.fs.s3a.endpoint", e).load(dir)
 * }}}
 *
 * Options prefixed `hadoop.` overlay the Hadoop Configuration used to
 * resolve and read the table — the analogue of the reference's
 * `storage_options:` passthrough (`lib/iceberg/table.rb:151-159`), for
 * per-read filesystem settings (endpoints, credentials providers) without
 * touching the session-wide conf. They reach every read: the metadata,
 * the manifests, and the data and delete files the scan's tasks open.
 *
 * A directory resolves through `metadata/version-hint.text` (the Hadoop
 * catalog layout), falling back to the highest `v*.metadata.json`. Tables
 * loaded this way have no catalog, so they are read-only — writes fail
 * with the read-only error, matching StaticTable semantics.
 *
 * `spark.readStream.format("graft")` and `df.writeStream.format("graft")`
 * resolve the same [[GraftSparkTable]] as a batch read. A stream reads
 * through the V2 [[GraftMicroBatchStream]] and writes through the V2 epoch
 * write ([[GraftEpochWrite]]), as `readStream.table` and
 * `writeStream.toTable` do. A streaming write names its table with
 * warehouse+table: a path-resolved table has no catalog to commit through.
 */
class GraftDataSource extends org.apache.spark.sql.connector.catalog.TableProvider
    with DataSourceRegister {

  override def shortName(): String = "graft"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    resolve(options).schema()

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): SparkTable =
    resolve(new CaseInsensitiveStringMap(properties))

  private def resolve(options: CaseInsensitiveStringMap): GraftSparkTable = {
    val conf = GraftDataSource.hadoopConf(options.asCaseSensitiveMap().asScala)
    // two addressing modes: a table/metadata path (read-only StaticTable),
    // or warehouse+table naming a Hadoop-catalog table (catalog-backed,
    // so a streaming write can commit to it)
    val t = Option(options.get("path")) match {
      case Some(path) =>
        StaticTable.load(GraftDataSource.metadataPathFor(path, conf), conf)
      case None =>
        (Option(options.get("warehouse")), Option(options.get("table"))) match {
          case (Some(wh), Some(name)) =>
            new graft.catalog.HadoopCatalog(wh, hadoopConf = conf).loadTable(name)
          case _ => throw new InvalidDataError(
            "format(\"graft\") requires a path, or warehouse+table options")
        }
    }
    val pinned: Option[Long] =
      (Option(options.get("snapshot-id")), Option(options.get("branch")),
        Option(options.get("as-of-timestamp-ms"))) match {
        case (Some(sid), None, None) =>
          val id = sid.toLong
          if (t.snapshotById(id).isEmpty)
            throw new InvalidDataError(s"no snapshot with id $id")
          Some(id)
        case (None, Some(ref), None) =>
          Some(t.snapshotForRef(ref).getOrElse(
            throw new InvalidDataError(s"no ref named $ref")).snapshotId)
        case (None, None, Some(ts)) =>
          Some(t.snapshotAsOf(ts.toLong).getOrElse(
            throw new InvalidDataError(s"no snapshot at or before $ts")).snapshotId)
        case (None, None, None) => None
        case _ => throw new InvalidDataError(
          "use at most one of snapshot-id / branch / as-of-timestamp-ms")
      }
    // the raw options travel with the table: a streaming read needs them to
    // re-resolve the table per trigger (path, rate limits, hadoop overlays)
    val optMap = {
      val b = Map.newBuilder[String, String]
      options.asCaseSensitiveMap().forEach((k, v) => b += (k.toLowerCase -> v))
      b.result()
    }
    new GraftSparkTable(t, pinned, optMap)
  }
}

object GraftDataSource {
  /** The Hadoop conf of a read: `conf` (a default conf unless given)
    * overlaid with the options prefixed `hadoop.`, the prefix dropped. */
  private[spark] def hadoopConf(options: scala.collection.Map[String, String],
                                conf: Configuration = new Configuration()): Configuration = {
    options.foreach { case (k, v) =>
      if (k.startsWith("hadoop.")) conf.set(k.substring("hadoop.".length), v)
    }
    conf
  }

  /** A `*.metadata.json` path passes through; a table directory resolves
    * via `metadata/version-hint.text`, else the highest version file.
    * The hint rewrite is not atomic, so a concurrent reader (a streaming
    * source polls every trigger) can observe it empty or pointing at a
    * not-yet-visible version — any unusable hint falls back to the
    * version listing instead of failing the read. */
  private[spark] def metadataPathFor(path: String,
                                     conf: Configuration = new Configuration()): String = {
    if (path.endsWith(".metadata.json")) return path
    val dir = new Path(path, "metadata")
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir))
      throw new InvalidDataError(s"not a graft table (no metadata/ under $path)")
    val hint = new Path(dir, "version-hint.text")
    val fromHint: Option[String] =
      if (!fs.exists(hint)) None
      else try {
        val in = fs.open(hint)
        val v = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
                finally in.close()
        val p = new Path(dir, s"v$v.metadata.json")
        if (v.nonEmpty && fs.exists(p)) Some(p.toString) else None
      } catch { case _: java.io.IOException => None }
    fromHint.getOrElse {
      val VRe = """v(\d+)\.metadata\.json""".r
      val versions = fs.listStatus(dir).toSeq.map(_.getPath.getName).collect {
        case VRe(n) => n.toInt
      }
      if (versions.isEmpty)
        throw new InvalidDataError(s"no metadata json found under $dir")
      new Path(dir, s"v${versions.max}.metadata.json").toString
    }
  }
}
