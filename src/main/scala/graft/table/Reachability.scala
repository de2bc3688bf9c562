package graft.table

import graft.manifest.Manifests
import graft.meta.Snapshot
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Dataset, SparkSession}

/**
 * Distributed reachability for the maintenance operations
 * ([[Table.removeOrphanFiles]], [[Table.expireSnapshots]],
 * [[Table.rewriteManifests]]) — the same executor-side manifest-reading
 * shape as `TableScan.planFilesDistributed`, applied to the snapshot
 * graph: driver IO stays O(snapshots) tiny manifest-LIST reads, the
 * O(manifests) entry scan fans out as a Spark job, and the referenced-path
 * set never materializes in driver memory (membership tests become joins).
 * At 10⁷ live files the driver-side variant holds a multi-GB Set and
 * serializes manifest IO on driver threads; this one holds nothing.
 */
private[graft] object Reachability {

  /** Distinct manifest paths across `snaps`' manifest lists. One small
    * Avro read per snapshot, driver-parallel — this is the cheap level of
    * the graph (O(history) files of a few KB), and its size decides
    * whether the expensive level should fan out as a Spark job. */
  def manifestInventory(fs: FileSystem, snaps: Seq[Snapshot]): Seq[String] = {
    import scala.collection.parallel.CollectionConverters._
    snaps.par.flatMap(s =>
      Manifests.readManifestList(fs, new Path(s.manifestList)).map(_.manifestPath))
      .seq.distinct
  }

  /** Every path `snaps` reference — manifest lists, manifests, and content
    * files (data parquet, delete parquet, DV puffin) — as a
    * `Dataset[String]` of raw manifest-recorded forms. `manifests` is the
    * precomputed [[manifestInventory]]; their entries are read INSIDE the
    * returned Dataset's tasks. `liveOnly` restricts content files to live
    * entries (what a reader of those snapshots can reach); manifest lists
    * and manifests themselves are always included. */
  def referenced(spark: SparkSession, conf: Configuration, snaps: Seq[Snapshot],
                 manifests: Seq[String], liveOnly: Boolean): Dataset[String] = {
    import spark.implicits._
    val confBc = TableScan.taskConf(spark, conf)
    val contentRefs: Dataset[String] =
      if (manifests.isEmpty) spark.emptyDataset[String]
      else {
        val slices = math.max(1, math.min(manifests.size,
          spark.sparkContext.defaultParallelism * 4))
        spark.createDataset(spark.sparkContext.parallelize(manifests, slices)
          .flatMap { mp =>
            val p = new Path(mp)
            val f = p.getFileSystem(confBc.value.value)
            val entries = Manifests.readManifest(f, p)
            (if (liveOnly) entries.filter(_.isLive) else entries)
              .map(_.dataFile.filePath)
          })
      }
    val metaRefs = spark.createDataset(
      (manifests ++ snaps.map(_.manifestList)).distinct)
    contentRefs.union(metaRefs)
  }
}
