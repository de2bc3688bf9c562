package graft

import graft.catalog.HadoopCatalog
import graft.meta.{PartitionField, PartitionSpec}
import graft.ops.SimilarityOps
import graft.table.AppendUtil
import graft.types.SparkSchemaConverter
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Where does a small-table append's wall time go? (r17 verdict item 4:
  * e62/e63's ~0.9 s per append is "table-format commit overhead" — but
  * WHICH leg?) Splits each append into:
  *   - writeData: the write job (plan + tasks; each task's file stats
  *     come from its writer's footers) — AppendUtil.writeData
  *   - commit: manifest + manifest list + metadata JSON + catalog CAS
  *     (Table.appendFiles)
  * Run: Test/runMain graft.AppendLegProbe [sfDir] [reps]
  * Probes the three e62 tables (centroids 16 rows / codebook 128 rows /
  * entries cell-partitioned) and e63's sq8 codes table. */
object AppendLegProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .appName("append-leg-probe").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions._

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val (centroids, codebook, entries) = SimilarityOps.buildIvfPqIndex(
      emb, "vec_id", "embedding", dim = 64, nlist = 16, m = 8, ksub = 16)
    val sq8 = SimilarityOps.buildSq8Index(
      emb.where("vec_id % 5 != 0"), "vec_id", "embedding")

    def probe(label: String, df: DataFrame,
              partition: Option[String] = None): Unit = {
      // warm the plan once outside timing
      df.write.mode("overwrite").format("noop").save()
      for (r <- 1 to reps) {
        val wh = java.nio.file.Files.createTempDirectory("graft-legprobe").toString
        val cat = new HadoopCatalog(wh)
        val schema = SparkSchemaConverter.fromSpark(df.schema)
        val t0 = System.nanoTime()
        val tbl = partition match {
          case Some(p) => cat.createTable(label, schema,
            partitionSpec = PartitionSpec(0, Seq(PartitionField(
              schema.fieldByName(p).get.id, 1000, p, "identity"))))
          case None => cat.createTable(label, schema)
        }
        val t1 = System.nanoTime()
        val uuid = java.util.UUID.randomUUID().toString
        val files = AppendUtil.writeData(
          AppendUtil.align(df, schema), schema, tbl.defaultPartitionSpec,
          tbl.metadata.defaultSortOrder,
          new Path(tbl.location, s"data/$uuid"),
          spark.sparkContext.hadoopConfiguration)
        val t2 = System.nanoTime()
        tbl.appendFiles(files)
        val t3 = System.nanoTime()
        println(f"[legprobe] $label rep=$r files=${files.size}%3d " +
          f"create=${(t1 - t0) / 1e9}%6.3f write=${(t2 - t1) / 1e9}%6.3f " +
          f"commit=${(t3 - t2) / 1e9}%6.3f total=${(t3 - t0) / 1e9}%6.3f")
      }
    }
    println(s"[legprobe] centroids parts=${centroids.rdd.getNumPartitions} " +
      s"codebook parts=${codebook.rdd.getNumPartitions} " +
      s"entries parts=${entries.rdd.getNumPartitions} " +
      s"sq8 parts=${sq8.rdd.getNumPartitions}")
    probe("centroids_16rows", centroids)
    probe("codebook_128rows", codebook)
    probe("entries_cellpart", entries, partition = Some("cell"))
    probe("sq8_codes", sq8)
    spark.stop()
  }
}
