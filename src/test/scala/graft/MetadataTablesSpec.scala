package graft

import graft.catalog.MemoryCatalog
import graft.types.{ILong, IString, NestedField, Schema}
import org.scalatest.funsuite.AnyFunSuite

/** SQL-queryable metadata tables (snapshots/history/manifests/files/refs). */
class MetadataTablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("metadata DataFrames reflect commits and are SQL-joinable") {
    import spark.implicits._
    val cat = new MemoryCatalog()
    val schema = Schema(0, Seq(
      NestedField(1, "id", ILong, required = false),
      NestedField(2, "v", IString, required = false)))
    val tbl = cat.createTable("meta_t", schema)
    tbl.append(Seq(1L -> "a", 2L -> "b").toDF("id", "v"))
    tbl.append(Seq(3L -> "c").toDF("id", "v"))

    val snaps = tbl.snapshotsDF(spark)
    assert(snaps.count() == 2)
    assert(snaps.select("operation").distinct().collect().map(_.getString(0)).toSeq
      == Seq("append"))
    // sequence numbers 1, 2; parent chain intact
    assert(snaps.select("sequence_number").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L))

    val hist = tbl.historyDF(spark)
    assert(hist.count() == 2)
    assert(hist.where("is_current_ancestor").count() == 2)

    val mans = tbl.manifestsDF(spark)
    assert(mans.count() == 2) // fast append: one manifest per commit
    assert(mans.where("content = 0").count() == 2)

    val files = tbl.filesDF(spark)
    assert(files.count() >= 2) // at least one data file per append
    assert(files.agg(org.apache.spark.sql.functions.sum("record_count"))
      .collect().head.getLong(0) == 3L)

    val refs = tbl.refsDF(spark)
    assert(refs.collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("main", "branch")))
    assert(refs.collect().head.getLong(2) == tbl.currentSnapshotId.get)

    // SQL-joinable: data count per file via metadata
    tbl.filesDF(spark).createOrReplaceTempView("meta_files")
    val n = spark.sql("SELECT CAST(SUM(record_count) AS BIGINT) FROM meta_files")
      .collect().head.getLong(0)
    assert(n == 3L)
  }

  test("entries/all_manifests/all_files/metadata_log see tombstones and history") {
    import spark.implicits._
    val cat = new MemoryCatalog()
    val schema = Schema(0, Seq(
      NestedField(1, "id", ILong, required = false),
      NestedField(2, "v", IString, required = false)))
    val tbl = cat.createTable("meta_all", schema)
    tbl.append(Seq(1L -> "a", 2L -> "b").toDF("id", "v"))
    tbl.append(Seq(3L -> "c").toDF("id", "v"))
    val beforeCompact = tbl.allFilesDF(spark).count()
    tbl.compact(spark, smallFileBytes = 1L << 30, minInputFiles = 2)

    // entries: the compaction snapshot's single manifest carries the
    // rewritten file as an ADD (inputs drop with their manifests)
    val entries = tbl.entriesDF(spark)
    assert(entries.where("status = 1").count() == 1)
    assert(entries.where("status = 1").head().getLong(6) == 3L)

    // tombstones surface where the writer produces them: a v3 DV merge
    // supersedes the old DV with an explicit status=2 entry
    val v3 = cat.createTable("meta_v3", schema, properties = Map(
      "format-version" -> "3", "write.delete.mode" -> "merge-on-read"))
    v3.append(Seq(1L -> "a", 2L -> "b", 3L -> "c").toDF("id", "v").coalesce(1))
    v3.delete(spark, Seq(graft.table.EqPred("id", 1L)))
    v3.delete(spark, Seq(graft.table.EqPred("id", 2L)))
    val v3e = v3.entriesDF(spark)
    assert(v3e.where("status = 2 AND content = 1").count() == 1) // superseded DV
    assert(v3e.where("status != 2 AND content = 1").count() == 1) // merged DV

    // all_manifests: every snapshot contributes rows keyed by its id
    val am = tbl.allManifestsDF(spark)
    assert(am.select("reference_snapshot_id").distinct().count() == 3)

    // all_files: union over history ⊇ live files; pre-compaction inputs survive
    val af = tbl.allFilesDF(spark)
    assert(af.count() > tbl.filesDF(spark).count())
    assert(af.count() >= beforeCompact)
    assert(af.select("file_path").distinct().count() == af.count())
    // filtered family views
    assert(af.where("content = 0").count() == af.count())

    // memory catalog keeps no metadata files → empty lineage, stable schema
    val ml = tbl.metadataLogEntriesDF(spark)
    assert(ml.columns.toSeq == Seq("timestamp", "file") && ml.count() == 0)
  }

  test("metadata_log_entries tracks supersession on a file-backed catalog") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-mlog").toString
    val cat = new graft.catalog.HadoopCatalog(dir)
    val schema = Schema(0, Seq(NestedField(1, "id", ILong, required = false)))
    val tbl = cat.createTable("t", schema)
    tbl.append(Seq(1L).toDF("id"))
    tbl.append(Seq(2L).toDF("id"))
    val ml = tbl.refresh().metadataLogEntriesDF(spark)
      .orderBy("timestamp").collect()
    assert(ml.length == 2) // create + first append superseded
    assert(ml.map(_.getString(1)).forall(_.contains("metadata")))
  }

  test("SQL resolves the extended metadata-table family") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-metasql").toString
    spark.conf.set("spark.sql.catalog.metax", "graft.spark.GraftSparkCatalog")
    spark.conf.set("spark.sql.catalog.metax.warehouse", wh)
    try {
      spark.sql("CREATE TABLE metax.default.mt (id BIGINT, v STRING) USING graft")
      spark.sql("INSERT INTO metax.default.mt VALUES (1, 'a'), (2, 'b')")
      spark.sql("INSERT INTO metax.default.mt VALUES (3, 'c')")
      assert(spark.sql("SELECT * FROM metax.default.mt.entries WHERE status = 1").count() >= 2)
      assert(spark.sql("SELECT * FROM metax.default.mt.all_manifests").count() >= 2)
      assert(spark.sql("SELECT * FROM metax.default.mt.all_files").count() ==
        spark.sql("SELECT * FROM metax.default.mt.all_data_files").count())
      assert(spark.sql("SELECT * FROM metax.default.mt.all_delete_files").count() == 0)
      assert(spark.sql("SELECT * FROM metax.default.mt.data_files").count() ==
        spark.sql("SELECT * FROM metax.default.mt.files").count())
      assert(spark.sql("SELECT * FROM metax.default.mt.delete_files").count() == 0)
      assert(spark.sql("SELECT * FROM metax.default.mt.metadata_log_entries").count() >= 2)
    } finally {
      spark.sql("DROP TABLE IF EXISTS metax.default.mt")
      spark.conf.unset("spark.sql.catalog.metax")
      spark.conf.unset("spark.sql.catalog.metax.warehouse")
    }
  }

  test("partitions metadata table rolls up live files per partition tuple") {
    import spark.implicits._
    val cat = new MemoryCatalog()
    val schema = Schema(0, Seq(
      NestedField(1, "id", ILong, required = false),
      NestedField(2, "k", IString, required = false)))
    val spec = graft.meta.PartitionSpec(0,
      Seq(graft.meta.PartitionField(2, 1000, "k", "identity")))
    val tbl = cat.createTable("part_meta", schema, partitionSpec = spec)
    tbl.append(Seq(1L -> "a", 2L -> "a", 3L -> "b").toDF("id", "k"))
    tbl.append(Seq(4L -> "b").toDF("id", "k"))

    val parts = tbl.partitionsDF(spark).collect()
      .map(r => r.getMap[String, String](0)("k") ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(parts("a") == (1L, 2L)) // 1 file, 2 records
    assert(parts("b") == (2L, 2L)) // one file per append
    // rolls up the LIVE view: a delete shrinks the partition
    tbl.delete(spark, Seq(graft.table.EqPred("k", "a")))
    assert(!tbl.partitionsDF(spark).collect()
      .exists(_.getMap[String, String](0).get("k").contains("a")))
  }

  test("a metadata-table query builds its frame once") {
    import spark.implicits._
    // every frame build refreshes the table through its catalog
    val refreshes = new java.util.concurrent.atomic.AtomicInteger()
    val cat = new ForwardingCatalog(new MemoryCatalog(name = "metaonce")) {
      private[graft] override def currentMetadata(ident: graft.catalog.TableIdent): graft.meta.TableMetadata = {
        refreshes.incrementAndGet()
        super.currentMetadata(ident)
      }
    }
    graft.spark.GraftSparkCatalog.register(spark, "metaonce", cat)
    val tbl = cat.createTable("default.t", Schema(0, Seq(
      NestedField(1, "id", ILong, required = false),
      NestedField(2, "v", IString, required = false))))
    tbl.append(Seq(1L -> "a", 2L -> "b").toDF("id", "v"))
    for (query <- Seq("SELECT * FROM metaonce.default.t.files",
                      "SELECT count(*) FROM metaonce.default.t.files",
                      "SELECT * FROM metaonce.default.t.snapshots")) {
      refreshes.set(0)
      assert(spark.sql(query).collect().nonEmpty)
      assert(refreshes.get == 1, s"$query built its frame ${refreshes.get} times")
    }
  }
}
