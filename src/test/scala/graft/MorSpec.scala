package graft

import graft.catalog.MemoryCatalog
import graft.manifest.{DataFile, ManifestEntry, ManifestFile, Manifests}
import graft.meta.{PartitionField, PartitionSpec, Snapshot, SnapshotLogEntry, SnapshotRef}
import graft.table.{PositionDeleteRef, Table}
import graft.types.{ILong, IString, NestedField, Schema}
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** Merge-on-read delete-file application (§2.2: the reference reads, never
  * writes, delete files — same here; tests commit hand-built delete
  * manifests through the catalog CAS):
  *  - two equality-delete files keyed on DIFFERENT column sets each
  *    anti-join on their own key;
  *  - spec sequence scoping: an equality delete applies only to data files
  *    with strictly smaller sequence number, so re-inserted rows survive;
  *  - position deletes remove (file, row ordinal) pairs. */
class MorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = Schema(0, Seq(
    NestedField(1, "id", ILong, required = false),
    NestedField(2, "name", IString, required = false)))

  /** Commit a delete-manifest snapshot through the catalog's CAS. */
  private def commitDeletes(cat: MemoryCatalog, tbl: Table,
                            files: Seq[DataFile]): Unit = {
    val meta = tbl.refresh().metadata
    val fs = new Path(meta.location).getFileSystem(tbl.hadoopConf)
    val seq = meta.lastSequenceNumber + 1
    val snapId = math.abs(java.util.UUID.randomUUID().getLeastSignificantBits)
    val mPath = new Path(meta.location, s"metadata/del-$snapId-m0.avro")
    val mLen = Manifests.writeManifest(fs, mPath,
      files.map(f => ManifestEntry(ManifestEntry.StatusAdded, snapId, seq, f)),
      meta.currentSchema, meta.defaultPartitionSpec)
    val mf = ManifestFile(mPath.toString, mLen, partitionSpecId = 0,
      addedSnapshotId = snapId, addedFilesCount = files.size,
      addedRowsCount = files.map(_.recordCount).sum,
      schemaId = meta.currentSchemaId, content = 1,
      sequenceNumber = seq, minSequenceNumber = seq)
    val parents = meta.currentSnapshot
      .map(s => Manifests.readManifestList(fs, new Path(s.manifestList)))
      .getOrElse(Nil)
    val listPath = new Path(meta.location, s"metadata/snap-$snapId-del.avro")
    Manifests.writeManifestList(fs, listPath, parents :+ mf)
    val now = System.currentTimeMillis()
    val snap = Snapshot(snapId, meta.currentSnapshotId, seq, now,
      listPath.toString, Map("operation" -> "delete"), Some(meta.currentSchemaId))
    val updated = meta.copy(
      lastSequenceNumber = seq, lastUpdatedMs = now,
      currentSnapshotId = Some(snapId), snapshots = meta.snapshots :+ snap,
      snapshotLog = meta.snapshotLog :+ SnapshotLogEntry(now, snapId),
      refs = meta.refs.updated("main", SnapshotRef(snapId, "branch")))
    cat.commitTable(tbl.ident, meta, updated)
    tbl.refresh()
  }

  private def writeDeleteParquet(tbl: Table, name: String,
                                 df: org.apache.spark.sql.DataFrame,
                                 content: Int, eqIds: Seq[Int]): DataFile = {
    val dir = new Path(tbl.location, s"data/deletes-$name")
    df.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val fs = dir.getFileSystem(tbl.hadoopConf)
    val f = fs.listStatus(dir).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    DataFile(f.toString, "PARQUET", Map.empty,
      recordCount = df.count(), fileSizeInBytes = fs.getFileStatus(f).getLen,
      content = content, equalityIds = eqIds)
  }

  test("equality deletes: per-key-set grouping + sequence scoping") {
    import spark.implicits._
    val cat = new MemoryCatalog()
    val tbl = cat.createTable("mor_eq", schema)
    tbl.append(Seq(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d", 5L -> "e")
      .toDF("id", "name")) // seq 1
    tbl.append(Seq(6L -> "f", 7L -> "g", 8L -> "h").toDF("id", "name")) // seq 2

    // two delete files with DIFFERENT equality-id sets in one commit (seq 3):
    //  - by id: delete ids 2 and 6
    //  - by name: delete name "d" (id 4)
    val delById = writeDeleteParquet(tbl, "by-id",
      Seq(2L, 6L).toDF("id"), content = 2, eqIds = Seq(1))
    val delByName = writeDeleteParquet(tbl, "by-name",
      Seq("d").toDF("name"), content = 2, eqIds = Seq(2))
    commitDeletes(cat, tbl, Seq(delById, delByName))

    assert(tbl.toDF(spark).select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 3L, 5L, 7L, 8L))

    // re-insert id 2 at seq 4: the seq-3 delete must NOT hit it
    tbl.append(Seq(2L -> "b2").toDF("id", "name"))
    assert(tbl.toDF(spark).select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L, 5L, 7L, 8L))
    assert(tbl.toDF(spark).where("id = 2").select("name").collect()
      .map(_.getString(0)).toSeq == Seq("b2"))
  }

  test("equality deletes treat NULL as a matching value (null-safe anti-join)") {
    import spark.implicits._
    val cat = new MemoryCatalog()
    val tbl = cat.createTable("mor_eq_null", schema)
    tbl.append(Seq(Some(1L) -> "a", None -> "nullkey", Some(3L) -> "c")
      .toDF("id", "name")) // seq 1

    // a spec-correct foreign writer may record a NULL key in an equality
    // delete — Iceberg semantics: it hides null-key data rows (SQL
    // equality would match nothing)
    val delNull = writeDeleteParquet(tbl, "by-null",
      Seq[Option[Long]](None, Some(3L)).toDF("id"), content = 2, eqIds = Seq(1))
    commitDeletes(cat, tbl, Seq(delNull))

    assert(tbl.toDF(spark).select("name").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("a"))
  }

  test("position deletes remove (file, ordinal) rows, manifest-form paths") {
    import spark.implicits._
    val cat = new MemoryCatalog()
    val tbl = cat.createTable("mor_pos", schema)
    // single input partition → one data file, row order = insert order
    tbl.append(Seq(10L -> "x", 11L -> "y", 12L -> "z")
      .toDF("id", "name").coalesce(1)) // seq 1

    // reference the file the way a spec-correct delete writer would: by the
    // path recorded in the MANIFEST ("file:/x"), not Spark's rendered
    // "_metadata.file_path" ("file:///x") — the scan must normalize
    val files = tbl.scan().planFiles()
    assert(files.size == 1)
    val manifestPath = files.head.filePath
    assert(manifestPath.startsWith("file:/") && !manifestPath.startsWith("file:///"))
    val posDel = writeDeleteParquet(tbl, "pos",
      Seq((manifestPath, 1L)).toDF("file_path", "pos"), // ordinal 1 = id 11
      content = 1, eqIds = Nil)
    commitDeletes(cat, tbl, Seq(posDel))

    assert(tbl.toDF(spark).select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(10L, 12L))
  }

  test("position delete scoping: a path live again at a later sequence keeps its rows") {
    import spark.implicits._
    val cat = new MemoryCatalog()
    val tbl = cat.createTable("mor_pos_readd", schema)
    tbl.append(Seq(10L -> "x", 11L -> "y", 12L -> "z")
      .toDF("id", "name").coalesce(1)) // seq 1: file F
    tbl.append(Seq(20L -> "u", 21L -> "v", 22L -> "w")
      .toDF("id", "name").coalesce(1)) // seq 2: file G
    def ids() = tbl.toDF(spark).select("id").collect().map(_.getLong(0)).sorted.toSeq
    val byFirstId = tbl.scan().planFiles().map(t =>
      spark.read.parquet(t.filePath).select("id").collect().map(_.getLong(0)).min -> t.filePath).toMap
    val (f, g) = (byFirstId(10L), byFirstId(20L))

    // one position delete file naming rows of both F and G (seq 3)
    val posDel = writeDeleteParquet(tbl, "pos-fg",
      Seq((f, 1L), (g, 0L)).toDF("file_path", "pos"), content = 1, eqIds = Nil)
    commitDeletes(cat, tbl, Seq(posDel))
    assert(ids() == Seq(10L, 12L, 21L, 22L))

    // F leaves the table (seq 4) and its path is added back (seq 5): the
    // seq-3 delete is older than F's new entry, so it no longer applies to
    // F, while it still hides G's row
    tbl.deleteWhere(spark, "id >= 10 AND id <= 12")
    assert(ids() == Seq(21L, 22L))
    tbl.addFiles(spark, Seq(f))
    assert(tbl.scan().planFiles().exists(t => t.filePath.endsWith(new Path(f).getName) &&
      t.deleteFiles.isEmpty))
    assert(ids() == Seq(10L, 11L, 12L, 21L, 22L))
  }

  test("equality delete with a partition tuple leaves other partitions' keys alone") {
    import spark.implicits._
    val cat = new MemoryCatalog()
    val pschema = Schema(0, Seq(
      NestedField(1, "id", ILong, required = false),
      NestedField(2, "p", IString, required = false)))
    val tbl = cat.createTable("mor_eq_part", pschema,
      partitionSpec = PartitionSpec(0, Seq(PartitionField(2, 1000, "p", "identity"))))
    tbl.append(Seq(1L -> "a", 2L -> "a", 1L -> "b", 2L -> "b").toDF("id", "p")) // seq 1
    val aPartition = tbl.scan().planFiles().map(_.file.partition)
      .find(_.values.toSeq == Seq("a")).get
    // delete id 1 within partition p=a only (seq 2)
    val del = writeDeleteParquet(tbl, "eq-a", Seq(1L).toDF("id"), content = 2, eqIds = Seq(1))
      .copy(partition = aPartition)
    commitDeletes(cat, tbl, Seq(del))
    assert(tbl.toDF(spark).as[(Long, String)].collect().toSet ==
      Set(2L -> "a", 1L -> "b", 2L -> "b"))
  }

  test("a filter on the file column keeps exactly that file's live rows") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    object PlanNodes extends AdaptiveSparkPlanHelper
    val cat = new MemoryCatalog()
    val tbl = cat.createTable("mor_file_filter", schema,
      properties = Map("write.delete.mode" -> "merge-on-read"))
    (0 until 3).foreach(a => tbl.append(((a * 10L) until (a * 10L + 10L))
      .map(i => (i, s"n$i")).toDF("id", "name").coalesce(1)))
    tbl.deleteWhere(spark, "id % 3 = 0")
    assert(tbl.refresh().scan().planFiles().forall(_.deleteFiles.nonEmpty))

    // native: the index prunes on its per-file path column
    val tasks = tbl.scan().planFiles()
    val all = tbl.scan().materializeTasks(spark, tasks, withPositions = true)
      .select("id", "__file").as[(Long, String)].collect().toSeq
    assert(all.map(_._1).sorted == (0L until 30L).filterNot(_ % 3 == 0))
    val f = tasks.map(_.filePath).sorted.apply(1)
    val one = tbl.scan().materializeTasks(spark, tasks, withPositions = true)
      .where(col("__file") === f).select("id", "__file")
    assert(one.as[(Long, String)].collect().toSet == all.filter(_._2 == f).toSet)
    // the data scan reads only f's ten rows
    one.collect()
    val rowsRead = PlanNodes.collect(one.queryExecution.executedPlan) {
      case s: FileSourceScanExec if s.relation.partitionSchema.fieldNames.contains("__file") =>
        s.metrics("numOutputRows").value
    }
    assert(rowsRead == Seq(10L))
    val others = tbl.scan().materializeTasks(spark, tasks, withPositions = true)
      .where(col("__file") =!= f && col("id") > 5)
    assert(others.select("id", "__file").as[(Long, String)].collect().toSet ==
      all.filter { case (id, p) => p != f && id > 5 }.toSet)

    // through Spark SQL's `_file` metadata column
    graft.spark.GraftSparkCatalog.register(spark, "morfile", cat)
    val sqlAll = spark.sql("SELECT id, _file FROM morfile.default.mor_file_filter")
      .as[(Long, String)].collect().toSeq
    assert(sqlAll.map(_._1).sorted == all.map(_._1).sorted)
    val sqlOne = spark.sql(
      s"SELECT id, _file FROM morfile.default.mor_file_filter WHERE _file = '$f'")
      .as[(Long, String)].collect().toSet
    assert(sqlOne.nonEmpty && sqlOne == sqlAll.filter(_._2 == f).toSet)
  }

  // ------------------------------------------- position deletes in the scan's tasks

  private def withSqlConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Scan tasks of `df`'s data-file reads (those carrying `__file`). */
  private def scanTasks(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    object PlanNodes extends AdaptiveSparkPlanHelper
    PlanNodes.collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec if s.relation.partitionSchema.fieldNames.contains("__file") =>
        s.inputRDDs().map(_.getNumPartitions).sum
    }.sum
  }

  /** Ids of `tbl`'s files by (manifest path, file-global row index), read
    * one task per file. */
  private def idsByPosition(tbl: Table): Map[(String, Long), Long] = {
    import spark.implicits._
    tbl.scan().materializeTasks(spark, tbl.scan().planFiles(), withPositions = true)
      .select("__file", "__pos", "id").as[(String, Long, Long)].collect()
      .map { case (f, p, id) => (f, p) -> id }.toMap
  }

  test("position deletes in a later row group of a file split over several tasks") {
    import spark.implicits._
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.setLong("parquet.block.size", 1024)
    val cat = new MemoryCatalog(hadoopConf = conf)
    val tbl = cat.createTable("mor_split", schema)
    tbl.append(spark.range(0, 6000, 1, 1).selectExpr("id", "cast(id AS string) AS name"))
    val path = tbl.scan().planFiles().map(_.filePath) match { case Seq(p) => p }
    val reader = graft.table.ParquetFiles.open(conf, new Path(path))
    val rowGroups = try reader.getRowGroups.size finally reader.close()
    assert(rowGroups > 4, "the file needs several row groups")
    val ids = idsByPosition(tbl)
    val deleted = Seq(5999L, 5993L, 5500L, 4000L)
    commitDeletes(cat, tbl, Seq(writeDeleteParquet(tbl, "split",
      deleted.map(p => (path, p)).toDF("file_path", "pos"), content = 1, eqIds = Nil)))
    withSqlConf("spark.sql.files.maxPartitionBytes" -> "4096",
        "spark.sql.files.openCostInBytes" -> "0") {
      val df = tbl.toDF(spark)
      val got = df.select("id").as[Long].collect().sorted.toSeq
      assert(scanTasks(df) > 2, "the file must be read by several tasks")
      assert(got == (ids -- deleted.map(path -> _)).values.toSeq.sorted)
    }
  }

  test("one position delete file over data files read by different tasks") {
    import spark.implicits._
    val cat = new MemoryCatalog()
    val tbl = cat.createTable("mor_shared_delete", schema)
    (0 until 4).foreach(a => tbl.append(((a * 100L) until (a * 100L + 100L))
      .map(i => (i, s"n$i")).toDF("id", "name").coalesce(1)))
    val ids = idsByPosition(tbl)
    val paths = ids.keys.map(_._1).toSeq.distinct.sorted
    assert(paths.size == 4)
    // rows of three of the four files, in one delete file
    val deleted = paths.take(3).flatMap(p => Seq(p -> 0L, p -> 42L, p -> 99L))
    commitDeletes(cat, tbl, Seq(writeDeleteParquet(tbl, "shared",
      deleted.toDF("file_path", "pos"), content = 1, eqIds = Nil)))
    assert(tbl.scan().planFiles().flatMap(_.deleteFiles).map(_.filePath).distinct.size == 1)
    withSqlConf("spark.sql.files.maxPartitionBytes" -> "1024",
        "spark.sql.files.openCostInBytes" -> "0") {
      val df = tbl.toDF(spark)
      val got = df.select("id").as[Long].collect().sorted.toSeq
      assert(scanTasks(df) >= 4, "each file must be read by its own task")
      assert(got == (ids -- deleted).values.toSeq.sorted)
    }
  }

  test("position delete rows naming file:///x apply to the manifest's file:/x") {
    import spark.implicits._
    val cat = new MemoryCatalog()
    val tbl = cat.createTable("mor_slashes", schema)
    tbl.append(Seq(10L -> "x", 11L -> "y", 12L -> "z").toDF("id", "name").coalesce(1))
    tbl.append(Seq(20L -> "u", 21L -> "v").toDF("id", "name").coalesce(1))
    val ids = idsByPosition(tbl)
    val byId = ids.map(_.swap)
    val manifestPaths = ids.keys.map(_._1).toSet
    assert(manifestPaths.forall(p => p.startsWith("file:/") && !p.startsWith("file:///")))
    def uri(p: String): String = "file:///" + p.stripPrefix("file:").dropWhile(_ == '/')
    val deleted = Seq(11L, 20L).map(byId)
    commitDeletes(cat, tbl, Seq(writeDeleteParquet(tbl, "slashes",
      deleted.map { case (f, p) => (uri(f), p) }.toDF("file_path", "pos"), content = 1, eqIds = Nil)))
    assert(tbl.toDF(spark).select("id").as[Long].collect().sorted.toSeq == Seq(10L, 12L, 21L))
  }

  test("merge-on-read UPDATE and DELETE after earlier deletes keep deleted rows hidden") {
    import spark.implicits._
    for (version <- Seq(2, 3)) withClue(s"format v$version: ") {
      val cat = new MemoryCatalog()
      val tbl = cat.createTable(s"mor_dml_after_$version", schema, properties = Map(
        "format-version" -> version.toString,
        "write.delete.mode" -> "merge-on-read", "write.update.mode" -> "merge-on-read"))
      (0 until 3).foreach(a => tbl.append(((a * 20L) until (a * 20L + 20L))
        .map(i => (i, s"n$i")).toDF("id", "name").coalesce(1)))
      tbl.deleteWhere(spark, "id % 4 = 0")
      // the update's predicate covers deleted rows: none may come back
      tbl.updateWhere(spark, "id < 30", Map("name" -> "'u'"))
      tbl.deleteWhere(spark, "id % 5 = 0")
      val live = (0L until 60L).filterNot(i => i % 4 == 0 || i % 5 == 0)
      val rows = tbl.refresh().toDF(spark).select("id", "name").as[(Long, String)].collect().sorted.toSeq
      assert(rows == live.map(i => i -> (if (i < 30) "u" else s"n$i")))
      if (version == 3) {
        val withIds = tbl.scan().toDFWithRowIds(spark).select("id", "_row_id").as[(Long, Long)].collect()
        assert(withIds.map(_._1).sorted.toSeq == live)
        assert(withIds.map(_._2).distinct.length == live.size)
      }
    }
  }

  test("PositionDeleteRef.normalize collapses the slashes after file: only") {
    val cases = Seq(
      "file:/x" -> "file:/x",
      "file://x" -> "file:/x",
      "file:///x" -> "file:/x",
      "file:///" -> "file:/",
      "file:x" -> "file:x",
      "s3://b/x" -> "s3://b/x",
      "/tmp/x" -> "/tmp/x",
      "x/file:///y" -> "x/file:///y")
    cases.foreach { case (in, out) =>
      assert(PositionDeleteRef.normalize(in) == out, in)
      assert(PositionDeleteRef.normalize(in) == in.replaceFirst("^file:/+", "file:/"), in)
    }
  }
}
