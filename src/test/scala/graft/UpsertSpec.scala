package graft

import graft.catalog.MemoryCatalog
import graft.streaming.StreamingOps
import graft.types._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Equality-delete upsert (`Table.upsert` + `StreamingOps.upsertStream`):
  * one commit of (equality deletes on keys + new data files) replaces
  * prior key versions without reading or rewriting any existing data. */
class UpsertSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private object PlanRows extends AdaptiveSparkPlanHelper

  private val schema = Schema(0, Seq(
    NestedField(1, "id", ILong, required = false),
    NestedField(2, "v", IString, required = false)))

  private def contents(tbl: graft.table.Table): Map[Long, String] =
    tbl.toDF(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("upsert replaces matched keys, inserts new, leaves data files untouched") {
    import spark.implicits._
    val cat = new MemoryCatalog()
    val tbl = cat.createTable("u1", schema)
    tbl.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    val before = tbl.scan().planFiles().map(_.filePath).toSet

    tbl.upsert(spark, Seq((2L, "B2"), (4L, "d")).toDF("id", "v"), Seq("id"))

    assert(contents(tbl) == Map(1L -> "a", 2L -> "B2", 3L -> "c", 4L -> "d"))
    // original data files all survive; only delete + new data files added
    assert(before.subsetOf(tbl.scan().planFiles().map(_.filePath).toSet))
    val snap = tbl.currentSnapshot.get
    assert(snap.summary("added-equality-deletes") == "2")
    assert(snap.summary("added-records") == "2")

    // chained upserts: later sequence wins over earlier
    tbl.upsert(spark, Seq((2L, "B3"), (1L, "A2")).toDF("id", "v"), Seq("id"))
    assert(contents(tbl) == Map(1L -> "A2", 2L -> "B3", 3L -> "c", 4L -> "d"))
    // same-commit data is NOT hidden by the same commit's deletes
    assert(tbl.toDF(spark).count() == 4)
  }

  test("an upsert's keys reach the read's delete side once, however many files they cover") {
    import spark.implicits._
    val cat = new MemoryCatalog()
    val tbl = cat.createTable("u_wide", schema)
    tbl.append(spark.range(0, 600, 1, 6).selectExpr("id", "cast(id AS string) AS v"))
    assert(tbl.scan().planFiles().size == 6)
    tbl.upsert(spark, (0L until 600L by 6).map(i => (i, s"new$i")).toDF("id", "v"), Seq("id"))
    assert(tbl.scan().planFiles().count(_.deleteFiles.nonEmpty) == 6)
    val df = tbl.toDF(spark)
    val rows = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == (0L until 600L).map(i => i -> (if (i % 6 == 0) s"new$i" else i.toString)).toMap)
    // the anti-join's delete side holds the 100 keys once, not once per
    // data file they apply to
    val broadcastRows = PlanRows.collect(df.queryExecution.executedPlan) {
      case b: BroadcastExchangeExec => b.metrics("numOutputRows").value
    }
    assert(broadcastRows == Seq(100L))
  }

  test("a renamed key column still hides the rows its upserts replaced") {
    import spark.implicits._
    val cat = new MemoryCatalog()
    val tbl = cat.createTable("u_rename", schema)
    tbl.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    tbl.upsert(spark, Seq((2L, "B")).toDF("id", "v"), Seq("id"))
    val upsertSnap = tbl.currentSnapshot.get.snapshotId
    tbl.updateSchema().renameColumn("id", "key").commit()
    assert(tbl.toDF(spark).columns.toSeq == Seq("key", "v"))
    assert(contents(tbl) == Map(1L -> "a", 2L -> "B", 3L -> "c"))
    assert(tbl.toDF(spark).count() == 3)
    // keys written under both names apply together
    tbl.upsert(spark, Seq((3L, "C")).toDF("key", "v"), Seq("key"))
    assert(contents(tbl) == Map(1L -> "a", 2L -> "B", 3L -> "C"))
    assert(tbl.toDF(spark).count() == 3)
    // the changelog of the pre-rename upsert reads its keys too
    val first = tbl.snapshotById(upsertSnap).get.parentSnapshotId
    val changes = StreamingOps.changesBetween(spark, tbl, first, Some(upsertSnap))
      .select("key", "v", "_change_type").as[(Long, String, String)].collect().toSet
    assert(changes == Set((2L, "b", "delete"), (2L, "B", "insert")))
  }

  test("upsert validation: duplicate batch keys, unknown key, empty batch no-op") {
    import spark.implicits._
    val cat = new MemoryCatalog()
    val tbl = cat.createTable("u2", schema)
    tbl.append(Seq((1L, "a")).toDF("id", "v"))
    assertThrows[InvalidDataError](
      tbl.upsert(spark, Seq((1L, "x"), (1L, "y")).toDF("id", "v"), Seq("id")))
    assertThrows[InvalidDataError](
      tbl.upsert(spark, Seq((1L, "x")).toDF("id", "v"), Seq("zzz")))
    val snaps = tbl.snapshots.size
    tbl.upsert(spark, Seq.empty[(Long, String)].toDF("id", "v"), Seq("id"))
    assert(tbl.snapshots.size == snaps)
  }

  test("upsert rejects NULL keys with a clear message (not 'duplicate keys')") {
    import spark.implicits._
    val cat = new MemoryCatalog()
    val tbl = cat.createTable("u_null", schema)
    tbl.append(Seq((1L, "a")).toDF("id", "v"))
    // one null key, and two null keys (previously mis-reported as dups)
    for (batch <- Seq(Seq(Some(2L) -> "b", None -> "x"),
                      Seq[(Option[Long], String)](None -> "x", None -> "y"))) {
      val e = intercept[InvalidDataError](
        tbl.upsert(spark, batch.toDF("id", "v"), Seq("id")))
      assert(e.getMessage.contains("NULL"))
    }
    assert(contents(tbl) == Map(1L -> "a"))
  }

  test("upsert CAS retry after a concurrent schema evolution keeps the write era") {
    import spark.implicits._
    import graft.manifest.Manifests
    import org.apache.hadoop.fs.Path
    val cat = new MemoryCatalog()
    val handleA = cat.createTable("u_race", schema)
    handleA.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val writeEraSchemaId = handleA.metadata.currentSchemaId

    // a second writer wins a schema evolution while handleA holds stale
    // metadata: handleA's first CAS attempt conflicts, the retry commits
    // against the evolved base
    val handleB = cat.loadTable("u_race")
    handleB.updateSchema().renameColumn("v", "val").commit()
    assert(handleA.metadata.currentSchemaId == writeEraSchemaId) // stale on purpose

    handleA.upsert(spark, Seq((2L, "B2"), (3L, "c")).toDF("id", "v"), Seq("id"))

    // the upsert's manifests are stamped with the era its files were
    // WRITTEN under, not the winner's evolved schema
    val fs = new Path(handleA.location).getFileSystem(handleA.hadoopConf)
    val mfs = Manifests.readManifestList(
      fs, new Path(handleA.currentSnapshot.get.manifestList))
    val upsertManifests = mfs.filter(_.addedSnapshotId == handleA.currentSnapshotId.get)
    assert(upsertManifests.nonEmpty)
    assert(upsertManifests.forall(_.schemaId == writeEraSchemaId))
    // and the table reads correctly under the evolved (renamed) schema
    assert(handleA.toDF(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "a", 2L -> "B2", 3L -> "c"))
    assert(handleA.toDF(spark).columns.toSeq == Seq("id", "val"))
  }

  test("applyPendingDeletes folds equality-delete debt; answers unchanged") {
    import spark.implicits._
    val cat = new MemoryCatalog()
    val tbl = cat.createTable("u3", schema)
    tbl.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    tbl.upsert(spark, Seq((1L, "A")).toDF("id", "v"), Seq("id"))
    assert(tbl.scan().planFiles().exists(_.deleteFiles.nonEmpty))

    tbl.applyPendingDeletes(spark)

    assert(tbl.scan().planFiles().forall(_.deleteFiles.isEmpty))
    assert(contents(tbl) == Map(1L -> "A", 2L -> "b"))
  }

  test("upsertStream: micro-batches commit atomically, last batch wins, replays dedup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cat = new MemoryCatalog()
    val tbl = cat.createTable("u4", schema)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-upsert-ckpt").toString
    val mem = MemoryStream[(Long, String)]

    mem.addData((1L, "a"), (2L, "b"))
    val q1 = StreamingOps.upsertStream(mem.toDF().toDF("id", "v"), tbl, Seq("id"), ckpt)
    q1.processAllAvailable(); q1.stop()
    assert(contents(tbl) == Map(1L -> "a", 2L -> "b"))

    mem.addData((2L, "B"), (3L, "c"))
    val q2 = StreamingOps.upsertStream(mem.toDF().toDF("id", "v"), tbl, Seq("id"), ckpt)
    q2.processAllAvailable(); q2.stop()
    assert(contents(tbl) == Map(1L -> "a", 2L -> "B", 3L -> "c"))
    val batchIds = tbl.snapshots.flatMap(_.summary.get("streaming-batch-id"))
    assert(batchIds.distinct.size == batchIds.size) // no replayed commits
    assert(tbl.snapshots.forall(s =>
      s.summary.get("operation").forall(o => o == "overwrite" || o == "append")))
  }
}
