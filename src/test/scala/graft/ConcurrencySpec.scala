package graft

import graft.catalog.MemoryCatalog
import graft.table.{EqPred, Table}
import graft.types._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** Optimistic-commit behavior under contention: stale table handles must
  * retry through the CAS and re-plan against fresh metadata, never lose
  * or duplicate rows. */
class ConcurrencySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = Schema(0, Seq(
    NestedField(1, "id", ILong, required = false),
    NestedField(2, "k", IString, required = false)))

  test("append from a stale handle retries and preserves the other commit") {
    import spark.implicits._
    val cat = new MemoryCatalog()
    cat.createTable("c1", schema)
    val h1 = cat.loadTable("c1")
    val h2 = cat.loadTable("c1") // both handles start at the same version
    h1.append(Seq((1L, "a")).toDF("id", "k"))
    h2.append(Seq((2L, "b")).toDF("id", "k")) // stale base → conflict → retry
    assert(cat.loadTable("c1").toDF(spark).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("delete from a stale handle sees rows appended concurrently") {
    import spark.implicits._
    val cat = new MemoryCatalog()
    cat.createTable("c2", schema)
    val h1 = cat.loadTable("c2")
    val h2 = cat.loadTable("c2")
    h2.append(Seq((1L, "drop"), (2L, "keep")).toDF("id", "k"))
    // h1 is stale (no snapshot yet from its view): refresh-retry must find
    // and delete the row h2 appended
    h1.delete(spark, Seq(EqPred("k", "drop")))
    assert(cat.loadTable("c2").toDF(spark).select("id").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("parallel appends from two handles lose nothing") {
    import spark.implicits._
    val cat = new MemoryCatalog()
    cat.createTable("c3", schema)
    val threads = (0 until 2).map { t =>
      new Thread(() => {
        val h = cat.loadTable("c3")
        for (i <- 0 until 5)
          h.append(Seq(((t * 100 + i).toLong, s"t$t")).toDF("id", "k"))
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val tbl = cat.loadTable("c3")
    assert(tbl.toDF(spark).count() == 10)
    assert(tbl.snapshots.size == 10)
    // sequence numbers strictly increase 1..10 (serialized through the CAS)
    assert(tbl.snapshots.map(_.sequenceNumber).sorted.toSeq == (1L to 10L))
  }

  test("parallel mixed DML: racing MOR upserts on disjoint keys + appends lose nothing") {
    import spark.implicits._
    val cat = new MemoryCatalog()
    cat.createTable("c6", schema, properties = Map(
      "write.delete.mode" -> "merge-on-read",
      "write.update.mode" -> "merge-on-read",
      "write.merge.mode" -> "merge-on-read"))
    // 3 upsert threads own disjoint key ranges t*100..t*100+4 and write 3
    // generations each (so every later generation equality-deletes its
    // own earlier rows under CAS contention); 1 append thread adds fresh
    // ids 900+. All ops commute, so the final state is deterministic.
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 3).map { t =>
      new Thread(() => {
        try {
          val h = cat.loadTable("c6")
          for (gen <- 0 until 3)
            h.upsert(spark,
              (0 until 5).map(i => ((t * 100 + i).toLong, s"t$t-g$gen"))
                .toDF("id", "k"), Seq("id"))
        } catch { case e: Throwable => failures.add(e) }
      })
    } :+ new Thread(() => {
      try {
        val h = cat.loadTable("c6")
        for (i <- 0 until 4)
          h.append(Seq(((900 + i).toLong, "fresh")).toDF("id", "k"))
      } catch { case e: Throwable => failures.add(e) }
    })
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(failures.isEmpty, s"concurrent DML threw: ${failures.peek()}")
    val got = cat.loadTable("c6").toDF(spark).as[(Long, String)].collect().toSet
    val want = (for (t <- 0 until 3; i <- 0 until 5)
      yield ((t * 100 + i).toLong, s"t$t-g2")).toSet ++
      (0 until 4).map(i => ((900 + i).toLong, "fresh")).toSet
    assert(got == want,
      s"lost/duplicated rows: extra=${got -- want} missing=${want -- got}")
  }

  test("overwriteWhere from a stale handle re-plans: concurrent append to the replaced partition is removed") {
    import spark.implicits._
    val cat = new MemoryCatalog()
    val pspec = graft.meta.PartitionSpec(0,
      Seq(graft.meta.PartitionField(2, 1000, "k", "identity")))
    cat.createTable("c4", schema, partitionSpec = pspec)
    val h1 = cat.loadTable("c4")
    val h2 = cat.loadTable("c4")
    h1.append(Seq((1L, "a"), (2L, "b")).toDF("id", "k"))
    // h2 lands MORE rows in partition b while h1 is about to replace it:
    // the stale h1 must refresh, re-plan, and the replacement must cover
    // the concurrently-appended row too (it matches the filter)
    h2.append(Seq((3L, "b")).toDF("id", "k"))
    h1.overwriteWhere(spark, Seq(EqPred("k", "b")), Seq((9L, "b")).toDF("id", "k"))
    assert(cat.loadTable("c4").toDF(spark).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 9L))
  }

  test("dynamic overwrite from a stale handle replaces the partition's concurrent rows too") {
    import spark.implicits._
    val cat = new MemoryCatalog()
    val pspec = graft.meta.PartitionSpec(0,
      Seq(graft.meta.PartitionField(2, 1000, "k", "identity")))
    cat.createTable("c5", schema, partitionSpec = pspec)
    val h1 = cat.loadTable("c5")
    val h2 = cat.loadTable("c5")
    h1.append(Seq((1L, "a"), (2L, "b")).toDF("id", "k"))
    h2.append(Seq((3L, "b")).toDF("id", "k")) // h1 now stale
    h1.overwritePartitions(Seq((9L, "b")).toDF("id", "k"))
    assert(cat.loadTable("c5").toDF(spark).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 9L))
  }

  /** Data and delete files under `location/data` (commit markers such as
    * `_SUCCESS` and checksum files excluded, as the orphan sweep does). */
  private def dataFiles(location: String): Set[String] = {
    val dir = new Path(location, "data")
    val fs = dir.getFileSystem(new Configuration())
    if (!fs.exists(dir)) Set.empty
    else {
      val it = fs.listFiles(dir, true)
      Iterator.continually(()).takeWhile(_ => it.hasNext).map(_ => it.next())
        .map(_.getPath).filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
        .map(_.toString).toSet
    }
  }

  private def exists(path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(new Configuration()).exists(p)
  }

  test("a commit that always loses its CAS gives up after 6 attempts, leaving no new files") {
    import spark.implicits._
    val ops: Seq[(String, Table => Unit)] = Seq(
      "append" -> (_.append(Seq((9L, "n")).toDF("id", "k"))),
      "overwrite" -> (_.overwrite(Seq((9L, "n")).toDF("id", "k"))),
      "MOR deleteWhere" -> (_.deleteWhere(spark, "id = 1")),
      "COW update" -> (_.update(spark, Seq(EqPred("k", "b")), Map("id" -> "id + 100"))),
      "updateProperties" -> (_.updateProperties(Map("owner" -> "x"))))
    for ((label, op) <- ops) withClue(s"$label: ") {
      val inner = new MemoryCatalog()
      inner.createTable("t", schema, properties = Map("write.delete.mode" -> "merge-on-read"))
      inner.loadTable("t").append(Seq((1L, "a"), (2L, "b")).toDF("id", "k"))
      val before = inner.loadTable("t")
      val filesBefore = dataFiles(before.location)
      val cat = new ConflictingCatalog(inner)
      intercept[CommitConflictError](op(cat.loadTable("t")))
      assert(cat.commitCalls.get == 6)
      assert(dataFiles(before.location) == filesBefore)
      val after = inner.loadTable("t")
      assert(after.currentSnapshotId == before.currentSnapshotId)
      assert(after.properties == before.properties)
    }
  }

  test("a failed fast-append keeps files it does not own: addFiles sources, cherry-picked data") {
    import spark.implicits._
    val inner = new MemoryCatalog()
    inner.createTable("t", schema)
    val cat = new ConflictingCatalog(inner)

    val src = java.nio.file.Files.createTempDirectory("graft-addfiles").resolve("src").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "k").write.parquet(src)
    val imported = new java.io.File(src).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).toSeq
    assert(imported.nonEmpty)
    intercept[CommitConflictError](cat.loadTable("t").addFiles(spark, imported))
    assert(cat.commitCalls.get == 6)
    assert(imported.forall(exists), "addFiles deleted the caller's Parquet files")

    inner.loadTable("t").appendToBranch("audit", Seq((5L, "x"), (6L, "y")).toDF("id", "k"))
    val staged = inner.loadTable("t")
    val srcId = staged.snapshotForRef("audit").get.snapshotId
    val referenced = staged.scan(Some(srcId)).planFiles().map(_.filePath)
    def rowsOf(t: Table) = t.toDF(spark, Some(srcId)).as[(Long, String)].collect().toSet
    val rowsBefore = rowsOf(staged)
    intercept[CommitConflictError](cat.loadTable("t").cherrypickSnapshot(srcId))
    assert(cat.commitCalls.get == 12)
    assert(referenced.nonEmpty && referenced.forall(exists),
      "cherry-pick deleted data files its source snapshot still references")
    assert(rowsOf(inner.loadTable("t")) == rowsBefore)
    assert(rowsBefore == Set((5L, "x"), (6L, "y")))
    assert(inner.loadTable("t").currentSnapshotId.isEmpty)
  }
}
