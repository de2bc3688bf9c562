package graft

import graft.catalog.MemoryCatalog
import graft.meta._
import graft.types._
import org.scalatest.funsuite.AnyFunSuite

/** The §7.2 smoke slice + the reference's bookkeeping invariants
  * (`test/table_test.rb:4-99`, `test/table_scan_test.rb:4-7`, BASELINE.md). */
class TableSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def newCatalog() = new MemoryCatalog()

  private val abSchema = Schema(0, Seq(
    NestedField(1, "a", IInt), NestedField(2, "b", IString)))

  test("create → append 3 rows → to_a round-trips") {
    val cat = newCatalog()
    val t = cat.createTable("events", abSchema)
    t.append(Seq(
      Map("a" -> 1, "b" -> "one"),
      Map("a" -> 2, "b" -> "two"),
      Map("a" -> 3, "b" -> "three")), spark)
    val rows = t.toA(spark).sortBy(_("a").asInstanceOf[Int])
    assert(rows == Seq(
      Map("a" -> 1, "b" -> "one"),
      Map("a" -> 2, "b" -> "two"),
      Map("a" -> 3, "b" -> "three")))
  }

  test("metadata bookkeeping after first append") {
    val cat = newCatalog()
    val t = cat.createTable("bk", abSchema)
    assert(t.formatVersion == 2)
    assert(t.lastSequenceNumber == 0)
    assert(t.currentSnapshot.isEmpty)
    assert(t.lastPartitionId == 999)
    t.append(Seq(Map("a" -> 1, "b" -> "x")), spark)
    assert(t.lastSequenceNumber == 1)
    assert(t.nextSequenceNumber == 2)
    assert(t.snapshots.size == 1)
    assert(t.currentSnapshot.get.sequenceNumber == 1)
    assert(t.currentSnapshot.get.operation.contains("append"))
    assert(t.history.size == 1)
    assert(t.snapshotForRef("main").map(_.snapshotId) == t.currentSnapshotId)
  }

  test("1 append ⇒ 1 data file ⇒ plan_files.size == 1") {
    val cat = newCatalog()
    val t = cat.createTable("pf", abSchema)
    t.append(Seq(Map("a" -> 1, "b" -> "x"), Map("a" -> 2, "b" -> "y")), spark)
    assert(t.scan().planFiles().size == 1)
  }

  test("second append adds a snapshot with parent") {
    val cat = newCatalog()
    val t = cat.createTable("p2", abSchema)
    t.append(Seq(Map("a" -> 1, "b" -> "x")), spark)
    val firstId = t.currentSnapshotId.get
    t.append(Seq(Map("a" -> 2, "b" -> "y")), spark)
    assert(t.snapshots.size == 2)
    assert(t.currentSnapshot.get.parentSnapshotId.contains(firstId))
    assert(t.lastSequenceNumber == 2)
    assert(t.toDF(spark).count() == 2)
  }

  test("time travel: scan pinned to an older snapshot") {
    val cat = newCatalog()
    val t = cat.createTable("tt", abSchema)
    t.append(Seq(Map("a" -> 1, "b" -> "x")), spark)
    val firstId = t.currentSnapshotId.get
    t.append(Seq(Map("a" -> 2, "b" -> "y")), spark)
    assert(t.toDF(spark, Some(firstId)).count() == 1)
    assert(t.toDF(spark).count() == 2)
    assertThrows[InvalidDataError](t.scan(Some(123456789L)))
  }

  test("typed round-trip: nulls, decimal, date, timestamp, binary, double") {
    val cat = newCatalog()
    val schema = Schema(0, Seq(
      NestedField(1, "i", IInt), NestedField(2, "l", ILong),
      NestedField(3, "d", IDouble), NestedField(4, "dec", IDecimal(10, 2)),
      NestedField(5, "dt", IDate), NestedField(6, "ts", ITimestamp),
      NestedField(7, "s", IString), NestedField(8, "bin", IBinary),
      NestedField(9, "bool", IBoolean)))
    val t = cat.createTable("typed", schema)
    val d0 = java.time.LocalDate.of(2023, 5, 17)
    val ts0 = java.time.LocalDateTime.of(2023, 5, 17, 12, 30, 45)
    t.append(Seq(
      Map("i" -> 1, "l" -> 10L, "d" -> 1.5, "dec" -> "12.34",
        "dt" -> d0, "ts" -> ts0, "s" -> "hello",
        "bin" -> Array[Byte](1, 2, 3), "bool" -> true),
      Map("i" -> 2)), spark)
    val rows = t.toA(spark).sortBy(_("i").asInstanceOf[Int])
    val r0 = rows.head
    assert(r0("l") == 10L)
    assert(r0("d") == 1.5)
    assert(r0("dec") == new java.math.BigDecimal("12.34"))
    assert(r0("dt") == java.sql.Date.valueOf(d0))
    assert(r0("ts") == ts0)
    assert(r0("s") == "hello")
    assert(r0("bin").asInstanceOf[Array[Byte]].toSeq == Seq[Byte](1, 2, 3))
    assert(r0("bool") == true)
    val r1 = rows(1)
    assert(r1("l") == null && r1("s") == null && r1("bin") == null)
  }

  test("append coercion errors: unknown column, wrong type, missing required") {
    val cat = newCatalog()
    val t = cat.createTable("errs", abSchema)
    assertThrows[InvalidDataError](
      t.append(Seq(Map("nope" -> 1)), spark))
    assertThrows[InvalidDataError](
      t.append(Seq(Map("a" -> "not-an-int")), spark))
    val reqSchema = Schema(0, Seq(NestedField(1, "r", IInt, required = true)))
    val t2 = cat.createTable("req", reqSchema)
    import spark.implicits._
    assertThrows[InvalidDataError](
      t2.append(Seq("x").toDF("other")))
  }

  test("append(df) binds by name, any column order") {
    val cat = newCatalog()
    val t = cat.createTable("order", abSchema)
    import spark.implicits._
    t.append(Seq(("one", 1), ("two", 2)).toDF("b", "a"))
    val rows = t.toA(spark).sortBy(_("a").asInstanceOf[Int])
    assert(rows.map(r => (r("a"), r("b"))) == Seq((1, "one"), (2, "two")))
  }

  test("partitioned append: identity partition prunes files") {
    val cat = newCatalog()
    val schema = Schema(0, Seq(
      NestedField(1, "k", IInt), NestedField(2, "v", IString)))
    val spec = PartitionSpec(0, Seq(PartitionField(1, 1000, "k", "identity")))
    val t = cat.createTable("parted", schema, partitionSpec = spec)
    import spark.implicits._
    t.append(Seq((1, "a"), (1, "b"), (2, "c"), (3, "d")).toDF("k", "v"))
    val all = t.scan().planFiles()
    assert(all.nonEmpty)
    val pruned = t.scan(predicates = Seq(table.EqPred("k", 2))).planFiles()
    assert(pruned.size < all.size)
    assert(pruned.forall(_.file.partition("k") == "2"))
    val rows = t.scan(predicates = Seq(table.EqPred("k", 2))).collect(spark)
    assert(rows.rows.map(_.toList) == Seq(List(2, "c")))
  }

  test("bucket-partitioned append round-trips and prunes") {
    val cat = newCatalog()
    val schema = Schema(0, Seq(
      NestedField(1, "id", ILong), NestedField(2, "v", IString)))
    val spec = PartitionSpec(0, Seq(PartitionField(1, 1000, "id_bucket", "bucket[4]")))
    val t = cat.createTable("bucketed", schema, partitionSpec = spec)
    import spark.implicits._
    t.append((1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"))
    assert(t.toDF(spark).count() == 100)
    val all = t.scan().planFiles()
    val pruned = t.scan(predicates = Seq(table.EqPred("id", 7L))).planFiles()
    assert(pruned.size < all.size)
    val rows = t.scan(predicates = Seq(table.EqPred("id", 7L))).collect(spark)
    assert(rows.rows.map(_.toList) == Seq(List(7L, "v7")))
  }

  test("StaticTable: reads work, writes raise") {
    val cat = newCatalog()
    val t = cat.createTable("stat", abSchema)
    t.append(Seq(Map("a" -> 1, "b" -> "x")), spark)
    // dump current metadata to a file and load it statically
    val dir = java.nio.file.Files.createTempDirectory("static")
    val mp = dir.resolve("metadata.json")
    java.nio.file.Files.writeString(mp, MetadataJson.write(t.metadata))
    val st = table.StaticTable.load(mp.toString)
    assert(st.toDF(spark).count() == 1)
    assert(st.currentSchema.columnNames == Seq("a", "b"))
    assertThrows[GraftError](st.append(Seq(Map("a" -> 2, "b" -> "y")), spark))
  }

  test("sort order is recorded and applied within files") {
    val cat = newCatalog()
    val schema = Schema(0, Seq(NestedField(1, "x", IInt), NestedField(2, "s", IString)))
    val order = SortOrder(1, Seq(SortField(1, direction = "desc")))
    val t = cat.createTable("sorted", schema, sortOrder = order)
    assert(t.defaultSortOrder.fields.head.nullOrder == "nulls-last")
    import spark.implicits._
    t.append(Seq((1, "a"), (3, "c"), (2, "b")).toDF("x", "s").coalesce(1))
    val xs = t.toDF(spark).collect().map(_.getInt(0)).toSeq
    assert(xs == Seq(3, 2, 1)) // one file, sorted desc within it
  }

  test("a location holding glob characters appends, deletes on read and reads back") {
    val wh = java.nio.file.Files.createTempDirectory("wh[1]").toString
    val cat = new MemoryCatalog(warehouse = wh)
    val t = cat.createTable("globbed", abSchema,
      properties = Map("write.delete.mode" -> "merge-on-read"))
    t.append(Seq(Map("a" -> 1, "b" -> "one"), Map("a" -> 2, "b" -> "two"),
      Map("a" -> 3, "b" -> "three")), spark)
    assert(t.scan().toDF(spark).count() == 3)
    t.deleteWhere(spark, "a = 2")
    assert(t.refresh().scan().planFiles().exists(_.deleteFiles.nonEmpty))
    assert(t.scan().toDF(spark).collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 3))
    graft.spark.GraftSparkCatalog.register(spark, "globcat", cat)
    assert(spark.table("globcat.default.globbed").collect().map(_.getInt(0)).sorted.toSeq ==
      Seq(1, 3))
  }
}
