package graft

import graft.catalog.MemoryCatalog
import graft.manifest.DataFile
import graft.meta.{PartitionField, PartitionSpec}
import graft.spark.GraftSparkCatalog
import graft.table._
import graft.types._
import org.scalatest.funsuite.AnyFunSuite

/** Filter-scoped overwrite: SQL `INSERT OVERWRITE … PARTITION`, the
  * `DataFrameWriterV2.overwrite(cond)` path, [[Table.overwriteWhere]], and
  * the [[ScanPruning.strictFileEvolved]] full-file matcher behind its
  * drop-unread fast path. */
class OverwriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val cat = new MemoryCatalog(name = "ovrmem")
  private val C = "govr"

  private def sql(q: String) = spark.sql(q)
  private lazy val init: Unit = {
    GraftSparkCatalog.register(spark, C, cat)
    cat.createNamespace(Seq("s"), ifNotExists = true)
  }

  test("INSERT OVERWRITE PARTITION replaces exactly that partition; other partitions keep their files") {
    init
    sql(s"CREATE TABLE $C.s.po (id BIGINT, p STRING) PARTITIONED BY (p)")
    sql(s"INSERT INTO $C.s.po VALUES (1, 'a'), (2, 'a')")
    sql(s"INSERT INTO $C.s.po VALUES (3, 'b'), (4, 'b')")
    val aFiles0 = sql(s"SELECT DISTINCT _file FROM $C.s.po WHERE p = 'a'")
      .collect().map(_.getString(0)).toSet
    sql(s"INSERT OVERWRITE $C.s.po PARTITION (p = 'b') VALUES (30), (40)")
    val rows = sql(s"SELECT id, p FROM $C.s.po ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((1L, "a"), (2L, "a"), (30L, "b"), (40L, "b")))
    // the untouched partition's files are carried, not rewritten
    val aFiles1 = sql(s"SELECT DISTINCT _file FROM $C.s.po WHERE p = 'a'")
      .collect().map(_.getString(0)).toSet
    assert(aFiles0 == aFiles1)
    // one atomic snapshot for the whole overwrite
    assert(cat.loadTable("s.po").snapshots.length == 3)
  }

  test("INSERT OVERWRITE without PARTITION truncates and replaces the whole table") {
    init
    sql(s"CREATE TABLE $C.s.full (id BIGINT, v STRING)")
    sql(s"INSERT INTO $C.s.full VALUES (1, 'x'), (2, 'y')")
    sql(s"INSERT OVERWRITE $C.s.full VALUES (9, 'z')")
    val rows = sql(s"SELECT id, v FROM $C.s.full").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((9L, "z")))
  }

  test("writeTo.overwrite(condition) replaces matching rows across straddling files") {
    init
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    sql(s"CREATE TABLE $C.s.rw (id BIGINT, v STRING)")
    sql(s"INSERT INTO $C.s.rw VALUES (1, 'x'), (2, 'x'), (3, 'x')")
    sql(s"INSERT INTO $C.s.rw VALUES (4, 'y'), (5, 'y')")
    // file 1 straddles id >= 3 (1, 2 survive a rewrite); file 2 fully matches
    Seq((100L, "z")).toDF("id", "v").writeTo(s"$C.s.rw").overwrite(col("id") >= 3L)
    val rows = sql(s"SELECT id, v FROM $C.s.rw ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((1L, "x"), (2L, "x"), (100L, "z")))
  }

  test("overwriteWhere with no matching rows is a pure O(commit) fast-append") {
    init
    sql(s"CREATE TABLE $C.s.nomatch (id BIGINT, p STRING) PARTITIONED BY (p)")
    sql(s"INSERT INTO $C.s.nomatch VALUES (1, 'a')")
    val t = cat.loadTable("s.nomatch")
    import spark.implicits._
    t.overwriteWhere(spark, Seq(EqPred("p", "zzz")),
      Seq((7L, "zzz")).toDF("id", "p"))
    val rows = sql(s"SELECT id, p FROM $C.s.nomatch ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((1L, "a"), (7L, "zzz")))
    // append, not a rewrite: the new snapshot's operation says so
    assert(t.refresh().currentSnapshot.exists(_.summary.get("operation").contains("append")))
  }

  test("overwriteWhere applies MOR deletes before rewriting a straddling file") {
    init
    sql(s"CREATE TABLE $C.s.mor (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')")
    sql(s"INSERT INTO $C.s.mor VALUES (1, 'x'), (2, 'x'), (3, 'x')")
    sql(s"DELETE FROM $C.s.mor WHERE id = 2") // position delete, file untouched
    import spark.implicits._
    cat.loadTable("s.mor").overwriteWhere(spark, Seq(GePred("id", 3L)),
      Seq((9L, "z")).toDF("id", "v"))
    val rows = sql(s"SELECT id, v FROM $C.s.mor ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // 2 stays deleted even though its file was rewritten by the overwrite
    assert(rows.toSeq == Seq((1L, "x"), (9L, "z")))
  }

  // --------------------------------------- dynamic partition overwrite

  private def withDynamicMode[T](body: => T): T = {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try body finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("dynamic INSERT OVERWRITE replaces only the partitions present in the data") {
    init
    sql(s"CREATE TABLE $C.s.dyn (id BIGINT, p STRING) PARTITIONED BY (p)")
    sql(s"INSERT INTO $C.s.dyn VALUES (1, 'a'), (2, 'a')")
    sql(s"INSERT INTO $C.s.dyn VALUES (3, 'b'), (4, 'c')")
    val aFiles0 = sql(s"SELECT DISTINCT _file FROM $C.s.dyn WHERE p = 'a'")
      .collect().map(_.getString(0)).toSet
    withDynamicMode {
      sql(s"INSERT OVERWRITE $C.s.dyn VALUES (30, 'b'), (31, 'b'), (40, 'c')")
    }
    val rows = sql(s"SELECT id, p FROM $C.s.dyn ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((1L, "a"), (2L, "a"), (30L, "b"), (31L, "b"), (40L, "c")))
    // the untouched partition keeps its exact files; one atomic snapshot
    val aFiles1 = sql(s"SELECT DISTINCT _file FROM $C.s.dyn WHERE p = 'a'")
      .collect().map(_.getString(0)).toSet
    assert(aFiles0 == aFiles1)
    assert(cat.loadTable("s.dyn").snapshots.length == 3)
  }

  test("writeTo.overwritePartitions and Table.overwritePartitions share semantics") {
    init
    import spark.implicits._
    sql(s"CREATE TABLE $C.s.dyn2 (id BIGINT, p STRING) PARTITIONED BY (p)")
    sql(s"INSERT INTO $C.s.dyn2 VALUES (1, 'a'), (2, 'b')")
    Seq((20L, "b")).toDF("id", "p").writeTo(s"$C.s.dyn2").overwritePartitions()
    assert(sql(s"SELECT id, p FROM $C.s.dyn2 ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "a"), (20L, "b")))
    // the DataFrame-side path (writeData) — same tuple space
    cat.loadTable("s.dyn2").overwritePartitions(Seq((10L, "a"), (11L, "a")).toDF("id", "p"))
    assert(sql(s"SELECT id, p FROM $C.s.dyn2 ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((10L, "a"), (11L, "a"), (20L, "b")))
  }

  test("dynamic overwrite on a day-transform partition matches the V1 path's tuples") {
    init
    sql(s"CREATE TABLE $C.s.dynday (ts TIMESTAMP, v BIGINT) PARTITIONED BY (days(ts))")
    sql(s"INSERT INTO $C.s.dynday VALUES (TIMESTAMP'2024-01-01 10:00:00', 1), " +
      "(TIMESTAMP'2024-01-02 11:00:00', 2)")
    val d1Files0 = sql(s"SELECT DISTINCT _file FROM $C.s.dynday WHERE v = 1")
      .collect().map(_.getString(0)).toSet
    withDynamicMode {
      // executor-side day(ts) must produce the same tuple string the
      // batch write recorded for the existing 2024-01-02 file
      sql(s"INSERT OVERWRITE $C.s.dynday VALUES (TIMESTAMP'2024-01-02 23:59:59', 20)")
    }
    val rows = sql(s"SELECT v FROM $C.s.dynday ORDER BY v").collect().map(_.getLong(0))
    assert(rows.toSeq == Seq(1L, 20L))
    assert(sql(s"SELECT DISTINCT _file FROM $C.s.dynday WHERE v = 1")
      .collect().map(_.getString(0)).toSet == d1Files0)
  }

  test("dynamic overwrite on a bucket partition agrees with the write-path murmur3") {
    init
    sql(s"CREATE TABLE $C.s.dynbkt (id BIGINT, v STRING) PARTITIONED BY (bucket(4, id))")
    sql(s"INSERT INTO $C.s.dynbkt SELECT id, 'old' FROM range(0, 16)")
    import graft.transforms.BucketTransform
    import graft.types.ILong
    val b = BucketTransform(4)
    val hitBucket = b(7L, ILong)
    withDynamicMode {
      sql(s"INSERT OVERWRITE $C.s.dynbkt VALUES (7, 'new')")
    }
    val rows = sql(s"SELECT id, v FROM $C.s.dynbkt ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = (0L until 16L).filter(i => b(i, ILong) != hitBucket)
      .map(i => (i, "old")) :+ ((7L, "new"))
    assert(rows.toSeq == expected.sortBy(_._1))
  }

  test("V2 fanout writer rolls files at write.target-file-rows") {
    init
    sql(s"CREATE TABLE $C.s.dynroll (id BIGINT, p STRING) PARTITIONED BY (p) " +
      "TBLPROPERTIES ('write.target-file-rows' = '2')")
    sql(s"INSERT INTO $C.s.dynroll VALUES (0, 'a')")
    withDynamicMode {
      sql(s"INSERT OVERWRITE $C.s.dynroll SELECT id, 'a' FROM range(0, 7)")
    }
    assert(sql(s"SELECT count(*) FROM $C.s.dynroll").collect().head.getLong(0) == 7L)
    val files = sql(s"SELECT DISTINCT _file FROM $C.s.dynroll").collect().map(_.getString(0))
    assert(files.length >= 3) // 7 rows at 2 rows/file in one task ⇒ ≥ 4 files
  }

  // ------------------------------------------------- strict matcher unit

  private val schema = Schema(0, Seq(
    NestedField(1, "id", ILong), NestedField(2, "p", IString),
    NestedField(3, "f", IFloat)))
  private val pSpec = PartitionSpec(0, Seq(PartitionField(2, 1000, "p", "identity")))

  private def file(partition: Map[String, String] = Map.empty,
                   lower: Map[String, String] = Map.empty,
                   upper: Map[String, String] = Map.empty,
                   nulls: Map[String, Long] = Map.empty): DataFile =
    DataFile("f.parquet", "PARQUET", partition, 10L, 100L, lower, upper, nulls)

  test("strictFileEvolved: identity partition value decides exactly") {
    val f = file(partition = Map("p" -> "b"))
    assert(ScanPruning.strictFileEvolved(Seq(EqPred("p", "b")), f, pSpec, schema, schema))
    assert(!ScanPruning.strictFileEvolved(Seq(EqPred("p", "a")), f, pSpec, schema, schema))
    assert(ScanPruning.strictFileEvolved(Seq(InPred("p", Seq("a", "b"))), f, pSpec, schema, schema))
    // null partition: no row can satisfy a predicate
    assert(!ScanPruning.strictFileEvolved(Seq(EqPred("p", "")), file(partition = Map("p" -> "")),
      pSpec, schema, schema))
  }

  test("strictFileEvolved: closed bounds with zero nulls are strict; anything open is not") {
    val closed = file(lower = Map("id" -> "5"), upper = Map("id" -> "5"), nulls = Map("id" -> 0L))
    assert(ScanPruning.strictFileEvolved(Seq(EqPred("id", 5L)), closed, PartitionSpec.Unpartitioned, schema, schema))
    val range = file(lower = Map("id" -> "3"), upper = Map("id" -> "7"), nulls = Map("id" -> 0L))
    assert(!ScanPruning.strictFileEvolved(Seq(EqPred("id", 5L)), range, PartitionSpec.Unpartitioned, schema, schema))
    assert(ScanPruning.strictFileEvolved(Seq(GePred("id", 3L)), range, PartitionSpec.Unpartitioned, schema, schema))
    assert(ScanPruning.strictFileEvolved(Seq(LtPred("id", 8L)), range, PartitionSpec.Unpartitioned, schema, schema))
    assert(!ScanPruning.strictFileEvolved(Seq(GtPred("id", 3L)), range, PartitionSpec.Unpartitioned, schema, schema))
    // unknown null count → never strict (a null row matches nothing)
    val noNulls = file(lower = Map("id" -> "5"), upper = Map("id" -> "5"))
    assert(!ScanPruning.strictFileEvolved(Seq(EqPred("id", 5L)), noNulls, PartitionSpec.Unpartitioned, schema, schema))
    // nonzero nulls → never strict
    val someNulls = file(lower = Map("id" -> "5"), upper = Map("id" -> "5"), nulls = Map("id" -> 1L))
    assert(!ScanPruning.strictFileEvolved(Seq(EqPred("id", 5L)), someNulls, PartitionSpec.Unpartitioned, schema, schema))
  }

  test("strictFileEvolved: float/double columns and empty predicate lists are never strict") {
    val f = file(lower = Map("f" -> "1.0"), upper = Map("f" -> "1.0"), nulls = Map("f" -> 0L))
    assert(!ScanPruning.strictFileEvolved(Seq(EqPred("f", 1.0f)), f, PartitionSpec.Unpartitioned, schema, schema))
    assert(!ScanPruning.strictFileEvolved(Nil, file(), PartitionSpec.Unpartitioned, schema, schema))
  }
}
