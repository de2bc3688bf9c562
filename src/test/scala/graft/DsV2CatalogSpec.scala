package graft

import graft.catalog.MemoryCatalog
import graft.spark.GraftSparkCatalog
import org.apache.spark.sql.AnalysisException
import org.scalatest.funsuite.AnyFunSuite

/** The native DSv2 `TableCatalog` (SURVEY.md §7.3 optional step): the full
  * SQL surface routed through Spark's catalog API — no temp-view
  * registration anywhere in this suite. */
class DsV2CatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val cat = new MemoryCatalog(name = "dsv2mem")
  private val C = "gds" // spark-side catalog name

  private def sql(q: String) = spark.sql(q)
  private lazy val init: Unit = {
    GraftSparkCatalog.register(spark, C, cat)
    cat.createNamespace(Seq("sales"), ifNotExists = true)
  }

  test("namespace DDL routes through the catalog") {
    init
    sql(s"CREATE NAMESPACE IF NOT EXISTS $C.sales")
    assert(cat.namespaceExists(Seq("sales")))
    val spaces = sql(s"SHOW NAMESPACES IN $C").collect().map(_.getString(0))
    assert(spaces.contains("sales"))
    sql(s"ALTER NAMESPACE $C.sales SET PROPERTIES ('owner_team' = 'data')")
    assert(cat.namespaceProperties(Seq("sales"))("owner_team") == "data")
  }

  test("CREATE TABLE with partition transforms, INSERT, SELECT — no views") {
    init
    sql(s"""CREATE TABLE $C.sales.orders (
           |  id BIGINT NOT NULL, region STRING, amount DECIMAL(10,2), ts TIMESTAMP_NTZ)
           |PARTITIONED BY (bucket(4, id), days(ts))
           |TBLPROPERTIES ('write.delete.mode' = 'copy-on-write')""".stripMargin)
    val gt = cat.loadTable("sales.orders")
    assert(gt.defaultPartitionSpec.fields.map(_.transform) == Seq("bucket[4]", "day"))
    assert(gt.properties("write.delete.mode") == "copy-on-write")

    sql(s"""INSERT INTO $C.sales.orders VALUES
           |  (1, 'emea', 10.50, TIMESTAMP_NTZ'2026-01-01 10:00:00'),
           |  (2, 'apac', 20.00, TIMESTAMP_NTZ'2026-01-02 11:00:00'),
           |  (3, 'emea', 7.25,  TIMESTAMP_NTZ'2026-01-02 12:00:00')""".stripMargin)
    val rows = sql(s"SELECT region, sum(amount) s FROM $C.sales.orders GROUP BY region ORDER BY region")
      .collect().map(r => (r.getString(0), r.getDecimal(1).toPlainString))
    assert(rows.toSeq == Seq(("apac", "20.00"), ("emea", "17.75")))
    // and the SQL-visible rows are exactly what the programmatic scan sees
    assert(gt.refresh().toDF(spark).count() == 3)
  }

  test("filter pushdown reaches manifest pruning (plan shows pushed filters)") {
    init
    val plan = sql(s"SELECT id FROM $C.sales.orders WHERE id = 2").queryExecution
      .executedPlan.toString
    assert(plan.contains("PushedFilters") || plan.contains("pushed"),
      s"expected pushed filters in plan:\n$plan")
    val got = sql(s"SELECT id, region FROM $C.sales.orders WHERE id = 2").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("DELETE FROM ... WHERE is a real row-level delete") {
    init
    sql(s"DELETE FROM $C.sales.orders WHERE id = 2")
    assert(sql(s"SELECT count(*) FROM $C.sales.orders").head().getLong(0) == 2)
    // conditions beyond ScanPredicates route through the extensions'
    // row-level deleteWhere (SqlDmlSpec covers the matching case; this one
    // matches nothing and must be a clean no-op, not an error)
    sql(s"DELETE FROM $C.sales.orders WHERE region LIKE 'zz%' OR id = 999")
    assert(sql(s"SELECT count(*) FROM $C.sales.orders").head().getLong(0) == 2)
  }

  test("VERSION AS OF / TIMESTAMP AS OF time travel") {
    init
    val gt = cat.loadTable("sales.orders").refresh()
    val firstWrite = gt.history.head.snapshotId
    assert(sql(s"SELECT count(*) FROM $C.sales.orders VERSION AS OF $firstWrite")
      .head().getLong(0) == 3)
    val asOf = java.time.Instant.ofEpochMilli(gt.lastUpdatedMs + 1000)
      .toString.replace("T", " ").stripSuffix("Z")
    assert(sql(s"SELECT count(*) FROM $C.sales.orders TIMESTAMP AS OF '$asOf'")
      .head().getLong(0) == 2)
  }

  test("VERSION AS OF a branch name reads the WAP audit branch") {
    init
    sql(s"CREATE TABLE $C.sales.wap (id BIGINT)")
    val gt = cat.loadTable("sales.wap")
    import spark.implicits._
    gt.append(Seq(1L).toDF("id"))
    gt.appendToBranch("audit", Seq(2L, 3L).toDF("id"))
    assert(sql(s"SELECT count(*) FROM $C.sales.wap").head().getLong(0) == 1)
    assert(sql(s"SELECT count(*) FROM $C.sales.wap VERSION AS OF 'audit'")
      .head().getLong(0) == 3)
  }

  test("INSERT OVERWRITE replaces contents atomically") {
    init
    sql(s"INSERT OVERWRITE $C.sales.orders VALUES (9, 'amer', 1.00, TIMESTAMP_NTZ'2026-02-01 00:00:00')")
    val after = sql(s"SELECT id FROM $C.sales.orders").collect().map(_.getLong(0))
    assert(after.toSeq == Seq(9L))
    // old snapshot still readable (time travel unaffected by overwrite)
    val gt = cat.loadTable("sales.orders")
    assert(gt.refresh().snapshots.length >= 3)
  }

  test("metadata tables resolve as ns.t.snapshots / .history / .refs") {
    init
    val snapCount = sql(s"SELECT count(*) FROM $C.sales.orders.snapshots").head().getLong(0)
    val gt = cat.loadTable("sales.orders")
    assert(snapCount == gt.refresh().snapshots.length)
    assert(sql(s"SELECT * FROM $C.sales.orders.refs").collect().nonEmpty)
    assert(sql(s"SELECT * FROM $C.sales.orders.history").collect().nonEmpty)
    // the SQL wrapper's `<t>_snapshots` / `_refs` aliases resolve here too
    assert(sql(s"SELECT count(*) FROM $C.sales.orders_snapshots").head().getLong(0) == snapCount)
    assert(sql(s"SELECT name FROM $C.sales.orders_refs").collect().map(_.getString(0)).contains("main"))
    // a real table named like a `<t>_history` alias wins over the alias
    sql(s"CREATE TABLE $C.sales.hx (a INT)")
    sql(s"CREATE TABLE $C.sales.hx_history (a INT, b STRING)")
    sql(s"INSERT INTO $C.sales.hx_history VALUES (1, 'real')")
    assert(sql(s"SELECT b FROM $C.sales.hx_history").collect().map(_.getString(0)).toSeq == Seq("real"))
  }

  test("ALTER TABLE: properties and schema evolution") {
    init
    sql(s"ALTER TABLE $C.sales.orders SET TBLPROPERTIES ('commit.retry.num-retries' = '7')")
    assert(cat.loadTable("sales.orders").properties("commit.retry.num-retries") == "7")
    sql(s"ALTER TABLE $C.sales.orders UNSET TBLPROPERTIES ('commit.retry.num-retries')")
    assert(!cat.loadTable("sales.orders").properties.contains("commit.retry.num-retries"))

    sql(s"ALTER TABLE $C.sales.orders ADD COLUMN note STRING")
    sql(s"INSERT INTO $C.sales.orders VALUES (10, 'emea', 2.00, TIMESTAMP_NTZ'2026-02-02 00:00:00', 'hi')")
    val notes = sql(s"SELECT note FROM $C.sales.orders ORDER BY id").collect().map(_.getString(0))
    assert(notes.toSeq == Seq(null, "hi"))
    sql(s"ALTER TABLE $C.sales.orders RENAME COLUMN note TO comment_text")
    assert(sql(s"SELECT comment_text FROM $C.sales.orders WHERE id = 10").head().getString(0) == "hi")
  }

  test("CTAS, SHOW TABLES, rename, DROP TABLE") {
    init
    sql(s"CREATE TABLE $C.sales.ctas_src (id BIGINT, amount DECIMAL(10,2))")
    sql(s"INSERT INTO $C.sales.ctas_src VALUES (1, 1.00), (2, 2.00)")
    sql(s"CREATE TABLE $C.sales.big_orders AS SELECT id, amount FROM $C.sales.ctas_src WHERE amount > 1.5")
    assert(sql(s"SELECT count(*) FROM $C.sales.big_orders").head().getLong(0) == 1)
    val names = sql(s"SHOW TABLES IN $C.sales").collect().map(_.getString(1))
    assert(names.contains("big_orders"))
    sql(s"ALTER TABLE $C.sales.big_orders RENAME TO sales.big2")
    assert(cat.tableExists("sales.big2") && !cat.tableExists("sales.big_orders"))
    sql(s"DROP TABLE $C.sales.big2")
    assert(!cat.tableExists("sales.big2"))
    intercept[AnalysisException](sql(s"SELECT * FROM $C.sales.big2"))
  }

  test("TRUNCATE TABLE empties but keeps history") {
    init
    sql(s"CREATE TABLE $C.sales.tr (a INT)")
    sql(s"INSERT INTO $C.sales.tr VALUES (1), (2)")
    sql(s"TRUNCATE TABLE $C.sales.tr")
    assert(sql(s"SELECT count(*) FROM $C.sales.tr").head().getLong(0) == 0)
    assert(cat.loadTable("sales.tr").snapshots.length == 2)
  }

  test("scan reports real statistics: small tables auto-broadcast in joins") {
    init
    sql(s"CREATE TABLE $C.sales.dim (k BIGINT, label STRING)")
    sql(s"INSERT INTO $C.sales.dim VALUES (0, 'a'), (1, 'b'), (2, 'c')")
    spark.range(100000).selectExpr("id", "id % 3 AS k")
      .createOrReplaceTempView("facts_v")
    val plan = sql(
      s"SELECT f.id, d.label FROM facts_v f JOIN $C.sales.dim d ON f.k = d.k")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the 3-row graft table to broadcast:\n$plan")
  }

  test("_file and _pos metadata columns resolve in SQL") {
    init
    sql(s"CREATE TABLE $C.sales.mc (id BIGINT)")
    sql(s"INSERT INTO $C.sales.mc VALUES (1), (2)")
    sql(s"INSERT INTO $C.sales.mc VALUES (3)")
    val rows = sql(s"SELECT _file, _pos, id FROM $C.sales.mc ORDER BY id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 3)
    assert(rows.forall(_._1.contains("/data/")))
    // rows of the second commit live in a different file than the first
    assert(rows.map(_._1).distinct.length >= 2)
    // positions are per-file ordinals
    assert(rows.forall(_._2 >= 0))
    // plain SELECT * must NOT include metadata columns
    assert(sql(s"SELECT * FROM $C.sales.mc").columns.toSeq == Seq("id"))
  }

  test("writes via SQL and the programmatic API interleave consistently") {
    init
    sql(s"CREATE TABLE $C.sales.mix (a INT, b STRING)")
    sql(s"INSERT INTO $C.sales.mix VALUES (1, 'sql')")
    val gt = cat.loadTable("sales.mix")
    import spark.implicits._
    gt.append(Seq((2, "api")).toDF("a", "b"))
    val all = sql(s"SELECT a, b FROM $C.sales.mix ORDER BY a").collect()
      .map(r => (r.getInt(0), r.getString(1)))
    assert(all.toSeq == Seq((1, "sql"), (2, "api")))
  }

  test("ALTER TABLE ADD/DROP PARTITION FIELD — SQL partition evolution") {
    init
    sql(s"CREATE TABLE $C.sales.pevo (id BIGINT, k STRING, ts TIMESTAMP_NTZ)")
    import spark.implicits._

    sql(s"ALTER TABLE $C.sales.pevo ADD PARTITION FIELD k")
    var gt = cat.loadTable("sales.pevo")
    assert(gt.defaultPartitionSpec.fields.map(f => (f.name, f.transform)) ==
      Seq(("k", "identity")))

    sql(s"ALTER TABLE $C.sales.pevo ADD PARTITION FIELD bucket(4, id)")
    gt = cat.loadTable("sales.pevo")
    assert(gt.defaultPartitionSpec.fields.map(f => (f.name, f.transform)) ==
      Seq(("k", "identity"), ("id_bucket", "bucket[4]")))

    // writes land under the evolved spec; pruning works
    sql(s"INSERT INTO $C.sales.pevo VALUES (1, 'a', TIMESTAMP_NTZ'2024-01-01 00:00:00'), " +
      "(2, 'b', TIMESTAMP_NTZ'2024-01-02 00:00:00')")
    gt = cat.loadTable("sales.pevo")
    assert(gt.scan(predicates = Seq(graft.table.EqPred("k", "a"))).planFiles().size == 1)

    // DROP by transform form maps to the default field name; by name works too
    sql(s"ALTER TABLE $C.sales.pevo DROP PARTITION FIELD bucket(4, id)")
    sql(s"ALTER TABLE $C.sales.pevo DROP PARTITION FIELD k")
    gt = cat.loadTable("sales.pevo")
    assert(gt.defaultPartitionSpec.fields.isEmpty)
    assert(sql(s"SELECT count(*) FROM $C.sales.pevo").head().getLong(0) == 2)

    // AS name override, and time transform
    sql(s"ALTER TABLE $C.sales.pevo ADD PARTITION FIELD day(ts) AS ts_d")
    gt = cat.loadTable("sales.pevo")
    assert(gt.defaultPartitionSpec.fields.map(f => (f.name, f.transform)) ==
      Seq(("ts_d", "day")))

    // unknown column fails loudly; non-graft catalogs are refused
    assertThrows[InvalidDataError](
      sql(s"ALTER TABLE $C.sales.pevo ADD PARTITION FIELD nope"))
    // every other ALTER TABLE form still parses through Spark's grammar
    sql(s"ALTER TABLE $C.sales.pevo SET TBLPROPERTIES ('x' = 'y')")
    assert(cat.loadTable("sales.pevo").properties("x") == "y")
  }

  test("ALTER TABLE WRITE ORDERED BY — sort-order evolution shapes new writes") {
    init
    sql(s"CREATE TABLE $C.sales.sevo (id BIGINT, k STRING)")
    sql(s"ALTER TABLE $C.sales.sevo WRITE ORDERED BY k DESC NULLS LAST, id")
    var gt = cat.loadTable("sales.sevo")
    val schema = gt.currentSchema
    def fid(n: String) = schema.fieldByName(n).get.id
    assert(gt.defaultSortOrder.fields.map(f => (f.sourceId, f.direction, f.nullOrder)) ==
      Seq((fid("k"), "desc", "nulls-last"), (fid("id"), "asc", "nulls-first")))

    // new writes come out sorted within the file (one partition -> one file)
    import spark.implicits._
    gt.append(Seq((3L, "a"), (1L, "c"), (2L, "b")).toDF("id", "k").coalesce(1))
    gt = cat.loadTable("sales.sevo")
    val file = gt.scan().planFiles().head.filePath
    val inFile = spark.read.parquet(file).collect().map(_.getString(1)).toSeq
    assert(inFile == Seq("c", "b", "a"), s"expected k DESC within file, got $inFile")

    // unordered resets; identical order is adopted, not duplicated
    sql(s"ALTER TABLE $C.sales.sevo WRITE UNORDERED")
    assert(cat.loadTable("sales.sevo").defaultSortOrder.isUnsorted)
    sql(s"ALTER TABLE $C.sales.sevo WRITE ORDERED BY k DESC NULLS LAST, id")
    val orders = cat.loadTable("sales.sevo").metadata.sortOrders
    assert(orders.count(!_.isUnsorted) == 1, s"adopted, not duplicated: $orders")
    assertThrows[InvalidDataError](
      sql(s"ALTER TABLE $C.sales.sevo WRITE ORDERED BY nope"))
  }

  test("ALTER TABLE CREATE/DROP BRANCH and TAG — WAP refs in SQL") {
    init
    sql(s"CREATE TABLE $C.sales.refs (id BIGINT)")
    sql(s"INSERT INTO $C.sales.refs VALUES (1)")
    val gt = cat.loadTable("sales.refs")
    val first = gt.currentSnapshotId.get
    sql(s"INSERT INTO $C.sales.refs VALUES (2)")

    sql(s"ALTER TABLE $C.sales.refs CREATE TAG v1 AS OF VERSION $first")
    sql(s"ALTER TABLE $C.sales.refs CREATE BRANCH audit")
    val refs = cat.loadTable("sales.refs").metadata.refs
    assert(refs("v1").refType == "tag" && refs("v1").snapshotId == first)
    assert(refs("audit").refType == "branch")
    // the tag reads the pinned snapshot through SQL time travel
    assert(sql(s"SELECT count(*) FROM $C.sales.refs VERSION AS OF 'v1'")
      .head().getLong(0) == 1)

    // kind mismatch fails loudly; drop removes only the named ref
    assertThrows[InvalidDataError](
      sql(s"ALTER TABLE $C.sales.refs DROP BRANCH v1"))
    sql(s"ALTER TABLE $C.sales.refs DROP TAG v1")
    sql(s"ALTER TABLE $C.sales.refs DROP BRANCH audit")
    assert(!cat.loadTable("sales.refs").metadata.refs.contains("v1"))
    assertThrows[InvalidDataError](
      sql(s"ALTER TABLE $C.sales.refs DROP BRANCH main"))
  }
}
