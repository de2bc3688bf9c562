package graft

import graft.catalog.MemoryCatalog
import org.apache.spark.sql.AnalysisException
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** SQL-surface parity with `test/sql_test.rb` (SURVEY.md §2.7). */
class SqlSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def freshCatalog(): MemoryCatalog = new MemoryCatalog()

  test("CREATE TABLE + INSERT VALUES + SELECT * round-trip") {
    val cat = freshCatalog()
    cat.sql(spark, "CREATE TABLE events (a int, b string)")
    cat.sql(spark, "INSERT INTO events VALUES (1, 'one'), (2, 'two'), (3, 'three')")
    val res = cat.sql(spark, "SELECT * FROM events ORDER BY a")
    assert(res.columns == Seq("a", "b"))
    assert(res.rows == Seq(Seq(1, "one"), Seq(2, "two"), Seq(3, "three")))
    assert(res.toA.head == Map("a" -> 1, "b" -> "one"))
    // column types go through the reference type table, not Spark's DDL
    // parser (which rejects `text`/`bool` and reads `timestamp` as LTZ)
    cat.sql(spark, "CREATE TABLE typed (s text, f bool, ts timestamp, d decimal(10, 2) not null)")
    assert(cat.loadTable("typed").currentSchema.fields
      .map(f => (f.name, f.fieldType, f.required)) == Seq(
        ("s", types.IString, false), ("f", types.IBoolean, false),
        ("ts", types.ITimestamp, false), ("d", types.IDecimal(10, 2), true)))
  }

  test("literals and types") {
    val cat = freshCatalog()
    val r = cat.sql(spark,
      "SELECT 1 AS i, 1.5 AS f, true AS b, NULL AS n, 'str' AS s").rows.head
    assert(r == Seq(1, java.math.BigDecimal.valueOf(15, 1), true, null, "str"))
  }

  test("positional params $1..$n; extra params ignored") {
    val cat = freshCatalog()
    cat.sql(spark, "CREATE TABLE p (a int, b string)")
    cat.sql(spark, "INSERT INTO p VALUES (1, 'one'), (2, 'two')")
    val r = cat.sql(spark, "SELECT * FROM p WHERE a = $1 AND b = $2",
      Seq(2, "two", "extra-ignored"))
    assert(r.rows == Seq(Seq(2, "two")))
    val types = cat.sql(spark, "SELECT $1 AS l, $2 AS d, $3 AS s, $4 AS dt",
      Seq(7L, 2.5, "x", java.time.LocalDate.of(2024, 1, 2))).rows.head
    assert(types == Seq(7L, 2.5, "x", java.sql.Date.valueOf("2024-01-02")))
    // reference param-type table (catalog.rs:467-495): nil, bool, timestamp
    val more = cat.sql(spark, "SELECT $1 AS n, $2 AS b, $3 AS ts, $4 AS dec",
      Seq(null, true, java.time.LocalDateTime.of(2024, 1, 2, 3, 4, 5),
        BigDecimal("12.34"))).rows.head
    assert(more(0) == null && more(1) == true)
    assert(more(2) == java.time.LocalDateTime.of(2024, 1, 2, 3, 4, 5))
    assert(more(3) == new java.math.BigDecimal("12.34"))
    val instant = cat.sql(spark, "SELECT $1 AS ts",
      Seq(java.time.Instant.parse("2024-01-02T03:04:05Z"))).rows.head.head
    assert(instant == java.sql.Timestamp.from(java.time.Instant.parse("2024-01-02T03:04:05Z")))
    assertThrows[InvalidDataError](cat.sql(spark, "SELECT $3", Seq(1)))
  }

  test("params: backslash-escaped quote inside a literal is not a boundary") {
    import graft.sql.GraftSql.bindParams
    // `\'` stays inside the literal: the $1 there is data, the later $1 binds
    assert(bindParams("SELECT 'it\\'s $1 more', $1", Seq(42)) ==
      "SELECT 'it\\'s $1 more', 42")
    // `\\` before a closing quote does not hide the real end of the literal
    assert(bindParams("SELECT 'path\\\\', $1", Seq(7)) == "SELECT 'path\\\\', 7")
    // double-quoted: same rule
    assert(bindParams("SELECT \"a\\\"b $1\", $1", Seq(1)) == "SELECT \"a\\\"b $1\", 1")
    // end-to-end through Spark
    val cat = freshCatalog()
    val r = cat.sql(spark, raw"SELECT 'it\'s $$1 here' AS s, $$1 AS v", Seq(9)).rows.head
    assert(r == Seq("it's $1 here", 9))
  }

  test("ORDER BY ordinal and LIMIT 0 keeps columns") {
    val cat = freshCatalog()
    cat.sql(spark, "CREATE TABLE o (a int, b string)")
    cat.sql(spark, "INSERT INTO o VALUES (2, 'b'), (1, 'a')")
    assert(cat.sql(spark, "SELECT * FROM o ORDER BY 1").rows.map(_.head) == Seq(1, 2))
    val empty = cat.sql(spark, "SELECT * FROM o LIMIT 0")
    // the reference returns no columns here (bug noted sql_test.rb:88-93); we fix
    assert(empty.columns == Seq("a", "b") && empty.rows.isEmpty)
  }

  test("CREATE VIEW with aliases") {
    val cat = freshCatalog()
    cat.sql(spark, "CREATE TABLE v_src (a int, b string)")
    cat.sql(spark, "INSERT INTO v_src VALUES (1, 'one')")
    cat.sql(spark, "CREATE VIEW v2 AS SELECT a AS x, b AS y FROM v_src")
    val r = cat.sql(spark, "SELECT x, y FROM v2")
    assert(r.rows == Seq(Seq(1, "one")))
    // the view pins the data it saw when it was created
    cat.sql(spark, "INSERT INTO v_src VALUES (2, 'two')")
    assert(cat.sql(spark, "SELECT x, y FROM v2").rows == Seq(Seq(1, "one")))
    assert(cat.sql(spark, "SELECT count(*) AS n FROM v_src").rows == Seq(Seq(2L)))
  }

  test("UPDATE and DELETE are rejected") {
    val cat = freshCatalog()
    cat.sql(spark, "CREATE TABLE ud (a int)")
    assertThrows[UnsupportedFeatureError](cat.sql(spark, "UPDATE ud SET a = 1"))
    assertThrows[UnsupportedFeatureError](cat.sql(spark, "DELETE FROM ud"))
    // decided on the parsed statement, before it runs: a leading comment
    // does not hide the verb, and MERGE is DML too
    cat.sql(spark, "INSERT INTO ud VALUES (1)")
    Seq("/* c */ DELETE FROM ud",
      "MERGE INTO ud USING (SELECT 2 AS a) s ON ud.a = s.a WHEN NOT MATCHED THEN INSERT *"
    ).foreach { dml =>
      assertThrows[UnsupportedFeatureError](cat.sql(spark, dml))
      assert(cat.sql(spark, "SELECT count(*) AS n FROM ud").rows == Seq(Seq(1L)), dml)
    }
  }

  test("single statement only; duplicate output names rejected") {
    val cat = freshCatalog()
    assertThrows[InvalidDataError](
      cat.sql(spark, "SELECT 1; SELECT 2"))
    cat.sql(spark, "CREATE TABLE dup (a int)")
    cat.sql(spark, "INSERT INTO dup VALUES (1)")
    assertThrows[InvalidDataError](
      cat.sql(spark, "SELECT a, a FROM dup"))
    // semicolon inside a string literal is NOT a statement separator
    assert(cat.sql(spark, "SELECT 'a;b' AS s").rows == Seq(Seq("a;b")))
  }

  test("INSERT INTO ... SELECT and explicit column list") {
    val cat = freshCatalog()
    cat.sql(spark, "CREATE TABLE src2 (a int, b string)")
    cat.sql(spark, "INSERT INTO src2 VALUES (1, 'x'), (2, 'y')")
    cat.sql(spark, "CREATE TABLE dst2 (a int, b string)")
    cat.sql(spark, "INSERT INTO dst2 SELECT a, b FROM src2 WHERE a = 2")
    cat.sql(spark, "INSERT INTO dst2 (b, a) VALUES ('z', 3)")
    val r = cat.sql(spark, "SELECT * FROM dst2 ORDER BY a")
    assert(r.rows == Seq(Seq(2, "y"), Seq(3, "z")))
    // fewer values than columns: the trailing columns are NULL
    cat.sql(spark, "INSERT INTO dst2 VALUES (4)")
    assert(cat.sql(spark, "SELECT a, b FROM dst2 WHERE a = 4").rows == Seq(Seq(4, null)))
  }

  test("sql sees committed appends from the table API") {
    val cat = freshCatalog()
    val t = cat.createTable("mix", types.Schema(0, Seq(
      types.NestedField(1, "a", types.IInt))))
    t.append(Seq(Map("a" -> 5)), spark)
    assert(cat.sql(spark, "SELECT count(*) AS n FROM mix").rows == Seq(Seq(1L)))
    t.append(Seq(Map("a" -> 6)), spark)
    assert(cat.sql(spark, "SELECT count(*) AS n FROM mix").rows == Seq(Seq(2L)))
  }

  test("each catalog sees only its own tables, and drops and renames at once") {
    def tempViews = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name)
    val a = freshCatalog()
    val b = freshCatalog()
    a.sql(spark, "CREATE TABLE xcat_events (v string)")
    a.sql(spark, "INSERT INTO xcat_events VALUES ('a')")
    a.sql(spark, "CREATE TABLE xcat_only_a (v string)")
    a.sql(spark, "CREATE VIEW xcat_view AS SELECT v FROM xcat_events")
    b.sql(spark, "CREATE TABLE xcat_events (v string)")
    b.sql(spark, "INSERT INTO xcat_events VALUES ('b')")
    assert(a.sql(spark, "SELECT v FROM xcat_events").rows == Seq(Seq("a")))
    assert(b.sql(spark, "SELECT v FROM xcat_events").rows == Seq(Seq("b")))
    assert(a.sql(spark, "SELECT v FROM xcat_view").rows == Seq(Seq("a")))
    intercept[AnalysisException](b.sql(spark, "SELECT * FROM xcat_only_a"))
    intercept[AnalysisException](b.sql(spark, "SELECT * FROM xcat_view"))
    // nothing reaches the caller's session
    assert(!tempViews.exists(_.startsWith("xcat_")), tempViews.toSeq)

    a.dropTable("xcat_events")
    intercept[AnalysisException](a.sql(spark, "SELECT * FROM xcat_events"))
    a.renameTable("xcat_only_a", "xcat_renamed")
    intercept[AnalysisException](a.sql(spark, "SELECT * FROM xcat_only_a"))
    assert(a.sql(spark, "SELECT count(*) AS n FROM xcat_renamed").rows == Seq(Seq(0L)))
    assert(b.sql(spark, "SELECT v FROM xcat_events").rows == Seq(Seq("b")))
  }

  test("a statement loads only the tables it names") {
    val cat = new CountingCatalog(freshCatalog())
    cat.sql(spark, "CREATE TABLE t0 (a int)")
    cat.sql(spark, "INSERT INTO t0 VALUES (1), (2)")
    (1 to 25).foreach(i => cat.createTable(s"sibling$i",
      types.Schema(0, Seq(types.NestedField(1, "a", types.IInt)))))
    cat.loads.clear()
    cat.lists.set(0)
    assert(cat.sql(spark, "SELECT count(*) AS n FROM t0").rows == Seq(Seq(2L)))
    assert(cat.lists.get == 0)
    val loads = cat.loads.asScala.toSeq
    assert(loads.nonEmpty && loads.size <= 2 && loads.forall(_.split('.').last == "t0"), loads)
  }

  test("metadata views queryable from SQL") {
    val cat = freshCatalog()
    cat.sql(spark, "CREATE TABLE mv (a int, b string)")
    cat.sql(spark, "INSERT INTO mv VALUES (1, 'one')")
    cat.sql(spark, "INSERT INTO mv VALUES (2, 'two')")
    val snaps = cat.sql(spark,
      "SELECT sequence_number, operation FROM mv_snapshots ORDER BY 1")
    assert(snaps.rows == Seq(Seq(1L, "append"), Seq(2L, "append")))
    val refs = cat.sql(spark, "SELECT name, type FROM mv_refs")
    assert(refs.rows == Seq(Seq("main", "branch")))
    assert(cat.sql(spark, "SELECT count(*) AS n FROM mv_history").rows.head.head == 2L)
  }
}
