package graft

import graft.catalog.MemoryCatalog
import graft.spark.GraftSparkCatalog
import org.scalatest.funsuite.AnyFunSuite

/** Metadata-only aggregate pushdown: COUNT/MIN/MAX answered from manifest
  * stats without opening a data file — and declined (exactly, silently)
  * whenever that would not be exact. */
class MetadataAggSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val cat = new MemoryCatalog(name = "aggmem")
  private val C = "gagg"

  private def sql(q: String) = spark.sql(q)
  private lazy val init: Unit = {
    GraftSparkCatalog.register(spark, C, cat)
    sql(s"CREATE TABLE $C.default.t (id BIGINT, v DOUBLE, s STRING, d DATE)")
    sql(s"""INSERT INTO $C.default.t VALUES
           | (1, 1.5, 'b', DATE'2026-01-02'), (2, -3.0, 'a', DATE'2026-01-01')""".stripMargin)
    sql(s"INSERT INTO $C.default.t VALUES (3, 9.25, 'zz', DATE'2026-03-01'), (4, NULL, 'c', DATE'2026-02-01')")
  }

  test("COUNT/MIN/MAX come from metadata and the scan is the agg scan") {
    init
    val df = sql(s"SELECT count(*), count(v), min(s), max(s), min(d), max(d) FROM $C.default.t")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftMetadataAggScan"), s"expected pushed aggregate:\n$plan")
    val r = df.head()
    assert(r.getLong(0) == 4 && r.getLong(1) == 3)
    assert(r.getString(2) == "a" && r.getString(3) == "zz")
    assert(r.getDate(4).toString == "2026-01-01" && r.getDate(5).toString == "2026-03-01")
  }

  test("float/double MIN/MAX decline (NaN-unsafe bounds) but COUNT(col) still pushes") {
    init
    val df = sql(s"SELECT min(v), max(v) FROM $C.default.t")
    assert(!df.queryExecution.executedPlan.toString.contains("GraftMetadataAggScan"))
    val r = df.head()
    assert(r.getDouble(0) == -3.0 && r.getDouble(1) == 9.25)
    // NaN actually present: Spark's MAX is NaN; the normal scan gets it right
    sql(s"CREATE TABLE $C.default.nan (x DOUBLE)")
    sql(s"INSERT INTO $C.default.nan VALUES (1.0), (cast('NaN' as double)), (2.0)")
    val m = sql(s"SELECT max(x), count(x) FROM $C.default.nan").head()
    assert(m.getDouble(0).isNaN)
    assert(m.getLong(1) == 3)
    val countOnly = sql(s"SELECT count(v) FROM $C.default.t")
    assert(countOnly.queryExecution.executedPlan.toString.contains("GraftMetadataAggScan"))
    assert(countOnly.head().getLong(0) == 3)
  }

  test("decimal MIN/MAX are scale-correct from metadata") {
    init
    sql(s"CREATE TABLE $C.default.dec (id BIGINT, price DECIMAL(9,2), big DECIMAL(24,4))")
    sql(s"INSERT INTO $C.default.dec VALUES (1, 67.89, 1.5000), (2, 123.45, 2.5000)")
    val df = sql(s"SELECT min(price), max(price) FROM $C.default.dec")
    assert(df.queryExecution.executedPlan.toString.contains("GraftMetadataAggScan"),
      "INT-backed decimal bounds are scale-normalized, so this must push")
    val r = df.head()
    assert(r.getDecimal(0).toString == "67.89", s"got ${r.getDecimal(0)}")
    assert(r.getDecimal(1).toString == "123.45")
    // FLBA-backed DECIMAL(24,4) has no recorded bounds -> declines, stays right
    val b = sql(s"SELECT min(big), max(big) FROM $C.default.dec")
    assert(!b.queryExecution.executedPlan.toString.contains("GraftMetadataAggScan"))
    val rb = b.head()
    assert(rb.getDecimal(0).toString == "1.5000" && rb.getDecimal(1).toString == "2.5000")
  }

  test("decimal equality predicates do not prune away matching files") {
    init
    sql(s"CREATE TABLE $C.default.decf (id BIGINT, price DECIMAL(9,2))")
    sql(s"INSERT INTO $C.default.decf VALUES (1, 67.89)")
    sql(s"INSERT INTO $C.default.decf VALUES (2, 123.45)")
    val got = sql(s"SELECT id FROM $C.default.decf WHERE price = 123.45").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(2L), s"got ${got.toSeq}")
    val rng = sql(s"SELECT id FROM $C.default.decf WHERE price > 100.00").collect()
    assert(rng.map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("string MIN/MAX decline when bounds could be truncated (>=64 bytes)") {
    init
    sql(s"CREATE TABLE $C.default.longs (s STRING)")
    val long1 = "a" * 80
    val long2 = "b" * 80
    sql(s"INSERT INTO $C.default.longs VALUES ('$long1'), ('$long2')")
    val df = sql(s"SELECT min(s), max(s) FROM $C.default.longs")
    assert(!df.queryExecution.executedPlan.toString.contains("GraftMetadataAggScan"))
    val r = df.head()
    assert(r.getString(0) == long1 && r.getString(1) == long2)
  }

  test("declines under filters and still answers correctly") {
    init
    val df = sql(s"SELECT count(*) FROM $C.default.t WHERE id >= 3")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("GraftMetadataAggScan"))
    assert(df.head().getLong(0) == 2)
  }

  test("declines when delete files apply (MOR), stays exact") {
    init
    sql(s"""CREATE TABLE $C.default.m (id BIGINT)
           |TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')""".stripMargin)
    sql(s"INSERT INTO $C.default.m VALUES (1), (2), (3)")
    sql(s"DELETE FROM $C.default.m WHERE id = 2")
    val df = sql(s"SELECT count(*), min(id) FROM $C.default.m")
    assert(!df.queryExecution.executedPlan.toString.contains("GraftMetadataAggScan"))
    val r = df.head()
    assert(r.getLong(0) == 2 && r.getLong(1) == 1)
  }

  test("empty table: count 0, min/max NULL, still metadata-only") {
    init
    sql(s"CREATE TABLE $C.default.e (id BIGINT)")
    val df = sql(s"SELECT count(*), min(id) FROM $C.default.e")
    assert(df.queryExecution.executedPlan.toString.contains("GraftMetadataAggScan"))
    val r = df.head()
    assert(r.getLong(0) == 0 && r.isNullAt(1))
  }

  test("LIMIT plans a file prefix when unfiltered; exact under filters") {
    init
    val df = sql(s"SELECT id FROM $C.default.t LIMIT 1")
    assert(df.queryExecution.executedPlan.toString.contains("limit=1"),
      "expected the limit hint on the scan")
    assert(df.collect().length == 1)
    // with a filter the hint must not reduce planned files: id=4 lives in
    // the last-inserted file, and all 4 rows span multiple files
    val filtered = sql(s"SELECT id FROM $C.default.t WHERE id = 4 LIMIT 1").collect()
    assert(filtered.map(_.getLong(0)).toSeq == Seq(4L))
    // LIMIT larger than the table still returns everything
    assert(sql(s"SELECT id FROM $C.default.t LIMIT 100").collect().length == 4)
  }

  test("LIMIT prefix stays exact around delete files") {
    init
    sql(s"""CREATE TABLE $C.default.ld (id BIGINT)
           |TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')""".stripMargin)
    sql(s"INSERT INTO $C.default.ld VALUES (1), (2), (3)")
    sql(s"DELETE FROM $C.default.ld WHERE id = 2")
    // a picked file may carry the position delete -> fallback, never a
    // resurrected row
    val got = sql(s"SELECT id FROM $C.default.ld LIMIT 3").collect()
      .map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(1L, 3L))
  }

  test("metadata aggregates plan via the Spark-job route past 64 manifests") {
    init
    import spark.implicits._
    sql(s"CREATE TABLE $C.default.many (id BIGINT)")
    val tbl = cat.loadTable("many")
    // 66 fast appends -> 66 data manifests, past DistributedPlanThreshold
    for (i <- 1 to 66) tbl.append(Seq(i.toLong).toDF("id").coalesce(1))

    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = sql(s"SELECT count(*), min(id), max(id) FROM $C.default.many")
      // optimization-time aggregate computation — no action yet
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("GraftMetadataAggScan"), plan)
      // the manifest walk itself must have run as a Spark job (the
      // distributed planning route), not a driver-side .par loop
      val deadline = System.currentTimeMillis() + 10000
      while (jobs == 0 && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(jobs > 0, "expected a Spark job from distributed manifest planning")
      val r = df.head()
      assert(r.getLong(0) == 66 && r.getLong(1) == 1 && r.getLong(2) == 66)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a COUNT(*) declined for a deletion vector plans the snapshot once past 64 manifests") {
    init
    import spark.implicits._
    sql(s"""CREATE TABLE $C.default.dv (id BIGINT)
           |TBLPROPERTIES ('format-version' = '3', 'write.delete.mode' = 'merge-on-read')""".stripMargin)
    val tbl = cat.loadTable("dv")
    for (i <- 1 to 66) tbl.append(Seq(i.toLong).toDF("id").coalesce(1))
    tbl.deleteWhere(spark, "id = 3")
    assert(tbl.refresh().scan().planFiles().exists(_.deleteFiles.exists(_.isDeletionVector)))
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
    }
    org.apache.spark.TestListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = sql(s"SELECT count(*) FROM $C.default.dv")
      // planning only: the declined aggregate's manifest walk is the one
      // distributed planning job, and the scan reuses its tasks
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("GraftMetadataAggScan"), plan)
      org.apache.spark.TestListenerBus.drain(spark.sparkContext)
      assert(jobs == 1)
      assert(df.head().getLong(0) == 65)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("SUM and GROUP BY are not pushed and stay correct") {
    init
    val r1 = sql(s"SELECT sum(id) FROM $C.default.t").head()
    assert(r1.getLong(0) == 10)
    val r2 = sql(s"SELECT s, count(*) FROM $C.default.t GROUP BY s ORDER BY s").collect()
    assert(r2.length == 4)
  }
}
