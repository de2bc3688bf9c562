package graft

import graft.catalog.MemoryCatalog
import graft.spark.GraftSparkCatalog
import org.scalatest.funsuite.AnyFunSuite

/** Atomic CREATE/REPLACE TABLE AS SELECT through StagingTableCatalog:
  * the staged write never publishes until commit, a failed source query
  * leaves the old table intact (the hazard of non-atomic drop+create),
  * and the REST backend degrades gracefully. */
class StagedRtasSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val cat = new MemoryCatalog(name = "rtasmem")
  private val C = "grtas"

  private def sql(q: String) = spark.sql(q)
  private lazy val init: Unit = {
    GraftSparkCatalog.register(spark, C, cat)
    cat.createNamespace(Seq("s"), ifNotExists = true)
  }

  test("CTAS stages then publishes; data and partitioning land") {
    init
    sql(s"CREATE TABLE $C.s.src (id BIGINT, p STRING)")
    sql(s"INSERT INTO $C.s.src VALUES (1, 'a'), (2, 'b')")
    sql(s"CREATE TABLE $C.s.ct PARTITIONED BY (p) AS SELECT * FROM $C.s.src")
    assert(sql(s"SELECT id FROM $C.s.ct ORDER BY id").collect().map(_.getLong(0)).toSeq
      == Seq(1L, 2L))
    assert(cat.loadTable("s.ct").defaultPartitionSpec.fields.map(_.name) == Seq("p"))
  }

  test("REPLACE TABLE AS SELECT is one atomic swap — old table intact until publish") {
    init
    sql(s"CREATE TABLE $C.s.rt (id BIGINT, v STRING)")
    sql(s"INSERT INTO $C.s.rt VALUES (1, 'old')")
    sql(s"REPLACE TABLE $C.s.rt AS SELECT CAST(9 AS BIGINT) AS id, 'new' AS v")
    val rows = sql(s"SELECT id, v FROM $C.s.rt").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((9L, "new")))
    // REPLACE of a missing table still errors
    intercept[Exception] {
      sql(s"REPLACE TABLE $C.s.missing AS SELECT 1 AS id")
    }
  }

  test("a failing source query leaves the replaced table UNTOUCHED") {
    init
    sql(s"CREATE TABLE $C.s.safe (id BIGINT, v STRING)")
    sql(s"INSERT INTO $C.s.safe VALUES (1, 'precious'), (2, 'data')")
    intercept[Exception] {
      sql(s"CREATE OR REPLACE TABLE $C.s.safe AS " +
        "SELECT id, CAST(raise_error('boom') AS STRING) AS v FROM range(3)")
    }
    // the whole point of atomic staging: the failure cost is zero
    val rows = sql(s"SELECT id, v FROM $C.s.safe ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((1L, "precious"), (2L, "data")))
  }

  test("a REPLACE whose publish always conflicts fails after bounded retries; old table intact") {
    init
    sql(s"CREATE TABLE $C.s.contested (id BIGINT, v STRING)")
    sql(s"INSERT INTO $C.s.contested VALUES (1, 'old')")
    // a second Spark catalog over the same tables whose every CAS loses
    val conflicting = new ConflictingCatalog(cat)
    GraftSparkCatalog.register(spark, "grtasc", conflicting)
    val e = intercept[Exception] {
      sql("REPLACE TABLE grtasc.s.contested AS SELECT CAST(9 AS BIGINT) AS id, 'new' AS v")
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(_.isInstanceOf[CommitConflictError]), s"unexpected failure: $e")
    assert(conflicting.commitCalls.get == 6)
    val rows = sql(s"SELECT id, v FROM $C.s.contested").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((1L, "old")))
  }

  test("CREATE OR REPLACE works for both the missing and existing cases") {
    init
    sql(s"CREATE OR REPLACE TABLE $C.s.cor AS SELECT CAST(1 AS BIGINT) AS id")
    assert(sql(s"SELECT id FROM $C.s.cor").collect().map(_.getLong(0)).toSeq == Seq(1L))
    sql(s"CREATE OR REPLACE TABLE $C.s.cor AS SELECT CAST(2 AS BIGINT) AS id")
    assert(sql(s"SELECT id FROM $C.s.cor").collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("atomic staging works on the Hadoop catalog (pointer CAS on disk)") {
    val wh = java.nio.file.Files.createTempDirectory("graft-rtas-h").toString
    val hcat = new graft.catalog.HadoopCatalog(wh)
    GraftSparkCatalog.register(spark, "grtash", hcat)
    spark.sql("CREATE TABLE grtash.default.t AS SELECT CAST(1 AS BIGINT) AS id")
    spark.sql("REPLACE TABLE grtash.default.t AS SELECT CAST(2 AS BIGINT) AS id")
    assert(spark.sql("SELECT id FROM grtash.default.t").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
    // the swap went through the versioned pointer: v-history survives
    assert(hcat.loadTable("default.t").metadata.metadataLog.nonEmpty)
  }

  test("REST backend degrades to non-atomic replace but still works") {
    val server = new graft.catalog.RestCatalogServer().start()
    try {
      val rcat = new graft.catalog.RestCatalog(server.uri)
      rcat.createNamespace(Seq("default"), ifNotExists = true)
      GraftSparkCatalog.register(spark, "grtasr", rcat)
      spark.sql("CREATE TABLE grtasr.default.t AS SELECT CAST(1 AS BIGINT) AS id")
      spark.sql("CREATE OR REPLACE TABLE grtasr.default.t AS SELECT CAST(2 AS BIGINT) AS id")
      assert(spark.sql("SELECT id FROM grtasr.default.t").collect()
        .map(_.getLong(0)).toSeq == Seq(2L))
    } finally server.stop()
  }
}
