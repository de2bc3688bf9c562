package graft

import graft.catalog.HadoopCatalog
import graft.types.{NestedField, Schema, ILong, IString}
import org.scalatest.funsuite.AnyFunSuite

/** Path-based reads: spark.read.format("graft") — the reference's
  * StaticTable surfaced as a Spark data source (read-only, no catalog). */
class GraftDataSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val (whDir, tableDir) = {
    val wh = java.nio.file.Files.createTempDirectory("graft-ds").toString
    val cat = new HadoopCatalog(wh)
    val t = cat.createTable("default.ev",
      Schema(0, Seq(NestedField(1, "id", ILong), NestedField(2, "name", IString))))
    t.append(Seq((1L, "one"), (2L, "two")).toDF("id", "name"))
    t.append(Seq((3L, "three")).toDF("id", "name"))
    t.appendToBranch("audit", Seq((9L, "staged")).toDF("id", "name"))
    (wh, s"$wh/default/ev")
  }

  test("load a table directory at the current snapshot") {
    val df = spark.read.format("graft").load(tableDir)
    assert(df.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
  }

  test("snapshot-id and branch options time-travel") {
    val cat = new HadoopCatalog(whDir)
    val first = cat.loadTable("default.ev").history.head.snapshotId
    val asOf = spark.read.format("graft")
      .option("snapshot-id", first.toString).load(tableDir)
    assert(asOf.count() == 2)
    val branch = spark.read.format("graft").option("branch", "audit").load(tableDir)
    assert(branch.count() == 4)
  }

  test("a pinned metadata.json path reads that exact version") {
    val v1 = s"$tableDir/metadata/v2.metadata.json" // v1=create, v2=first append
    val df = spark.read.format("graft").load(v1)
    assert(df.count() == 2)
  }

  test("SQL via CREATE TEMPORARY VIEW ... USING graft") {
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW ev_static
                 |USING graft OPTIONS (path '$tableDir')""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM ev_static").head().getLong(0) == 3)
    // filters still push into the native pruned scan through the V1 bridge
    assert(spark.sql("SELECT name FROM ev_static WHERE id = 3").head().getString(0) == "three")
  }

  test("hadoop.* read options overlay the filesystem conf (storage_options parity)") {
    // benign option: read still works, option reaches the conf
    val df = spark.read.format("graft")
      .option("hadoop.io.file.buffer.size", "8192").load(tableDir)
    assert(df.count() == 3)
    // the option demonstrably reaches the Configuration: a bogus fs impl
    // for the path's scheme must break resolution
    val e = intercept[Exception] {
      spark.read.format("graft")
        .option("hadoop.fs.file.impl", "no.such.FileSystemImpl")
        .option("hadoop.fs.file.impl.disable.cache", "true")
        .load(tableDir).collect()
    }
    assert(e.getMessage != null)
  }

  test("a hadoop.fs.<scheme>.impl read option alone makes the data files readable") {
    val wh = CatalogOnlyFileSystem.tempDir("graft-ds-catonly")
    val t = new HadoopCatalog(wh, hadoopConf = CatalogOnlyFileSystem.conf()).createTable("default.ev",
      Schema(0, Seq(NestedField(1, "id", ILong), NestedField(2, "name", IString))))
    t.append(Seq((1L, "one"), (2L, "two")).toDF("id", "name"))
    val reader = CatalogOnlyFileSystem.entries.foldLeft(spark.read.format("graft")) {
      case (r, (k, v)) => r.option(s"hadoop.$k", v)
    }
    assert(reader.load(s"$wh/default/ev").orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    intercept[Exception](spark.read.format("graft").load(s"$wh/default/ev").collect())
  }

  test("writes are rejected: no catalog, read-only") {
    val e = intercept[Exception] {
      Seq((4L, "four")).toDF("id", "name")
        .write.format("graft").mode("append").save(tableDir)
    }
    val msg = e.getMessage.toLowerCase
    assert(msg.contains("read-only") || msg.contains("does not support") ||
      msg.contains("does not allow"))
  }
}
