package graft

import graft.catalog.MemoryCatalog
import graft.meta.{PartitionField, PartitionSpec}
import graft.spark.GraftSparkCatalog
import graft.types._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicLong

/** The one table writer (`graft.table.DataFileWriter`) seen from outside:
  * manifest path form across every write route, job-failure cleanup, the
  * empty-input contract, partition tuple strings, and the Spark-visible
  * side of a write (a SQL execution with task output metrics). */
class DataFileWriterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val C = "gdfw"
  private lazy val cat = {
    val c = new MemoryCatalog(name = "dfwmem")
    GraftSparkCatalog.register(spark, C, c)
    c
  }

  private val idK = Schema(0, Seq(
    NestedField(1, "id", ILong, required = false),
    NestedField(2, "k", IString, required = false)))

  /** Every file under `location/data`, hidden and marker files included. */
  private def filesUnder(location: String): Seq[String] = {
    val dir = new Path(location, "data")
    val fs = dir.getFileSystem(new Configuration())
    if (!fs.exists(dir)) Nil
    else {
      val it = fs.listFiles(dir, true)
      Iterator.continually(()).takeWhile(_ => it.hasNext).map(_ => it.next().getPath.toString).toSeq
    }
  }

  private def manifestPaths(t: graft.table.Table): Seq[String] =
    t.refresh().scan().planFiles().flatMap(task => task.filePath +: task.deleteFiles.map(_.filePath))

  test("batch append, writeStream.toTable and dynamic INSERT OVERWRITE record qualified paths") {
    import spark.implicits._
    val t = cat.createTable("paths_t", idK,
      partitionSpec = PartitionSpec(0, Seq(PartitionField(2, 1000, "k", "identity"))))
    assert(!t.location.contains(":"), s"the table location must have no scheme: ${t.location}")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "k"))

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("dfw-ckpt").toString
    val q = mem.toDF().toDF("id", "k").writeStream.option("checkpointLocation", ckpt)
      .toTable(s"$C.default.paths_t")
    try {
      mem.addData((3L, "c"))
      q.processAllAvailable()
    } finally q.stop()

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try spark.sql(s"INSERT OVERWRITE $C.default.paths_t VALUES (4, 'd')")
    finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")

    val tbl = cat.loadTable("paths_t")
    assert(tbl.toDF(spark).select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    val paths = manifestPaths(tbl)
    assert(paths.size == 4)
    paths.foreach(p => assert(p.startsWith("file:/") && !p.startsWith("file:///"), p))
  }

  test("a write job that fails after other tasks finished leaves no file and no snapshot") {
    import org.apache.spark.sql.functions.{col, udf}
    val t = cat.createTable("fail_t", idK)
    t.append(spark.range(0, 4).selectExpr("id", "'seed' AS k"))
    val before = filesUnder(t.location).toSet
    val snapshots = cat.loadTable("fail_t").snapshots.length
    // the task holding id 37 fails once the other three have committed
    val boom = udf { (id: Long) =>
      if (id == 37L) { Thread.sleep(1500); throw new IllegalStateException("boom") }
      id
    }
    val df = spark.range(0, 40, 1, 4).select(boom(col("id")).as("id"))
      .selectExpr("id", "'x' AS k")
    intercept[Exception](cat.loadTable("fail_t").append(df))
    assert(filesUnder(t.location).toSet == before)
    assert(cat.loadTable("fail_t").snapshots.length == snapshots)
  }

  test("appending an empty DataFrame writes no file and commits no snapshot") {
    import spark.implicits._
    val t = cat.createTable("empty_t", idK)
    t.append(Seq((1L, "a")).toDF("id", "k"))
    val snapshots = cat.loadTable("empty_t").snapshots.length
    val files = filesUnder(t.location).toSet
    // no input partition at all, and four input partitions with no rows
    cat.loadTable("empty_t").append(Seq.empty[(Long, String)].toDF("id", "k"))
    cat.loadTable("empty_t").append(spark.range(0, 8, 1, 4).selectExpr("id", "'z' AS k").filter("id < 0"))
    assert(cat.loadTable("empty_t").snapshots.length == snapshots)
    assert(filesUnder(t.location).toSet == files)
  }

  test("partition tuple strings are Spark's cast to string, for every transform result type") {
    val schema = Schema(0, Seq(
      NestedField(1, "i", IInt, required = false),
      NestedField(2, "l", ILong, required = false),
      NestedField(3, "s", IString, required = false),
      NestedField(4, "d", IDate, required = false),
      NestedField(5, "b", IBoolean, required = false),
      NestedField(6, "dec", IDecimal(10, 2), required = false),
      NestedField(7, "ts", ITimestamp, required = false)))
    val fields = Seq(
      (1, "identity"), (2, "identity"), (3, "identity"), (4, "identity"), (5, "identity"),
      (6, "identity"), (7, "identity"), (2, "bucket[4]"), (3, "bucket[8]"),
      (3, "truncate[2]"), (1, "truncate[10]"), (6, "truncate[100]"),
      (7, "year"), (7, "month"), (7, "day"), (7, "hour"), (4, "day"))
    val spec = PartitionSpec(0, fields.zipWithIndex.map { case ((src, tr), i) =>
      PartitionField(src, 1000 + i, s"p${i}_${tr.takeWhile(_ != '[')}", tr) })
    def tuples(name: String, rows: Seq[String]): Seq[Seq[String]] = {
      val t = cat.createTable(name, schema, partitionSpec = spec)
      t.append(spark.sql(rows.map(r => s"SELECT $r").mkString(" UNION ALL "))
        .toDF("i", "l", "s", "d", "b", "dec", "ts"))
      cat.loadTable(name).scan().planFiles().map { task =>
        spec.fields.map(pf => task.file.partition.getOrElse(pf.name, "<absent>"))
      }.sortBy(_.mkString("|"))
    }
    // the strings existing tables already carry for these rows (Spark's
    // partition-directory form), so they must not change
    assert(tuples("tuples_t", Seq(
      "1, 10000000000, 'plain', DATE'2024-02-29', true, 12.50, TIMESTAMP_NTZ'2024-02-29 13:45:00'",
      "-3, -1, '', DATE'1969-12-31', false, -0.01, TIMESTAMP_NTZ'1969-12-31 23:59:59'",
      "NULL, NULL, NULL, NULL, NULL, NULL, NULL",
      "0, 0, 'a/b=c%d e', DATE'1970-01-01', true, 0.00, TIMESTAMP_NTZ'1970-01-01 00:00:00'",
      "7, 7, 'hello', DATE'2000-01-01', false, 99999999.99, TIMESTAMP_NTZ'2000-01-01 00:00:00.5'",
      "8, 8, '%25', DATE'2000-01-02', false, 1.00, TIMESTAMP_NTZ'2000-01-01 01:00:00'")) == Seq(
      Seq("-3", "-1", "", "1969-12-31", "false", "-0.01", "1969-12-31 23:59:59", "0", "0", "",
        "-10", "-1.00", "-1", "-1", "-1", "-1", "-1"),
      Seq("0", "0", "a/b=c%d e", "1970-01-01", "true", "0.00", "1970-01-01 00:00:00", "0", "6",
        "a/", "0", "0.00", "0", "0", "0", "0", "0"),
      Seq("1", "10000000000", "plain", "2024-02-29", "true", "12.50", "2024-02-29 13:45:00", "3",
        "1", "pl", "0", "12.00", "54", "649", "19782", "474781", "19782"),
      Seq("7", "7", "hello", "2000-01-01", "false", "99999999.99", "2000-01-01 00:00:00.5", "3",
        "7", "he", "0", "99999999.00", "30", "360", "10957", "262968", "10957"),
      Seq("8", "8", "%25", "2000-01-02", "false", "1.00", "2000-01-01 01:00:00", "3", "4", "%2",
        "0", "1.00", "30", "360", "10957", "262969", "10958"),
      Seq.fill(17)("")))
    // non-ASCII values never reach a file path, so the write does not
    // depend on the host's file-name encoding
    val text = "h\u00e9llo \u65e5\u672c"
    val bucket = graft.transforms.BucketTransform(8)(text, IString).toString
    assert(tuples("tuples_u", Seq(
      s"7, 7, '$text', DATE'2000-01-01', false, 1.00, TIMESTAMP_NTZ'2000-01-01 00:00:00'")) == Seq(
      Seq("7", "7", text, "2000-01-01", "false", "1.00", "2000-01-01 00:00:00", "3", bucket,
        text.take(2), "0", "1.00", "30", "360", "10957", "262968", "10957")))
  }

  test("a table write is a SQL execution whose tasks report the bytes and rows they wrote") {
    import spark.implicits._
    val t = cat.createTable("obs_t", idK)
    val executions = new AtomicLong()
    val bytes = new AtomicLong()
    val records = new AtomicLong()
    val qel = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executions.incrementAndGet()
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sl = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) {
        bytes.addAndGet(e.taskMetrics.outputMetrics.bytesWritten)
        records.addAndGet(e.taskMetrics.outputMetrics.recordsWritten)
      }
    }
    spark.listenerManager.register(qel)
    spark.sparkContext.addSparkListener(sl)
    try {
      t.append((0L until 1000L).map(i => (i, s"k$i")).toDF("id", "k").repartition(3))
      val files = cat.loadTable("obs_t").scan().planFiles().map(_.file)
      val deadline = System.currentTimeMillis() + 20000
      while ((executions.get == 0 || records.get < 1000) && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(executions.get >= 1)
      assert(records.get == 1000L)
      assert(bytes.get == files.map(_.fileSizeInBytes).sum)
    } finally {
      spark.listenerManager.unregister(qel)
      spark.sparkContext.removeSparkListener(sl)
    }
  }
}
