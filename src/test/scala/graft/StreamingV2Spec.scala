package graft

import graft.types.{IDouble, IInt, ILong, IString, IStruct, NestedField, Schema}
import org.scalatest.funsuite.AnyFunSuite

/** Driver-side state for the Trigger.AvailableNow mid-run-commit test
  * (foreachBatch closures need a stable object to report into). */
object AvailableNowProbe {
  val rows = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  val injected = new java.util.concurrent.atomic.AtomicBoolean(false)
  @volatile var sourceTable: graft.table.Table = _
}

/**
 * The DataSource V2 micro-batch stream (`GraftMicroBatchStream`), the one
 * streaming read path: engagement for every addressing mode and schema,
 * resuming a checkpoint the former V1 source wrote, schema-pinned field-id
 * reads with initial-defaults, type parity with the batch read, and the
 * loud-failure contract on an expired resume point.
 */
class StreamingV2Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def mkTable(prefix: String, schema: Schema): (String, graft.table.Table) = {
    val wh = java.nio.file.Files.createTempDirectory(prefix).toString
    val cat = new graft.catalog.HadoopCatalog(wh)
    (s"$wh/default/t", cat.createTable("default.t", schema))
  }

  private val idSchema =
    Schema(0, Seq(NestedField(1, "id", ILong, required = false)))

  private def sourceDescription(q: org.apache.spark.sql.streaming.StreamingQuery): String =
    q.lastProgress.sources.head.description

  test("readStream format(graft) engages the V2 micro-batch stream") {
    import spark.implicits._
    val (dir, tbl) = mkTable("graft-v2-engage", idSchema)
    tbl.append(Seq(1L, 2L).toDF("id"))

    val q = spark.readStream.format("graft").load(dir)
      .writeStream.format("memory").queryName("v2_engage").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(sourceDescription(q).startsWith("GraftMicroBatchStream"),
        s"default path must be the V2 stream, got: ${sourceDescription(q)}")
      assert(spark.table("v2_engage").collect().map(_.getLong(0)).sorted.toSeq ==
        Seq(1L, 2L))
    } finally q.stop()
  }

  test("CDC mode (read-changes) engages the V2 stream, by path or warehouse+table") {
    import spark.implicits._
    val (dir, tbl) = mkTable("graft-v2-cdc", idSchema)
    tbl.append(Seq(1L).toDF("id"))
    val q = spark.readStream.format("graft").option("read-changes", "true").load(dir)
      .writeStream.format("memory").queryName("v2_cdc").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(sourceDescription(q).startsWith("GraftMicroBatchStream"),
        s"CDC must ride the V2 stream now, got: ${sourceDescription(q)}")
      assert(spark.table("v2_cdc").select("_change_type").collect()
        .map(_.getString(0)).toSeq == Seq("insert"))
    } finally q.stop()

    // the catalog-resolved provider form streams CDC through V2 as well
    val wh = new java.io.File(dir).getParentFile.getParent
    val q1 = spark.readStream.format("graft").option("read-changes", "true")
      .option("warehouse", wh).option("table", "default.t").load()
      .writeStream.format("memory").queryName("v2_cdc_wh").outputMode("append").start()
    try {
      q1.processAllAvailable()
      assert(sourceDescription(q1).startsWith("GraftMicroBatchStream"),
        s"warehouse+table CDC must ride the V2 stream, got: ${sourceDescription(q1)}")
      assert(spark.table("v2_cdc_wh").select("_change_type").collect()
        .map(_.getString(0)).toSeq == Seq("insert"))
    } finally q1.stop()
  }

  test("V2 CDC streams every commit shape; scratch diffs are cleaned up after commit") {
    import spark.implicits._
    val kvSchema = Schema(0, Seq(
      NestedField(1, "id", ILong, required = false),
      NestedField(2, "k", IString, required = false)))
    val (dir, tbl) = mkTable("graft-v2-cdc-shapes", kvSchema)
    // three commit shapes: append (direct file partitions), equality-delete
    // upsert and a COW delete (both through the scratch diff path)
    tbl.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "k"))
    tbl.upsert(spark, Seq((2L, "B2"), (4L, "d")).toDF("id", "k"), Seq("id"))
    tbl.delete(spark, Seq(graft.table.EqPred("id", 1L)))

    val q = spark.readStream.format("graft").option("read-changes", "true").load(dir)
      .writeStream.format("memory").queryName("v2_cdc_shapes").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(sourceDescription(q).startsWith("GraftMicroBatchStream"))
      val rows = spark.table("v2_cdc_shapes")
        .select("id", "k", "_change_type", "_commit_sequence")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSet
      // commit 1 (seq 1): three inserts; commit 2 (seq 2): delete(2,b) +
      // inserts (2,B2),(4,d); commit 3 (seq 3): delete(1,a)
      assert(rows == Set(
        (1L, "a", "insert", 1L), (2L, "b", "insert", 1L), (3L, "c", "insert", 1L),
        (2L, "b", "delete", 2L), (2L, "B2", "insert", 2L), (4L, "d", "insert", 2L),
        (1L, "a", "delete", 3L)))
    } finally q.stop()
    // stop (and per-batch commits before it) must reclaim every scratch diff
    val scratch = new java.io.File(dir, "_cdc_scratch")
    assert(!scratch.exists() || scratch.listFiles().isEmpty,
      s"scratch not cleaned: ${Option(scratch.listFiles()).map(_.toSeq).getOrElse(Nil)}")
  }

  test("a struct column streams through the V2 stream") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val (dir, tbl) = mkTable("graft-v2-struct", Schema(0, Seq(
      NestedField(1, "id", ILong, required = false),
      NestedField(2, "loc", IStruct(Seq(
        NestedField(3, "lat", IDouble, required = false),
        NestedField(4, "lon", IDouble, required = false))), required = false))))
    val sparkSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("loc", StructType(Seq(
        StructField("lat", DoubleType), StructField("lon", DoubleType))))))
    tbl.append(spark.createDataFrame(
      java.util.List.of(Row(1L, Row(1.5, -2.5))), sparkSchema))

    val q = spark.readStream.format("graft").load(dir)
      .writeStream.format("memory").queryName("v2_struct").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(sourceDescription(q).startsWith("GraftMicroBatchStream"),
        s"every schema streams through V2, got: ${sourceDescription(q)}")
      val r = spark.table("v2_struct").collect().head
      assert(r.getLong(0) == 1L && r.getStruct(1).getDouble(0) == 1.5)
    } finally q.stop()
  }

  test("a V1 checkpoint resumes under V2 (same offset wire format), exactly once") {
    import spark.implicits._
    val (dir, tbl) = mkTable("graft-v2-interop", idSchema)
    val wh = new java.io.File(dir).getParentFile.getParent
    val cat = new graft.catalog.HadoopCatalog(wh)
    cat.createTable("default.out", idSchema)
    // the checkpoint (offsets, commits, metadata) of a V1-source query
    // that consumed this table's first commit (sequence 1) into a graft
    // sink, as the former V1 source wrote it
    val cp = java.nio.file.Files.createTempDirectory("graft-v2-interop-cp")
    for (f <- Seq("metadata", "offsets/0", "commits/0")) {
      val target = cp.resolve(f)
      java.nio.file.Files.createDirectories(target.getParent)
      val in = getClass.getResourceAsStream(s"/v1-stream-checkpoint/$f")
      try java.nio.file.Files.copy(in, target) finally in.close()
    }
    tbl.append(Seq(1L, 2L).toDF("id"))
    tbl.refresh().append(Seq(3L).toDF("id"))

    val q = spark.readStream.format("graft").load(dir)
      .writeStream.format("graft")
      .option("warehouse", wh).option("table", "default.out")
      .option("checkpointLocation", cp.toString).start()
    try {
      q.processAllAvailable()
      assert(sourceDescription(q).startsWith("GraftMicroBatchStream"))
      assert(cat.loadTable("default.out").toDF(spark).collect().map(_.getLong(0)).toSeq == Seq(3L),
        "the V2 resume must deliver ONLY the new commit — no replay, no gap")
    } finally q.stop()
  }

  test("V2 reads old files under the pinned schema: rename keeps data, added column reads its default") {
    import spark.implicits._
    val (dir, tbl) = mkTable("graft-v2-evol", Schema(0, Seq(
      NestedField(1, "id", ILong, required = false),
      NestedField(2, "k", IString, required = false))))
    tbl.append(Seq((1L, "old")).toDF("id", "k"))
    tbl.updateSchema()
      .renameColumn("k", "kk")
      .addRequiredColumn("score", IInt, 7)
      .commit()
    tbl.refresh().append(Seq((2L, "new", 9)).toDF("id", "kk", "score"))

    val q = spark.readStream.format("graft").load(dir)
      .writeStream.format("memory").queryName("v2_evol").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(sourceDescription(q).startsWith("GraftMicroBatchStream"))
      val rows = spark.table("v2_evol").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      assert(rows == Set((1L, "old", 7), (2L, "new", 9)),
        s"field-id projection + initial-default, got $rows")
    } finally q.stop()
  }

  test("V2 restart past an expired offset fails loudly and delivers nothing") {
    import spark.implicits._
    val (dir, tbl) = mkTable("graft-v2-exp", idSchema)
    val wh = new java.io.File(dir).getParentFile.getParent
    val cat = new graft.catalog.HadoopCatalog(wh)
    cat.createTable("default.expout", idSchema)
    val cp = java.nio.file.Files.createTempDirectory("graft-v2-exp-cp").toString
    tbl.append(Seq(1L).toDF("id"))

    def startQuery() = spark.readStream.format("graft").load(dir)
      .writeStream.format("graft")
      .option("warehouse", wh).option("table", "default.expout")
      .option("checkpointLocation", cp).start()
    def outRows = cat.loadTable("default.expout").toDF(spark).collect()
      .map(_.getLong(0)).sorted.toSeq

    val q1 = startQuery()
    try {
      q1.processAllAvailable()
      assert(sourceDescription(q1).startsWith("GraftMicroBatchStream"))
      assert(outRows == Seq(1L))
    } finally q1.stop()

    // maintenance outruns the consumer: the offset's snapshot is expired
    tbl.refresh().append(Seq(2L).toDF("id"))
    tbl.refresh().append(Seq(3L).toDF("id"))
    tbl.refresh().expireSnapshots(System.currentTimeMillis() + 60000, retainLast = 1)

    val q2 = startQuery()
    val e = intercept[Exception] {
      q2.processAllAvailable()
      q2.awaitTermination(30000)
    }
    q2.stop()
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("expired")),
      s"expected the loud expiration error, got: ${messages(e)}")
    assert(outRows == Seq(1L), "an unresumable checkpoint must deliver NOTHING")
  }

  test("V2 admission control: max-snapshots-per-trigger caps each batch, backlog drains in order") {
    import spark.implicits._
    val (dir, tbl) = mkTable("graft-v2-cap", idSchema)
    for (i <- 1 to 4) tbl.append(Seq(i.toLong).toDF("id"))

    val q = spark.readStream.format("graft")
      .option("max-snapshots-per-trigger", "2").load(dir)
      .writeStream.format("memory").queryName("v2_cap").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(sourceDescription(q).startsWith("GraftMicroBatchStream"))
      assert(spark.table("v2_cap").collect().map(_.getLong(0)).sorted.toSeq ==
        Seq(1L, 2L, 3L, 4L))
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(dataBatches >= 2, s"4-commit backlog at cap 2 needs >=2 batches, got $dataBatches")
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains the backlog under the cap, stops, and ignores mid-run commits") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val (dir, tbl) = mkTable("graft-v2-avnow", idSchema)
    for (i <- 1 to 3) tbl.append(Seq(i.toLong).toDF("id"))

    // batch 0 appends a NEW source commit mid-drain: AvailableNow captured
    // its end offset at query start, so id=99 must NOT be consumed
    AvailableNowProbe.rows.clear()
    AvailableNowProbe.injected.set(false)
    AvailableNowProbe.sourceTable = tbl
    val q = spark.readStream.format("graft")
      .option("max-snapshots-per-trigger", "1").load(dir)
      .writeStream.trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select("id").collect().foreach(r => AvailableNowProbe.rows.add(r.getLong(0)))
        if (AvailableNowProbe.injected.compareAndSet(false, true)) {
          val s = batch.sparkSession
          import s.implicits._
          AvailableNowProbe.sourceTable.refresh().append(Seq(99L).toDF("id"))
        }
      }.start()
    try {
      assert(q.awaitTermination(120000), "AvailableNow query must stop on its own")
      val got = {
        import scala.jdk.CollectionConverters._
        AvailableNowProbe.rows.asScala.toSeq.sorted
      }
      assert(got == Seq(1L, 2L, 3L),
        s"drain to the captured end only — the mid-run commit waits, got $got")
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
        "the cap still applies: one commit per trigger")
    } finally q.stop()

    // the next invocation picks up exactly the commit that waited
    val q2 = spark.readStream.format("graft")
      .option("max-snapshots-per-trigger", "1").load(dir)
      .writeStream.trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select("id").collect().foreach(r => AvailableNowProbe.rows.add(r.getLong(0)))
      }.option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-v2-avnow-cp2").toString)
      .start()
    try {
      assert(q2.awaitTermination(120000))
      val got2 = {
        import scala.jdk.CollectionConverters._
        AvailableNowProbe.rows.asScala.toSeq.sorted
      }
      // fresh checkpoint: this run replays 1..3 and now also sees 99
      assert(got2 == Seq(1L, 1L, 2L, 2L, 3L, 3L, 99L), s"got $got2")
    } finally q2.stop()
  }

  test("V2 source reports lag metrics (behindCommits) in query progress") {
    import spark.implicits._
    val (dir, tbl) = mkTable("graft-v2-metrics", idSchema)
    tbl.append(Seq(1L).toDF("id"))
    val q = spark.readStream.format("graft").load(dir)
      .writeStream.format("memory").queryName("v2_metrics").outputMode("append").start()
    try {
      q.processAllAvailable()
      val m = q.lastProgress.sources.head.metrics
      assert(m.get("behindCommits") == "0",
        s"caught-up consumer must report zero lag, got $m")
      assert(m.containsKey("latestSequenceNumber"))
    } finally q.stop()
  }

  test("branch option streams the audit branch's ancestry, tracking fastForward") {
    import spark.implicits._
    val (dir, tbl) = mkTable("graft-v2-branch", idSchema)
    tbl.append(Seq(1L).toDF("id"))
    tbl.refresh().appendToBranch("audit", Seq(99L).toDF("id"))

    // the audit consumer sees main's history PLUS the staged commit
    val q = spark.readStream.format("graft").option("branch", "audit").load(dir)
      .writeStream.format("memory").queryName("v2_branch").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(sourceDescription(q).startsWith("GraftMicroBatchStream"))
      def ids = spark.table("v2_branch").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 99L),
        s"the branch stream must include staged commits, got $ids")
      // more staged work arrives; publishing to main must not re-deliver
      tbl.refresh().appendToBranch("audit", Seq(100L).toDF("id"))
      q.processAllAvailable()
      assert(ids == Seq(1L, 99L, 100L))
      tbl.refresh().fastForward("main", "audit")
      q.processAllAvailable()
      assert(ids == Seq(1L, 99L, 100L), "fastForward adds no new branch commits")
    } finally q.stop()
  }

  test("streaming rejects pinned-snapshot options (snapshot-id / as-of-timestamp-ms)") {
    import spark.implicits._
    val (dir, tbl) = mkTable("graft-v2-pin", idSchema)
    tbl.append(Seq(1L).toDF("id"))
    val sid = tbl.currentSnapshot.get.snapshotId
    val q = spark.readStream.format("graft")
      .option("snapshot-id", sid.toString).load(dir)
      .writeStream.format("memory").queryName("v2_pin").outputMode("append").start()
    val e = intercept[Exception] {
      q.processAllAvailable()
      q.awaitTermination(30000)
    }
    q.stop()
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("cannot stream")), s"got: ${messages(e)}")
  }

  test("max-rows-per-trigger caps batches by appended rows at commit granularity") {
    import spark.implicits._
    val (dir, tbl) = mkTable("graft-v2-rowcap", idSchema)
    tbl.append(Seq(1L, 2L).toDF("id"))            // 2 rows
    tbl.refresh().append(Seq(3L, 4L, 5L).toDF("id"))        // 3 rows
    tbl.refresh().append(Seq(6L, 7L, 8L, 9L).toDF("id"))    // 4 rows

    val q = spark.readStream.format("graft")
      .option("max-rows-per-trigger", "5").load(dir)
      .writeStream.format("memory").queryName("v2_rowcap").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("v2_rowcap").collect().map(_.getLong(0)).sorted.toSeq ==
        (1L to 9L))
      val batchSizes = q.recentProgress.filter(_.numInputRows > 0)
        .map(_.numInputRows).toSeq
      // commits of 2+3 fill the 5-row budget exactly; the 4-row commit
      // lands alone (a commit is never split)
      assert(batchSizes == Seq(5L, 4L), s"got $batchSizes")
    } finally q.stop()
  }

  test("spark.readStream.table streams a catalog table (refresh through its own catalog)") {
    import spark.implicits._
    val cat = new graft.catalog.MemoryCatalog(name = "streammem")
    graft.spark.GraftSparkCatalog.register(spark, "gstream", cat)
    cat.createNamespace(Seq("db"), ifNotExists = true)
    val tbl = cat.createTable("db.src", idSchema)
    tbl.append(Seq(1L, 2L).toDF("id"))

    val q = spark.readStream
      .option("max-snapshots-per-trigger", "1")
      .table("gstream.db.src")
      .writeStream.format("memory").queryName("v2_cat").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(sourceDescription(q).startsWith("GraftMicroBatchStream"),
        s"catalog tables must stream through V2, got: ${sourceDescription(q)}")
      def ids = spark.table("v2_cat").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 2L))
      // a new commit through the catalog arrives as its own micro-batch —
      // the in-memory catalog has no filesystem layout to re-resolve, so
      // this proves the refresh loader path
      tbl.refresh().append(Seq(3L).toDF("id"))
      q.processAllAvailable()
      assert(ids == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("warehouse+table options stream through the catalog loader (no path needed)") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-v2-whopt").toString
    val cat = new graft.catalog.HadoopCatalog(wh)
    val tbl = cat.createTable("default.t", idSchema)
    tbl.append(Seq(1L).toDF("id"))
    // the catalog-resolved stream needs no path
    val q = spark.readStream.format("graft")
      .option("warehouse", wh).option("table", "default.t").load()
      .writeStream.format("memory").queryName("v2_whopt").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(sourceDescription(q).startsWith("GraftMicroBatchStream"))
      def ids = spark.table("v2_whopt").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L))
      tbl.refresh().append(Seq(2L).toDF("id"))
      q.processAllAvailable()
      assert(ids == Seq(1L, 2L))
    } finally q.stop()
  }

  test("streaming a time-travel (VERSION AS OF) table fails loudly") {
    import spark.implicits._
    val cat = new graft.catalog.MemoryCatalog(name = "streammem2")
    graft.spark.GraftSparkCatalog.register(spark, "gstream2", cat)
    cat.createNamespace(Seq("db"), ifNotExists = true)
    val tbl = cat.createTable("db.tt", idSchema)
    tbl.append(Seq(1L).toDF("id"))
    val sid = tbl.currentSnapshot.get.snapshotId
    val e = intercept[Exception] {
      val q = spark.readStream
        .option("snapshot-id", sid.toString)  // batch-style pin: not streamable
        .table("gstream2.db.tt")
        .writeStream.format("memory").queryName("v2_tt").outputMode("append").start()
      try {
        q.processAllAvailable()
        q.awaitTermination(30000)
      } finally q.stop()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(m => m.contains("cannot stream")), s"got: ${messages(e)}")
  }

  test("V2 row reader equals the batch (vectorized) reader across every streamable type") {
    import graft.types._
    import org.apache.spark.sql.Row
    val schema = Schema(0, Seq(
      NestedField(1, "b", IBoolean, required = false),
      NestedField(2, "i", IInt, required = false),
      NestedField(3, "l", ILong, required = false),
      NestedField(4, "f", IFloat, required = false),
      NestedField(5, "d", IDouble, required = false),
      NestedField(6, "s", IString, required = false),
      NestedField(7, "dt", IDate, required = false),
      NestedField(8, "ts", ITimestamp, required = false),
      NestedField(9, "bin", IBinary, required = false),
      NestedField(10, "dec9", IDecimal(9, 2), required = false),
      NestedField(11, "dec18", IDecimal(18, 4), required = false),
      NestedField(12, "arr", IList(13, ILong, elementRequired = false), required = false),
      NestedField(14, "st", IStruct(Seq(
        NestedField(15, "x", IInt, required = false),
        NestedField(16, "y", IString, required = false))), required = false),
      NestedField(17, "m", IMap(18, IString, 19, ILong, valueRequired = false), required = false),
      NestedField(20, "ls", IList(21, IStruct(Seq(
        NestedField(22, "a", ILong, required = false),
        NestedField(23, "z", IDouble, required = false))), elementRequired = false), required = false),
      NestedField(24, "u", IUuid, required = false),
      NestedField(25, "fx", IFixed(4), required = false),
      NestedField(26, "tm", ITime, required = false),
      NestedField(27, "tsn", ITimestampNano, required = false)))
    val sparkSchema = graft.types.SparkSchemaConverter.toSpark(schema)
    val rows = java.util.List.of(
      Row(true, 1, 10L, 1.5f, 2.5, "alpha", java.sql.Date.valueOf("2026-01-02"),
        java.time.LocalDateTime.parse("2026-01-02T03:04:05.123456"),
        Array[Byte](1, 2, 3), new java.math.BigDecimal("1234567.89"),
        new java.math.BigDecimal("12345678901234.5678"), Seq(1L, 2L, 3L),
        Row(5, "five"), Map("k1" -> 1L, "k2" -> null), Seq(Row(1L, 0.5), null, Row(null, -1.0)),
        "f79c3e09-677c-4bbd-a479-3f349cb785e7", Array[Byte](9, 8, 7, 6), 3723000001L,
        java.time.LocalDateTime.parse("2026-01-02T03:04:05.987654")),
      Row(false, -7, -70L, -0.25f, -0.5, "", java.sql.Date.valueOf("1969-12-31"),
        java.time.LocalDateTime.parse("1969-12-31T23:59:59.999999"),
        Array[Byte](), new java.math.BigDecimal("-0.01"),
        new java.math.BigDecimal("-0.0001"), Seq(),
        Row(null, null), Map(), Seq(),
        "00000000-0000-0000-0000-000000000000", Array[Byte](0, 0, 0, 0), 0L,
        java.time.LocalDateTime.parse("1969-12-31T23:59:59.000001")),
      Row(Seq.fill(19)(null): _*))
    def canon(r: Row): String = r.toSeq.map {
      case b: Array[Byte] => b.toSeq.toString
      case x => String.valueOf(x)
    }.mkString("|")
    def streamed(df: org.apache.spark.sql.DataFrame, name: String): Seq[String] = {
      val q = df.writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        q.processAllAvailable()
        assert(sourceDescription(q).startsWith("GraftMicroBatchStream"))
        spark.table(name).collect().map(canon).sorted.toSeq
      } finally q.stop()
    }
    def assertSame(stream: Seq[String], batch: Seq[String]): Unit =
      assert(stream == batch, s"streamed rows must equal the batch read\nstream: $stream\nbatch:  $batch")

    // by path
    val (dir, tbl) = mkTable("graft-v2-types", schema)
    tbl.append(spark.createDataFrame(rows, sparkSchema))
    assertSame(streamed(spark.readStream.format("graft").load(dir), "v2_types"),
      tbl.refresh().toDF(spark).collect().map(canon).sorted.toSeq)

    // through a catalog: readStream.table over an in-memory catalog
    val cat = new graft.catalog.MemoryCatalog(name = "streamtypes")
    graft.spark.GraftSparkCatalog.register(spark, "gtypes", cat)
    cat.createNamespace(Seq("db"), ifNotExists = true)
    val ctbl = cat.createTable("db.types", schema)
    ctbl.append(spark.createDataFrame(rows, sparkSchema))
    assertSame(streamed(spark.readStream.table("gtypes.db.types"), "v2_types_cat"),
      ctbl.refresh().toDF(spark).collect().map(canon).sorted.toSeq)
    // the catalog resolves the schema before the scan's options arrive, so
    // a CDC read of a catalog table fails loudly, typed
    val e = intercept[Exception] {
      val q = spark.readStream.option("read-changes", "true").table("gtypes.db.types")
        .writeStream.format("memory").queryName("v2_types_cat_cdc").outputMode("append").start()
      try { q.processAllAvailable(); q.awaitTermination(30000) } finally q.stop()
    }
    def causes(t: Throwable): Seq[Throwable] = if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.isInstanceOf[UnsupportedFeatureError]), s"got: ${causes(e)}")

    // CDC: an append (read as change rows of its data files) and an
    // upsert (through the scratch diff) against changesBetween
    val changed = java.util.List.of(Row.fromSeq(rows.get(0).toSeq.updated(5, "beta")))
    tbl.refresh().upsert(spark, spark.createDataFrame(changed, sparkSchema), Seq("l"))
    val head = tbl.refresh()
    val changes = graft.streaming.StreamingOps.changesBetween(spark, head, None, head.currentSnapshotId)
      .collect().map(canon).sorted.toSeq
    assert(changes.exists(_.contains("|delete|")) && changes.exists(_.contains("|beta|")))
    assertSame(streamed(spark.readStream.format("graft").option("read-changes", "true").load(dir),
      "v2_types_cdc"), changes)
  }

  test("V2 non-append commit: loud error by default, skip-non-appends streams appends only") {
    import spark.implicits._
    val (dir, tbl) = mkTable("graft-v2-na", idSchema)
    tbl.append(Seq(1L).toDF("id"))
    tbl.refresh().delete(spark, Seq(graft.table.EqPred("id", 1L)))
    tbl.refresh().append(Seq(2L).toDF("id"))

    val qFail = spark.readStream.format("graft").load(dir)
      .writeStream.format("memory").queryName("v2_na_fail").outputMode("append").start()
    val e = intercept[Exception] {
      qFail.processAllAvailable()
      qFail.awaitTermination(30000)
    }
    qFail.stop()
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("non-append")), s"got: ${messages(e)}")

    val qSkip = spark.readStream.format("graft")
      .option("skip-non-appends", "true").load(dir)
      .writeStream.format("memory").queryName("v2_na_skip").outputMode("append").start()
    try {
      qSkip.processAllAvailable()
      assert(sourceDescription(qSkip).startsWith("GraftMicroBatchStream"))
      assert(spark.table("v2_na_skip").collect().map(_.getLong(0)).sorted.toSeq ==
        Seq(1L, 2L), "skip mode streams appended rows only (the delete is skipped)")
    } finally qSkip.stop()
  }
}
