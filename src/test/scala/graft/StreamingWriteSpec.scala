package graft

import graft.types.{ILong, IString, NestedField, Schema}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/**
 * The V2 streaming SINK (`writeStream.toTable("cat.db.t")`, or
 * `format("graft")` with warehouse+table options →
 * [[graft.spark.GraftStreamingWrite]]): per-epoch atomic commits from
 * executor-written files, exactly-once across restarts via the stable
 * query id, partition fanout, Complete-mode replace-per-epoch, WAP branch
 * staging — and the V2 streaming UPSERT ([[graft.spark.
 * GraftStreamingUpsertWrite]]): merge-keys epochs as MOR row deltas,
 * update-as-append aggregates, loud NULL/duplicate-key rejection, and a
 * write schema checked against the table before anything is written.
 */
class StreamingWriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = Schema(0, Seq(
    NestedField(1, "id", ILong), NestedField(2, "lang", IString)))

  private var n = 0
  private def fixture(): (String, graft.catalog.HadoopCatalog, String) = {
    n += 1
    val name = s"gsw$n"
    val wh = java.nio.file.Files.createTempDirectory(s"graft-$name").toString
    val cat = new graft.catalog.HadoopCatalog(wh)
    graft.spark.GraftSparkCatalog.register(spark, name, cat)
    (wh, cat, name)
  }
  private def cp(): String =
    java.nio.file.Files.createTempDirectory("graft-sw-cp").toString

  /** The two ways a stream names a graft table: an identifier in a session
    * catalog (`toTable`), or the provider's warehouse+table options. */
  private val routes = Seq("toTable", "format(graft)")

  /** Run `dsw` to the end of its input into `table` of catalog `c` (over
    * warehouse `wh`), by `route`. */
  private def drain(dsw: org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row],
                    wh: String, c: String, table: String, route: String = "toTable"): Unit = {
    val w = dsw.trigger(Trigger.AvailableNow())
    val q =
      if (route == "toTable") w.toTable(s"$c.$table")
      else w.format("graft").option("warehouse", wh).option("table", table).start()
    q.awaitTermination()
  }

  test("toTable appends each micro-batch as one atomic snapshot, exactly once across restarts") {
    import spark.implicits._
    val (wh, cat, c) = fixture()
    val src = cat.createTable("default.src", schema)
    cat.createTable("default.out", schema)
    src.append(Seq((1L, "en"), (2L, "de")).toDF("id", "lang"))
    src.append(Seq((3L, "en")).toDF("id", "lang"))
    val ckpt = cp()

    def run(): Unit = drain(
      spark.readStream.format("graft").load(s"$wh/default/src")
        .writeStream.option("checkpointLocation", ckpt), wh, c, "default.out")

    run()
    val out = cat.loadTable("default.out")
    assert(out.toDF(spark).orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // one snapshot per consumed micro-batch, each tagged for replay dedup
    val tagged = out.snapshots.filter(_.summary.contains("streaming-batch-id"))
    assert(tagged.nonEmpty)
    assert(tagged.forall(_.summary.contains("streaming-query-id")))
    val snaps0 = out.refresh().snapshots.length

    // restart with nothing new: no data, no new snapshots, no duplicates
    run()
    assert(cat.loadTable("default.out").snapshots.length == snaps0)

    // new source commit, same checkpoint: exactly the delta arrives
    src.refresh().append(Seq((4L, "fr")).toDF("id", "lang"))
    run()
    assert(cat.loadTable("default.out").toDF(spark).orderBy("id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("toTable fans out to the target's partition tuples (files land pruned)") {
    import spark.implicits._
    for (route <- routes) withClue(s"$route: ") {
      val (wh, cat, c) = fixture()
      val src = cat.createTable("default.src", schema)
      src.append(Seq((1L, "en"), (2L, "de"), (3L, "en"), (4L, "fr")).toDF("id", "lang"))
      spark.sql(s"CREATE TABLE $c.default.outp (id BIGINT, lang STRING) PARTITIONED BY (lang)")

      drain(spark.readStream.format("graft").load(s"$wh/default/src")
        .writeStream.option("checkpointLocation", cp()), wh, c, "default.outp", route)

      val out = cat.loadTable("default.outp")
      assert(out.toDF(spark).count() == 4L)
      // every committed file carries its identity tuple → a lang-scoped scan
      // plans only that partition's files
      val all = out.scan().planFiles()
      assert(all.forall(_.file.partition.get("lang").exists(_.nonEmpty)))
      val en = out.scan(predicates = Seq(table.EqPred("lang", "en"))).planFiles()
      assert(en.nonEmpty && en.size < all.size)
      assert(en.flatMap(_.file.partition.get("lang")).toSet == Set("en"))
    }
  }

  test("Complete mode replaces the table every epoch and survives replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions.count
    for (route <- routes) withClue(s"$route: ") {
      val (wh, cat, c) = fixture()
      val src = cat.createTable("default.src", schema)
      cat.createTable("default.agg", Schema(0, Seq(
        NestedField(1, "lang", IString), NestedField(2, "n", ILong))))
      src.append(Seq((1L, "en"), (2L, "de"), (3L, "en")).toDF("id", "lang"))
      val ckpt = cp()

      def run(): Unit = drain(
        spark.readStream.format("graft").load(s"$wh/default/src")
          .groupBy("lang").agg(count("*").as("n"))
          .writeStream.outputMode("complete").option("checkpointLocation", ckpt),
        wh, c, "default.agg", route)

      run()
      def agg(): Map[String, Long] = cat.loadTable("default.agg").toDF(spark)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(agg() == Map("en" -> 2L, "de" -> 1L))

      // more source data: the NEXT epoch's result replaces, never accumulates
      src.refresh().append(Seq((4L, "en"), (5L, "fr")).toDF("id", "lang"))
      run()
      assert(agg() == Map("en" -> 3L, "de" -> 1L, "fr" -> 1L))
      // replay with nothing new: state unchanged
      run()
      assert(agg() == Map("en" -> 3L, "de" -> 1L, "fr" -> 1L))
    }
  }

  test("branch option stages epochs for write-audit-publish") {
    import spark.implicits._
    val (wh, cat, c) = fixture()
    val src = cat.createTable("default.src", schema)
    val out = cat.createTable("default.outb", schema)
    src.append(Seq((1L, "en"), (2L, "de")).toDF("id", "lang"))

    drain(spark.readStream.format("graft").load(s"$wh/default/src")
      .writeStream.option("checkpointLocation", cp()).option("branch", "audit"),
      wh, c, "default.outb")

    val t = cat.loadTable("default.outb")
    assert(t.toDF(spark).count() == 0L) // main untouched until publish
    assert(t.scanRef("audit").toDF(spark).count() == 2L)
    t.fastForward("main", "audit")
    assert(t.toDF(spark).count() == 2L)
  }

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)

  test("merge-keys toTable upserts each epoch via V2 equality deletes, exactly once") {
    import spark.implicits._
    val (wh, cat, c) = fixture()
    val src = cat.createTable("default.src", schema)
    spark.sql(s"CREATE TABLE $c.default.outu (id BIGINT, lang STRING) PARTITIONED BY (lang)")
    src.append(Seq((1L, "en"), (2L, "de"), (3L, "en")).toDF("id", "lang"))
    val ckpt = cp()

    def run(): Unit = drain(
      spark.readStream.format("graft").load(s"$wh/default/src")
        .writeStream.option("checkpointLocation", ckpt).option("merge-keys", "id"),
      wh, c, "default.outu")

    run()
    def state(): Map[Long, String] = cat.loadTable("default.outu").toDF(spark)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(state() == Map(1L -> "en", 2L -> "de", 3L -> "en"))
    // the commit is a MOR row delta: equality deletes landed with the data
    val out = cat.loadTable("default.outu")
    val upsertSnap = out.snapshots.last
    assert(upsertSnap.summary.get("added-equality-deletes").exists(_.toLong > 0))
    assert(upsertSnap.summary.contains("streaming-batch-id"))
    val snaps0 = out.snapshots.length

    // replay with nothing new: no new snapshots, no duplicates
    run()
    assert(cat.loadTable("default.outu").snapshots.length == snaps0)

    // same keys re-arrive with new values (2 moves de→fr): last wins, the
    // partition move included — prior versions die by equality delete
    src.refresh().append(Seq((2L, "fr"), (4L, "en")).toDF("id", "lang"))
    run()
    assert(state() == Map(1L -> "en", 2L -> "fr", 3L -> "en", 4L -> "en"))
  }

  test("update-mode aggregate with merge-keys converges to the batch result") {
    import spark.implicits._
    import org.apache.spark.sql.functions.count
    val (wh, cat, c) = fixture()
    val src = cat.createTable("default.src", schema)
    cat.createTable("default.aggu", Schema(0, Seq(
      NestedField(1, "lang", IString), NestedField(2, "n", ILong))))
    src.append(Seq((1L, "en"), (2L, "de"), (3L, "en")).toDF("id", "lang"))
    val ckpt = cp()

    def run(): Unit = drain(
      spark.readStream.format("graft").load(s"$wh/default/src")
        .groupBy("lang").agg(count("*").as("n"))
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt).option("merge-keys", "lang"),
      wh, c, "default.aggu")

    run()
    def agg(): Map[String, Long] = cat.loadTable("default.aggu").toDF(spark)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(agg() == Map("en" -> 2L, "de" -> 1L))
    // update mode only emits CHANGED aggregates; the upsert folds them in
    src.refresh().append(Seq((4L, "en"), (5L, "fr")).toDF("id", "lang"))
    run()
    assert(agg() == Map("en" -> 3L, "de" -> 1L, "fr" -> 1L))
  }

  test("streaming upsert rejects NULL and duplicate keys in an epoch loudly") {
    import spark.implicits._
    val (wh, cat, c) = fixture()
    val src = cat.createTable("default.src", schema)
    cat.createTable("default.outd", schema)
    src.append(Seq((1L, "en"), (1L, "de")).toDF("id", "lang")) // dup key
    val exD = intercept[Exception] {
      drain(spark.readStream.format("graft").load(s"$wh/default/src")
        .writeStream.option("checkpointLocation", cp()).option("merge-keys", "id"),
        wh, c, "default.outd")
    }
    assert(messages(exD).exists(_.contains("duplicate keys")))

    val src2 = cat.createTable("default.src2", schema)
    src2.append(Seq((null.asInstanceOf[java.lang.Long], "en")).toDF("id", "lang"))
    val exN = intercept[Exception] {
      drain(spark.readStream.format("graft").load(s"$wh/default/src2")
        .writeStream.option("checkpointLocation", cp()).option("merge-keys", "id"),
        wh, c, "default.outd")
    }
    assert(messages(exN).exists(_.contains("NULL")))
  }

  test("update mode WITHOUT merge-keys stays rejected (no silent accumulation)") {
    import spark.implicits._
    for (route <- routes) withClue(s"$route: ") {
      val (wh, cat, c) = fixture()
      val src = cat.createTable("default.src", schema)
      cat.createTable("default.outr", schema)
      src.append(Seq((1L, "en")).toDF("id", "lang"))
      val exU = intercept[Exception] {
        drain(spark.readStream.format("graft").load(s"$wh/default/src")
          .writeStream.outputMode("update").option("checkpointLocation", cp()),
          wh, c, "default.outr", route)
      }
      assert(messages(exU).nonEmpty)
      assert(cat.loadTable("default.outr").snapshots.isEmpty)
    }
  }

  private def causes(t: Throwable): Seq[Throwable] =
    if (t == null) Nil else t +: causes(t.getCause)

  test("both routes reject an unknown or mistyped column before committing anything") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    for (route <- routes) withClue(s"$route: ") {
      val (wh, cat, c) = fixture()
      val src = cat.createTable("default.src", schema)
      val out = cat.createTable("default.outs", schema)
      src.append(Seq((1L, "en"), (2L, "de")).toDF("id", "lang"))
      val bad = Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
        "an unknown column" -> (_.withColumn("zzz", lit(1))),
        "int into bigint" -> (_.withColumn("id", col("id").cast("int"))),
        "string into bigint" -> (_.withColumn("id", col("id").cast("string"))))
      for ((what, f) <- bad) withClue(s"$what: ") {
        val ex = intercept[Exception] {
          drain(f(spark.readStream.format("graft").load(s"$wh/default/src"))
            .writeStream.option("checkpointLocation", cp()), wh, c, "default.outs", route)
        }
        assert(causes(ex).exists(_.isInstanceOf[InvalidDataError]), messages(ex).mkString("\n"))
        // nothing committed, and the table still reads
        assert(out.refresh().snapshots.isEmpty)
        assert(out.toDF(spark).count() == 0L)
      }
    }
  }

  test("format(graft): a batch replayed after its commit mark is lost commits nothing twice") {
    import spark.implicits._
    val (wh, cat, c) = fixture()
    val src = cat.createTable("default.src", schema)
    src.append(Seq((1L, "en"), (2L, "de")).toDF("id", "lang"))
    src.append(Seq((3L, "fr")).toDF("id", "lang"))
    val out = cat.createTable("default.outl", schema)
    val ckpt = cp()
    def run(): Unit = drain(
      spark.readStream.format("graft").option("max-snapshots-per-trigger", "1")
        .load(s"$wh/default/src").writeStream.option("checkpointLocation", ckpt),
      wh, c, "default.outl", "format(graft)")
    def ids(): Seq[Long] = out.refresh().toDF(spark).collect().map(_.getLong(0)).sorted.toSeq
    def dataFiles(): Set[String] = {
      val dir = java.nio.file.Paths.get(s"$wh/default/outl/data")
      val walk = java.nio.file.Files.walk(dir)
      try walk.filter(java.nio.file.Files.isRegularFile(_)).toArray
        .map(_.toString).toSet finally walk.close()
    }

    run()
    assert(ids() == Seq(1L, 2L, 3L))
    val snaps0 = out.snapshots.length
    val files0 = dataFiles()
    assert(files0.map(_.split('/').last) ==
      out.scan().planFiles().map(_.filePath.split('/').last).toSet)

    // lose the last batch's commit mark: the restart re-runs that batch,
    // whose epoch the table already holds
    val last = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toLong)
    assert(last.delete())
    new java.io.File(last.getParent, s".${last.getName}.crc").delete()
    run()
    assert(ids() == Seq(1L, 2L, 3L))
    assert(out.snapshots.length == snaps0)
    assert(dataFiles() == files0, "the replayed epoch's files must be deleted")
  }
}
