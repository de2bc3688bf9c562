package graft.spark

import graft.{CatalogOnlyFileSystem, SiteFileSystem, TestSpark}
import graft.catalog.MemoryCatalog
import graft.table.{SerializableHadoopConf, Table, TableScan}
import graft.types.{ILong, IString, IStruct, NestedField, Schema}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, UnsupportedFileSystemException}
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerStageSubmitted}
import org.apache.spark.serializer.JavaSerializer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.storage.BroadcastBlockId
import org.scalatest.funsuite.AnyFunSuite

/** Every graft task reads its Hadoop conf from one broadcast of the
  * catalog conf's non-default entries, and Spark's parquet reader gets the
  * session's non-default entries with the catalog's on top. So a file
  * system only the catalog's conf knows works end to end, and no writer
  * factory, stream input partition or task closure grows with the conf. */
class TaskConfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = Schema(0, Seq(
    NestedField(1, "id", ILong, required = false),
    NestedField(2, "name", IString, required = false)))

  /** A catalog on `catonly:` paths, registered as `catonly`. */
  private lazy val cat = {
    val c = new MemoryCatalog(name = "catonly",
      warehouse = CatalogOnlyFileSystem.tempDir("graft-catonly"),
      hadoopConf = CatalogOnlyFileSystem.conf())
    GraftSparkCatalog.register(spark, "catonly", c)
    c
  }

  private def morTable(c: MemoryCatalog, name: String): Table =
    c.createTable(name, schema, properties = Map(
      "format-version" -> "3", "write.delete.mode" -> "merge-on-read"))

  /** `n` ids from `from` in `files` files. */
  private def rows(from: Long, n: Long, files: Int): DataFrame =
    spark.range(from, from + n, 1, files).selectExpr("id", "cast(id AS string) AS name")

  private def ids(df: DataFrame): Set[Long] = df.select("id").collect().map(_.getLong(0)).toSet

  test("the session's conf does not know the catalog's file system") {
    val e = intercept[UnsupportedFileSystemException] {
      new Path(cat.warehouse).getFileSystem(spark.sparkContext.hadoopConfiguration)
    }
    assert(e.getMessage.contains("catonly"))
  }

  test("a catalog-only file system: append and read back natively and through SQL") {
    val t = cat.createTable("plain", schema)
    t.append(rows(0L, 400L, 4))
    assert(t.scan().planFiles().forall(_.filePath.startsWith("catonly:")))
    assert(ids(t.toDF(spark)) == (0L until 400L).toSet)
    assert(ids(spark.table("catonly.default.plain")) == (0L until 400L).toSet)
  }

  test("a catalog-only file system: a v3 merge-on-read delete writes deletion vectors and reads back") {
    val t = morTable(cat, "dv")
    t.append(rows(0L, 400L, 4))
    t.deleteWhere(spark, "id % 7 = 0")
    val tasks = t.refresh().scan().planFiles()
    assert(tasks.size == 4 && tasks.forall(_.deleteFiles.exists(_.isDeletionVector)))
    val live = (0L until 400L).filter(_ % 7 != 0).toSet
    assert(ids(t.toDF(spark)) == live)
    assert(ids(spark.table("catonly.default.dv")) == live)
  }

  test("a catalog-only file system: compact") {
    val t = cat.createTable("compacted", schema)
    (0 until 4).foreach(i => t.append(rows(i * 100L, 100L, 1)))
    t.compact(spark)
    assert(t.refresh().scan().planFiles().size == 1)
    assert(ids(t.toDF(spark)) == (0L until 400L).toSet)
  }

  test("a catalog-only file system: readStream with Trigger.AvailableNow") {
    val t = cat.createTable("streamed", Schema(0, schema.fields :+ NestedField(3, "pair",
      IStruct(Seq(NestedField(4, "id", ILong, required = false), NestedField(5, "name", IString, required = false))),
      required = false)))
    def withPair(df: DataFrame) = df.selectExpr("*", "named_struct('id', id, 'name', name) AS pair")
    t.append(withPair(rows(0L, 100L, 2)))
    t.append(withPair(rows(100L, 100L, 2)))
    val q = spark.readStream.table("catonly.default.streamed")
      .writeStream.format("memory").queryName("catonly_streamed")
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val streamed = spark.table("catonly_streamed")
    assert(ids(streamed) == (0L until 200L).toSet)
    assert(streamed.where("pair.id = id AND pair.name = name").count() == 200)
  }

  test("a catalog-only file system: distributed orphan removal, manifest rewrite and expire cleanup") {
    val t = cat.createTable("maintained", schema)
    (0 until 4).foreach(i => t.append(rows(i * 100L, 100L, 1)))
    val fs = new Path(t.location).getFileSystem(t.hadoopConf)
    val orphan = fs.makeQualified(new Path(t.location, "data/orphan.parquet"))
    val out = fs.create(orphan, true); out.write(Array[Byte](1, 2, 3)); out.close()
    fs.setTimes(orphan, System.currentTimeMillis() - 3600000L, -1)
    // a threshold of 0 takes the Spark-job path of each operation
    val removed = t.removeOrphanFiles(spark, System.currentTimeMillis() - 1000L, 0)
    assert(removed.map(p => fs.makeQualified(new Path(p))) == Seq(orphan))
    assert(!fs.exists(orphan))
    t.rewriteManifests(spark, 2, 0)
    assert(graft.table.Reachability.manifestInventory(fs, t.refresh().currentSnapshot.toSeq).size == 1)
    val small = t.scan().planFiles().map(_.filePath)
    t.compact(spark)
    t.expireSnapshots(spark, System.currentTimeMillis() + 1000L, 1, 0)
    assert(t.refresh().snapshots.size == 1)
    assert(small.forall(p => !fs.exists(new Path(p))))
    assert(ids(t.toDF(spark)) == (0L until 400L).toSet)
  }

  test("a default conf trims to nothing; a trimmed conf keeps every entry set outside the default files, expanded") {
    assert(TableScan.trimmed(new Configuration()).size == 0)
    val c = new Configuration()
    c.set("graft.test.dir", "${hadoop.tmp.dir}/graft")
    c.set("io.file.buffer.size", "8192")
    c.set("fs.defaultFS", "file:///") // Hadoop's default, set by a program
    val t = TableScan.trimmed(c)
    assert(t.size == 3)
    assert(t.getRaw("graft.test.dir") == c.get("graft.test.dir") && !t.getRaw("graft.test.dir").contains("${"))
    assert(t.get("io.file.buffer.size") == "8192")
    assert(t.get("fs.defaultFS") == "file:///")
  }

  test("a task conf follows a change to the catalog's conf") {
    val c = new MemoryCatalog().hadoopConf
    val first = TableScan.taskConf(spark, c)
    assert(TableScan.taskConf(spark, c).id == first.id)
    c.set("graft.test.token", "a")
    val second = TableScan.taskConf(spark, c)
    assert(second.id != first.id && second.value.value.get("graft.test.token") == "a")
    c.set("graft.test.token", "b")
    assert(TableScan.taskConf(spark, c).value.value.get("graft.test.token") == "b")
  }

  test("Spark's parquet reader gets the session's and the catalog's entries, under 100 for a default catalog") {
    // what Spark builds for a scan: the session's Hadoop conf with the SQL
    // conf's entries
    val session = new Configuration(spark.sparkContext.hadoopConfiguration)
    spark.conf.getAll.foreach { case (k, v) => session.set(k, v) }
    assert(session.size > 1000)
    val plain = TableScan.readerConf(spark, session, new MemoryCatalog().hadoopConf)
    assert(plain.size < 100, plain.size)
    assert(plain.get("spark.sql.session.timeZone") == "UTC")
    val withCatalog = TableScan.readerConf(spark, session, cat.hadoopConf)
    CatalogOnlyFileSystem.entries.foreach { case (k, v) => assert(withCatalog.get(k) == v) }
    assert(withCatalog.size == plain.size + CatalogOnlyFileSystem.entries.size)

    // a streamed micro-batch's reader ships the same conf
    val streamPlain = streamReaderConf(new MemoryCatalog().createTable("streamconf", schema))
    assert(streamPlain.size < 100, streamPlain.size)
    assert(streamPlain.get("spark.sql.session.timeZone") == "UTC")
    val streamCatalog = streamReaderConf(cat.createTable("streamconf", schema))
    CatalogOnlyFileSystem.entries.foreach { case (k, v) => assert(streamCatalog.get(k) == v) }
    assert(streamCatalog.size == streamPlain.size + CatalogOnlyFileSystem.entries.size)
  }

  /** The partitions of a stream over all of `t`'s commits. */
  private def streamPartitions(t: Table): Seq[GraftStreamInputPartition] =
    GraftMicroBatchStream.forCatalogTable(t, Map.empty, t.currentSchema)
      .planInputPartitions(GraftStreamOffset(Long.MinValue), GraftStreamOffset(t.currentSnapshot.get.sequenceNumber))
      .toSeq.map(_.asInstanceOf[GraftStreamInputPartition])

  /** The Hadoop conf the reader of a stream over `t`, after one append,
    * ships to its tasks: the conf broadcast its reader function holds. */
  private def streamReaderConf(t: Table): Configuration = {
    t.append(rows(0L, 10L, 1))
    val read = streamPartitions(t).head.reader.read
    val replace = read.getClass.getDeclaredMethod("writeReplace")
    replace.setAccessible(true)
    val lambda = replace.invoke(read).asInstanceOf[java.lang.invoke.SerializedLambda]
    (0 until lambda.getCapturedArgCount).map(lambda.getCapturedArg).collectFirst {
      case b: org.apache.spark.broadcast.Broadcast[_] if b.value.getClass.getSimpleName == "SerializableConfiguration" =>
        b.value.getClass.getMethod("value").invoke(b.value).asInstanceOf[Configuration]
    }.get
  }

  /** `o`'s size as Spark's closure serializer writes it. */
  private def closureBytes(o: AnyRef): Int =
    new JavaSerializer(spark.sparkContext.getConf).newInstance().serialize(o).limit()

  /** The task binaries of the stages `action` runs, in bytes: each stage's
    * closure and lineage, serialized once and broadcast just after Spark
    * announces the stage. */
  private def taskBinaries(action: => Any): Seq[Long] = {
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    var announced = 0
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = announced += 1
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
        e.blockUpdatedInfo.blockId match {
          // a put, not the cleaner's removal
          case BroadcastBlockId(_, "piece0") if announced > 0 && e.blockUpdatedInfo.storageLevel.isValid =>
            announced -= 1
            sizes += math.max(e.blockUpdatedInfo.memSize, e.blockUpdatedInfo.diskSize)
          case _ =>
        }
    }
    org.apache.spark.TestListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      action
      org.apache.spark.TestListenerBus.drain(spark.sparkContext)
      sizes.toSeq
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** The task binaries of each maintenance and write operation on a new
    * table of `c`, by operation, plus the serialized sizes of the writer
    * factory, the stream reader and the stream input partitions (each
    * holding the reader). */
  private def footprint(c: MemoryCatalog): Map[String, Seq[Long]] = {
    // the catalog conf's one broadcast, made before anything is measured
    TableScan.taskConf(spark, c.hadoopConf)
    val t = morTable(c, "footprint")
    val append = taskBinaries((0 until 4).foreach(i => t.append(rows(i * 100L, 100L, 1))))
    val writeSchema = graft.types.SparkSchemaConverter.toSpark(t.currentSchema)
    val factory = closureBytes(GraftV2Write.factory(t, writeSchema, GraftV2Write.freshDataDir(t)))
    val partitions = streamPartitions(t)
    // the four files of four commits, under one reader
    assert(partitions.map(_.files.length).sum == 4 && partitions.map(_.reader).distinct.size == 1)
    val dv = taskBinaries(t.deleteWhere(spark, "id % 7 = 0"))
    assert(t.refresh().scan().planFiles().forall(_.deleteFiles.exists(_.isDeletionVector)))
    // a threshold of 0 takes the Spark-job path of each operation
    val orphans = taskBinaries(t.removeOrphanFiles(spark, System.currentTimeMillis() - 1000L, 0))
    val rewrite = taskBinaries(t.rewriteManifests(spark, 2, 0))
    t.compact(spark)
    val expire = taskBinaries(t.expireSnapshots(spark, System.currentTimeMillis() + 1000L, 1, 0))
    assert(ids(t.toDF(spark)) == (0L until 400L).filter(_ % 7 != 0).toSet)
    Map("append" -> append, "writer factory" -> Seq(factory.toLong),
      "stream reader" -> Seq(closureBytes(partitions.head.reader).toLong),
      "stream partitions" -> partitions.map(p => closureBytes(p).toLong),
      "deletion-vector writer" -> dv, "orphan removal" -> orphans,
      "manifest rewrite" -> rewrite, "expire cleanup" -> expire)
  }

  test("with 10,000 extra conf entries, no writer factory, stream partition or task closure grows") {
    val conf = new Configuration()
    (0 until 10000).foreach(i => conf.set(s"graft.test.padding.$i", java.util.UUID.randomUUID().toString))
    assert(closureBytes(new SerializableHadoopConf(conf)) > 256 * 1024)
    val padded = footprint(new MemoryCatalog(hadoopConf = conf))
    val plain = footprint(new MemoryCatalog())
    for ((what, sizes) <- padded) withClue(s"$what: $sizes vs ${plain(what)}: ") {
      assert(sizes.nonEmpty)
      if (Set("writer factory", "stream reader", "stream partitions")(what)) assert(sizes.forall(_ < 16 * 1024))
      // a task binary also holds the stage's plan; the padding alone would
      // add over 256 KB to it
      assert(sizes.max < plain(what).max + 1024)
    }
  }

  test("entries from a site file ship with every task and reach Spark's reader") {
    // a site file registered as a default resource, as a cluster's
    // core-site.xml is; from here on every default conf in this JVM holds
    // its entries, so this test runs last
    Configuration.addDefaultResource("graft-test-site.xml")
    val conf = new Configuration()
    assert(conf.get("fs.sitefs.impl") == classOf[SiteFileSystem].getName)
    val shipped = TableScan.trimmed(conf)
    assert(shipped.get("fs.sitefs.impl") == classOf[SiteFileSystem].getName)
    assert(shipped.get("hadoop.tmp.dir") == null)
    // the broadcast as an executor reads it: the shipped entries over that
    // JVM's own defaults
    val ser = new JavaSerializer(spark.sparkContext.getConf).newInstance()
    val back = ser.deserialize[SerializableHadoopConf](ser.serialize(new SerializableHadoopConf(shipped)))
    assert(back.entries.get("fs.sitefs.impl") == classOf[SiteFileSystem].getName)
    assert(back.entries.get("hadoop.tmp.dir") == null && back.value.get("hadoop.tmp.dir") != null)

    val site = new MemoryCatalog(name = "sitecat",
      warehouse = "sitefs://" + java.nio.file.Files.createTempDirectory("graft-sitefs").toString,
      hadoopConf = conf)
    GraftSparkCatalog.register(spark, "sitecat", site)
    val t = morTable(site, "dv")
    t.append(rows(0L, 400L, 4))
    t.deleteWhere(spark, "id % 7 = 0")
    assert(t.refresh().scan().planFiles().forall(_.filePath.startsWith("sitefs:")))
    val live = (0L until 400L).filter(_ % 7 != 0).toSet
    assert(ids(t.toDF(spark)) == live)
    assert(ids(spark.table("sitecat.default.dv")) == live)
  }
}
