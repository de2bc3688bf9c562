package graft

import java.util.concurrent.{Callable, CyclicBarrier, Executors}

import graft.catalog.{CatalogUtil, HadoopCatalog}
import graft.meta.{MetadataJson, PartitionSpec, SortOrder, TableMetadata}
import graft.types._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** Filesystem catalog behavior: version-hint CAS (atomic create-if-absent,
  * across catalog instances too), crash recovery (roll-forward past an
  * orphan metadata version, survive a lost hint), cross-catalog-instance
  * visibility, rename, namespace persistence, and tables whose files were
  * written with `.crc` siblings. */
class HadoopCatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = Schema(0, Seq(
    NestedField(1, "id", ILong, required = false),
    NestedField(2, "k", IString, required = false)))

  private def wh() = java.nio.file.Files.createTempDirectory("graft-hspec").toString

  test("commits are visible to a second catalog instance over the same warehouse") {
    import spark.implicits._
    val dir = wh()
    val c1 = new HadoopCatalog(dir)
    val t1 = c1.createTable("shared", schema)
    t1.append(Seq((1L, "a")).toDF("id", "k"))
    val c2 = new HadoopCatalog(dir)
    assert(c2.tableExists("shared"))
    assert(c2.loadTable("shared").toDF(spark).count() == 1)
    c2.loadTable("shared").append(Seq((2L, "b")).toDF("id", "k"))
    assert(t1.refresh().toDF(spark).count() == 2)
  }

  test("crash recovery: orphan v(N+1) without hint update is adopted, not livelocked") {
    import spark.implicits._
    val dir = wh()
    val cat = new HadoopCatalog(dir)
    val tbl = cat.createTable("crashy", schema)
    tbl.append(Seq((1L, "a")).toDF("id", "k")) // v2 + hint=2

    // simulate a writer that created v3 and died before updating the hint
    val metaDir = new Path(tbl.location, "metadata")
    val fs = metaDir.getFileSystem(tbl.hadoopConf)
    val v3 = tbl.metadata.copy(lastSequenceNumber = tbl.metadata.lastSequenceNumber,
      properties = tbl.properties.updated("crash-marker", "yes"))
    val out = fs.create(new Path(metaDir, "v3.metadata.json"), false)
    out.write(MetadataJson.write(v3).getBytes("UTF-8")); out.close()
    // hint still says 2

    val reloaded = cat.loadTable("crashy")
    assert(reloaded.properties.get("crash-marker").contains("yes"),
      "orphan committed version must be adopted")
    // and the next commit proceeds (v4), no livelock
    reloaded.append(Seq((2L, "b")).toDF("id", "k"))
    assert(fs.exists(new Path(metaDir, "v4.metadata.json")))
    // hint repaired to the latest
    assert(cat.loadTable("crashy").toDF(spark).count() == 2)
  }

  test("lost hint file: table still found, listed, and loadable") {
    import spark.implicits._
    val dir = wh()
    val cat = new HadoopCatalog(dir)
    val tbl = cat.createTable("hintless", schema)
    tbl.append(Seq((1L, "a")).toDF("id", "k"))
    val fs = new Path(tbl.location).getFileSystem(tbl.hadoopConf)
    fs.delete(new Path(tbl.location, "metadata/version-hint.text"), false)

    assert(cat.tableExists("hintless"))
    assert(cat.listTables().contains(Seq("default", "hintless")))
    assert(cat.loadTable("hintless").toDF(spark).count() == 1)
  }

  test("round-5 ops on the FS catalog: addFiles, WAP, rewriteManifests, orphan sweep") {
    import spark.implicits._
    val dir = wh()
    val cat = new HadoopCatalog(dir)
    val tbl = cat.createTable("maint", schema)
    // foreign parquet import
    val ext = java.nio.file.Files.createTempDirectory("graft-hext").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "k").coalesce(1)
      .write.mode("overwrite").parquet(ext)
    val fs = new Path(ext).getFileSystem(tbl.hadoopConf)
    tbl.addFiles(spark, fs.listStatus(new Path(ext)).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).map(_.toString).toSeq)
    // WAP staged on the branch, published by fastForward
    tbl.appendToBranch("stage", Seq((3L, "c")).toDF("id", "k"))
    assert(tbl.toDF(spark).count() == 2)
    tbl.fastForward("main", "stage")
    // manifest compaction + orphan sweep over the same warehouse
    tbl.rewriteManifests()
    tbl.removeOrphanFiles(System.currentTimeMillis() + 60000)
    assert(tbl.toDF(spark).select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L))
    // a second catalog instance sees the published state
    val c2 = new HadoopCatalog(dir)
    assert(c2.loadTable("maint").toDF(spark).count() == 3)
  }

  test("rename moves the directory; namespace properties persist on disk") {
    val dir = wh()
    val c1 = new HadoopCatalog(dir)
    c1.createNamespace(Seq("ns1"), Map("owner" -> "me"))
    c1.createTable("ns1.t", schema)
    c1.renameTable("ns1.t", "ns1.t2")
    assert(!c1.tableExists("ns1.t") && c1.tableExists("ns1.t2"))
    val c2 = new HadoopCatalog(dir)
    assert(c2.namespaceProperties(Seq("ns1")) == Map("owner" -> "me"))
    assert(c2.listTables(Some(Seq("ns1"))) == Seq(Seq("ns1", "t2")))
  }

  test("create-if-absent is atomic: of two racing creates of one version file, one wins") {
    val dir = wh()
    val meta = TableMetadata.create(dir, schema, PartitionSpec.Unpartitioned,
      SortOrder.Unsorted, Map.empty)
    val conf = new Configuration()
    val pool = Executors.newFixedThreadPool(2)
    try {
      (1 to 200).foreach { round =>
        val p = new Path(dir, s"race/v$round.metadata.json")
        val barrier = new CyclicBarrier(2)
        val won = Seq.fill(2)(pool.submit(new Callable[Boolean] {
          def call(): Boolean = {
            barrier.await()
            try { CatalogUtil.writeMetadataFile(p, meta, conf, overwrite = false); true }
            catch { case _: CommitConflictError => false }
          }
        })).map(_.get())
        assert(won.count(identity) == 1, s"round $round: $won")
      }
    } finally pool.shutdown()
  }

  test("two catalog instances over one warehouse, appending from their own threads, lose no row") {
    import spark.implicits._
    val dir = wh()
    new HadoopCatalog(dir).createTable("both", schema)
    val perWriter = 12
    val pool = Executors.newFixedThreadPool(2)
    try {
      Seq(0, 1).map { w =>
        pool.submit(new Callable[Unit] {
          def call(): Unit = {
            val t = new HadoopCatalog(dir).loadTable("both")
            (0 until perWriter).foreach(i =>
              t.append(Seq((w * 1000L + i, s"w$w")).toDF("id", "k")))
          }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    val t = new HadoopCatalog(dir).loadTable("both")
    assert(t.toDF(spark).select("id").collect().map(_.getLong(0)).toSet ==
      ((0L until perWriter) ++ (1000L until 1000L + perWriter)).toSet)
    assert(t.snapshots.size == 2 * perWriter)
  }

  test("a table whose hint and namespace marker have .crc siblings commits, reloads and reads") {
    import spark.implicits._
    val dir = wh()
    val c1 = new HadoopCatalog(dir)
    val t = c1.createTable("old", schema)
    t.append(Seq((1L, "a")).toDF("id", "k"))
    // rewrite both through Hadoop's checksummed create, as earlier versions did
    val fs = new Path(dir).getFileSystem(new Configuration())
    def hadoopWrite(p: Path, s: String): Unit = {
      val out = fs.create(p, true)
      try out.write(s.getBytes("UTF-8")) finally out.close()
    }
    def hadoopRead(p: Path): String = {
      val in = fs.open(p)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    val hint = new Path(t.location, "metadata/version-hint.text")
    val marker = new Path(dir, "default/.graft_ns.json")
    hadoopWrite(hint, "2")
    hadoopWrite(marker, """{"owner":"old"}""")
    assert(fs.exists(new Path(hint.getParent, ".version-hint.text.crc")) &&
      fs.exists(new Path(marker.getParent, "..graft_ns.json.crc")))

    // same lengths, new bytes: a stale checksum would fail the reads below
    c1.updateNamespace(Seq("default"), Map("owner" -> "new"))
    t.append(Seq((2L, "b")).toDF("id", "k"))
    assert(hadoopRead(hint) == "3")
    val c2 = new HadoopCatalog(dir)
    assert(c2.namespaceProperties(Seq("default")) == Map("owner" -> "new"))
    val reloaded = c2.loadTable("old")
    reloaded.append(Seq((3L, "c")).toDF("id", "k"))
    assert(reloaded.toDF(spark).select("id").collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    assert(hadoopRead(hint) == "4")
  }
}
