package graft

import graft.catalog.MemoryCatalog
import graft.table.{EqPred, ParquetStats}
import graft.types._
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Footer-stats extraction invariants, especially the merge ACROSS row
  * groups: string bounds must merge lexicographically (the order Parquet
  * computed them in and the order scan pruning compares them in) — never
  * numerically, even when every value parses as a number. */
class ParquetStatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def conf = spark.sparkContext.hadoopConfiguration

  private def onlyParquet(dir: String): String = {
    val fs = new Path(dir).getFileSystem(conf)
    fs.listStatus(new Path(dir)).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get.toString
  }

  private def rowGroups(file: String): Int = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), conf))
    try r.getFooter.getBlocks.asScala.size finally r.close()
  }

  test("string bounds merge lexicographically across row groups; pruning keeps the file") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-pqstats").toString
    // 100 rows of "9" then 100 of "10"; a 1 KiB block size flushes the
    // first row group at parquet's 100-record check, so the two values
    // land in separate row groups and the bug (if present) is exercised
    // by the MERGE, not masked by parquet's own per-group comparator.
    val rows = (0 until 100).map(i => (i.toLong, "9")) ++
      (100 until 200).map(i => (i.toLong, "10"))
    rows.toDF("id", "c").coalesce(1)
      .write.option("parquet.block.size", "1024").mode("overwrite").parquet(s"$dir/d")
    val file = onlyParquet(s"$dir/d")
    assert(rowGroups(file) >= 2, "test needs >=2 row groups to exercise the merge")

    val st = ParquetStats.read(conf, new Path(file))
    assert(st.recordCount == 200)
    // lexicographic: "10" < "9"
    assert(st.lowerBounds("c") == "10", s"lower was ${st.lowerBounds("c")}")
    assert(st.upperBounds("c") == "9", s"upper was ${st.upperBounds("c")}")
    // id is numeric: bounds merge numerically
    assert(st.lowerBounds("id") == "0" && st.upperBounds("id") == "199")

    // end-to-end through the manifest: a numeric merge would have recorded
    // lower="9"/upper="10" and EqPred(c,"10") ("10" < "9" lexicographically)
    // would prune the very file that holds the rows — silently wrong
    val cat = new MemoryCatalog()
    val tbl = cat.createTable("pqstats_t", Schema(0, Seq(
      NestedField(1, "id", ILong, required = false),
      NestedField(2, "c", IString, required = false))))
    tbl.addFiles(spark, Seq(file))
    assert(tbl.scan(predicates = Seq(EqPred("c", "10"))).planFiles().size == 1)
    assert(tbl.scan(predicates = Seq(EqPred("c", "10"))).toDF(spark).count() == 100)
    assert(tbl.scan(predicates = Seq(EqPred("c", "9"))).toDF(spark).count() == 100)
    // metadata-level max is the lexicographic one
    assert(tbl.scan().planFiles().head.file.upperBounds("c") == "9")
  }

  test("decimal bounds are recorded scale-normalized") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pqdec").toString
    spark.sql("SELECT CAST(67.89 AS DECIMAL(9,2)) AS p32, CAST(67.89 AS DECIMAL(18,2)) AS p64")
      .union(spark.sql("SELECT CAST(123.45 AS DECIMAL(9,2)), CAST(123.45 AS DECIMAL(18,2))"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/d")
    val st = ParquetStats.read(conf, new Path(onlyParquet(s"$dir/d")))
    assert(st.lowerBounds("p32") == "67.89" && st.upperBounds("p32") == "123.45")
    assert(st.lowerBounds("p64") == "67.89" && st.upperBounds("p64") == "123.45")
  }

  test("NaN poisons float/double bounds; raw binary records none") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-pqnan").toString
    Seq(1.0, Double.NaN, 2.0).toDF("x").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/nan")
    val stNan = ParquetStats.read(conf, new Path(onlyParquet(s"$dir/nan")))
    // either the writer skipped NaN (bounds unusable for Spark MIN/MAX —
    // we cannot detect that here, consumers decline float/double) or it
    // propagated NaN and the bounds are poisoned; both must avoid NaN text
    stNan.lowerBounds.get("x").foreach(b => assert(b != "NaN"))
    stNan.upperBounds.get("x").foreach(b => assert(b != "NaN"))

    Seq(Array[Byte](1, 2), Array[Byte](3)).toDF("b").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/bin")
    val stBin = ParquetStats.read(conf, new Path(onlyParquet(s"$dir/bin")))
    assert(!stBin.lowerBounds.contains("b") && !stBin.upperBounds.contains("b"))
  }

  test("stats from the writer's footer equal stats re-read from the written file") {
    // (column, expression over id in [0, 1200), whether the file carries bounds)
    val cases = Seq(
      ("i", "CAST(id AS INT) - 600", true),
      ("l", "id * 10000000000", true),
      ("d", "DATE_ADD(DATE'1969-06-01', CAST(id AS INT))", true),
      ("ts", "TIMESTAMP_SECONDS(id * 3601 - 86400)", true),
      ("dec", "CAST(id / 7 - 50 AS DECIMAL(10,2))", true),
      ("s", "CONCAT('k', id)", true),
      ("u", "CONCAT('\u00e9', id % 13, '\u65e5\u672c')", true),
      ("f", "CAST(id AS FLOAT) / 3 - 10", true),
      ("dn", "IF(id = 555, CAST('NaN' AS DOUBLE), id / 3.0D)", false),
      ("dz", "CAST(id % 7 AS DOUBLE)", true),
      ("b", "id % 3 = 0", true),
      ("bin", "CAST(CONCAT('x', id) AS BINARY)", false),
      ("n", "CAST(NULL AS STRING)", false),
      // min + max past parquet-java's 4 KiB stats cut in one row group
      ("big", "IF(id = 1100, REPEAT('z', 5000), CONCAT('a', id))", false))
    val df = spark.range(0, 1200, 1, 1).selectExpr(cases.map { case (c, e, _) => s"$e AS $c" }: _*)
    for ((label, blockSize) <- Seq("one row group" -> 128L * 1024 * 1024, "many row groups" -> 1024L)) {
      val c = new org.apache.hadoop.conf.Configuration(conf)
      c.setLong("parquet.block.size", blockSize)
      val dir = java.nio.file.Files.createTempDirectory("graft-pqfooter").toString
      val files = graft.table.DataFileWriter.write(df, new Path(dir, "d"), c, 5000000L)
      assert(files.size == 1, label)
      val f = files.head
      assert(rowGroups(f.filePath) > 1 == (blockSize == 1024L), s"$label: row groups")
      val reread = ParquetStats.read(c, new Path(f.filePath))
      assert(f.recordCount == 1200 && reread.recordCount == 1200, label)
      for ((col, _, bounded) <- cases) withClue(s"$label, $col: ") {
        assert(f.lowerBounds.get(col) == reread.lowerBounds.get(col))
        assert(f.upperBounds.get(col) == reread.upperBounds.get(col))
        assert(f.nullCounts.get(col) == reread.nullCounts.get(col))
        assert(f.lowerBounds.contains(col) == bounded && f.upperBounds.contains(col) == bounded)
      }
      assert(f.nullCounts("n") == 1200 && f.nullCounts("s") == 0, label)
      assert(f.lowerBounds("b") == "false" && f.upperBounds("b") == "true", label)
      assert(f.lowerBounds("i") == "-600" && f.upperBounds("i") == "599", label)
      assert(f.lowerBounds("dz") == "-0.0" && f.upperBounds("dz") == "6.0", label)
    }
  }
}
