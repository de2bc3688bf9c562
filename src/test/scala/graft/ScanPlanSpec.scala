package graft

import graft.catalog.MemoryCatalog
import graft.table.Table
import graft.types.{ILong, IString, NestedField, Schema}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** A merge-on-read scan's plan has the shape of the query, not of the
  * table: the optimized plan has the same node count whether the table
  * holds 20 or 200 deletion-vectored files, one delete set or four. */
class ScanPlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = Schema(0, Seq(
    NestedField(1, "id", ILong, required = false),
    NestedField(2, "name", IString, required = false)))

  private def morTable(cat: MemoryCatalog, name: String, version: Int): Table =
    cat.createTable(name, schema, properties = Map(
      "format-version" -> version.toString,
      "write.delete.mode" -> "merge-on-read"))

  /** `rows` ids in `files` data files of contiguous ids, one commit. */
  private def rowsDF(from: Long, rows: Long, files: Int): DataFrame =
    spark.range(from, from + rows, 1, files).selectExpr("id", "cast(id AS string) AS name")

  private def planNodes(t: Table): Int =
    t.toDF(spark).queryExecution.optimizedPlan.collect { case n => n }.size

  private def deleteSets(t: Table): Int =
    t.scan().planFiles().map(_.deleteFiles.map(d => (d.filePath, d.contentOffset)).toSet)
      .distinct.size

  test("v3: plan size does not grow with the number of deletion-vectored files") {
    val cat = new MemoryCatalog()
    val tables = Seq(20, 200).map { files =>
      val t = morTable(cat, s"dv_$files", version = 3)
      t.append(rowsDF(0L, 2L * files, files))
      t.deleteWhere(spark, "id % 2 = 0") // one row of every file
      val tasks = t.refresh().scan().planFiles()
      assert(tasks.size == files && tasks.forall(_.deleteFiles.exists(_.isDeletionVector)))
      assert(t.toDF(spark).count() == files)
      t
    }
    assert(planNodes(tables(0)) == planNodes(tables(1)))
  }

  test("v2: plan size does not grow with the number of delete sets") {
    val cat = new MemoryCatalog()
    // four appends, then one delete: every file shares one delete set
    val one = morTable(cat, "sets_1", version = 2)
    (0 until 4).foreach(a => one.append(rowsDF(a * 100L, 100L, 1)))
    one.deleteWhere(spark, "id % 7 = 0")
    // a delete after each append, as in a table fragmented by micro-appends
    val four = morTable(cat, "sets_4", version = 2)
    (0 until 4).foreach { a =>
      four.append(rowsDF(a * 100L, 100L, 1))
      four.deleteWhere(spark, s"id % 7 = $a")
    }
    assert(deleteSets(one.refresh()) == 1 && deleteSets(four.refresh()) == 4)
    assert(one.toDF(spark).count() == 400 - 58)
    // delete a hides id % 7 == a among the ids appended so far
    assert(four.toDF(spark).count() == 400 - (15 + 29 + 43 + 57))
    assert(planNodes(one) == planNodes(four))
  }
}
