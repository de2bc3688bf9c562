package graft

import graft.catalog.MemoryCatalog
import graft.table.{NotDeleted, SerializableHadoopConf, Table}
import graft.types.{ILong, IString, NestedField, Schema}
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
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

  private object PlanNodes extends AdaptiveSparkPlanHelper

  /** A v2 table with position deletes and a v3 table with deletion
    * vectors: 400 ids in 4 files, `id % 7 = 0` deleted. */
  private def deletedTables(cat: MemoryCatalog): Seq[Table] = Seq(2, 3).map { version =>
    val t = morTable(cat, s"deleted_v$version", version)
    t.append(rowsDF(0L, 400L, 4))
    t.deleteWhere(spark, "id % 7 = 0")
    val tasks = t.refresh().scan().planFiles()
    assert(tasks.size == 4 && tasks.forall(_.deleteFiles.nonEmpty))
    assert(tasks.forall(_.deleteFiles.forall(_.isDeletionVector == (version == 3))))
    t
  }

  private def jobsOf(action: => Any): Int = {
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
    }
    org.apache.spark.TestListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      action
      org.apache.spark.TestListenerBus.drain(spark.sparkContext)
      jobs
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def serializedBytes(o: AnyRef): Int = {
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(o)
    out.close()
    bytes.size
  }

  test("position deletes and deletion vectors apply without a join or a broadcast exchange") {
    for (t <- deletedTables(new MemoryCatalog())) withClue(s"v${t.metadata.formatVersion}: ") {
      val df = t.toDF(spark)
      assert(df.collect().length == 400 - 58)
      val nodes = PlanNodes.collect(df.queryExecution.executedPlan) { case n => n }
      assert(!nodes.exists(_.isInstanceOf[BaseJoinExec]), df.queryExecution.executedPlan)
      assert(!nodes.exists(_.isInstanceOf[BroadcastExchangeExec]), df.queryExecution.executedPlan)
      // the plan still says that, and how, the scan applies deletes
      val kind = if (t.metadata.formatVersion == 3) "4 deletion vectors" else "position delete files"
      assert(df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
        .matches(s"(?s).*not deleted .*$kind over 4 data files.*"))
    }
  }

  test("a merge-on-read collect runs as many jobs as the same files read with no deletes") {
    for (t <- deletedTables(new MemoryCatalog())) withClue(s"v${t.metadata.formatVersion}: ") {
      val tasks = t.scan().planFiles()
      val noDeletes = t.scan().materializeTasks(spark, tasks.map(_.copy(deleteFiles = Nil)))
      assert(jobsOf(t.toDF(spark).collect()) == jobsOf(noDeletes.collect()))
    }
  }

  test("the delete predicate's serialized size does not grow with the Hadoop conf") {
    val sizes = Seq(0, 10000).map { padding =>
      val conf = new Configuration()
      (0 until padding).foreach(i => conf.set(s"graft.test.padding.$i", "x" * 32))
      assert(conf.size > 1000)
      assert(serializedBytes(new SerializableHadoopConf(conf)) > 16 * 1024)
      val t = deletedTables(new MemoryCatalog(hadoopConf = conf)).head
      val preds = t.toDF(spark).queryExecution.optimizedPlan
        .flatMap(_.expressions.flatMap(_.collect { case n: NotDeleted => n }))
      assert(preds.nonEmpty)
      preds.map(serializedBytes).max
    }
    assert(sizes.forall(_ < 16 * 1024), sizes)
    assert(math.abs(sizes(0) - sizes(1)) < 256, sizes)
  }
}
