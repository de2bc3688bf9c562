package graft

import graft.catalog.MemoryCatalog
import graft.spark.{GraftScanStrategy, GraftSparkCatalog}
import graft.table.Table
import graft.types.{ILong, IString, NestedField, Schema}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.functions.{count, lit, sum}
import org.scalatest.funsuite.AnyFunSuite

/** A SQL read of a graft table plans inside the caller's query: the
  * parquet scan, the delete filter and the query's operators are one
  * physical plan, with no nested query and no row conversion, and every
  * answer is the native read's. */
class SqlScanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val C = "sqlscan"
  private lazy val cat = {
    val c = new MemoryCatalog(name = "sqlscan")
    GraftSparkCatalog.register(spark, C, c)
    c
  }

  private val schema = Schema(0, Seq(
    NestedField(1, "id", ILong, required = false),
    NestedField(2, "k", ILong, required = false),
    NestedField(3, "name", IString, required = false)))

  /** 400 ids in 4 files, `id % 7 = 0` deleted: position deletes (v2) or
    * deletion vectors (v3). */
  private lazy val tables: Seq[Table] = Seq(2, 3).map { version =>
    val t = cat.createTable(s"mor_v$version", schema, properties = Map(
      "format-version" -> version.toString, "write.delete.mode" -> "merge-on-read"))
    t.append(spark.range(0, 400, 1, 4)
      .selectExpr("id", "id % 5 AS k", "cast(id AS string) AS name"))
    t.deleteWhere(spark, "id % 7 = 0")
    assert(t.refresh().scan().planFiles().forall(_.deleteFiles.nonEmpty))
    t.refresh()
  }

  private object Plans extends AdaptiveSparkPlanHelper
  private def nodes(df: DataFrame): Seq[SparkPlan] =
    Plans.collect(df.queryExecution.executedPlan) { case n => n }

  private def groupedCount(df: DataFrame): Set[Row] =
    df.groupBy("k").agg(count(lit(1)), sum("id")).collect().toSet

  test("a SQL grouped count fuses the parquet scan and the partial aggregate") {
    for (t <- tables) withClue(s"v${t.metadata.formatVersion}: ") {
      val df = spark.sql(s"SELECT k, count(*), sum(id) FROM $C.default.${t.ident.name} GROUP BY k")
      assert(df.collect().toSet == groupedCount(t.toDF(spark)))
      val all = nodes(df)
      assert(!all.exists(n => n.nodeName.contains("ExistingRDD") ||
        n.simpleString(200).contains("GraftV1Relation")), df.queryExecution.executedPlan)
      // one codegen stage holds the parquet scan and the partial aggregate
      val stages = all.collect { case w: WholeStageCodegenExec => w }
      assert(stages.exists { w =>
        val inner = w.collect { case n => n }
        inner.exists(_.isInstanceOf[FileSourceScanExec]) &&
          inner.exists(_.isInstanceOf[HashAggregateExec])
      }, df.queryExecution.executedPlan)
    }
  }

  test("a session without the SQL extensions reads through the strategy") {
    val t = tables.head
    val bare = org.apache.spark.sql.TestSessions.withoutExtensions(spark)
    GraftSparkCatalog.register(bare, C, cat)
    assert(!bare.experimental.extraStrategies.contains(GraftScanStrategy))
    val df = bare.sql(s"SELECT k, count(*), sum(id) FROM $C.default.${t.ident.name} GROUP BY k")
    assert(df.collect().toSet == groupedCount(t.toDF(spark)))
    assert(bare.experimental.extraStrategies.count(_ == GraftScanStrategy) == 1)
    bare.sql(s"SELECT count(*) FROM $C.default.${t.ident.name}").collect()
    assert(bare.experimental.extraStrategies.count(_ == GraftScanStrategy) == 1)
    // and the catalog's own SQL session
    val res = cat.sql(spark, s"SELECT count(*) FROM ${t.ident.name} WHERE id < $$1", Seq(100L))
    assert(res.rows == Seq(Seq(100L - 15)))
  }

  test("_file and _pos name each live row's file and position") {
    val t = tables.head
    val rows = spark.sql(s"SELECT _pos, id, _file FROM $C.default.${t.ident.name}")
      .collect().map(r => (r.getString(2), r.getLong(0), r.getLong(1)))
    val files = t.scan().planFiles().map(_.filePath).toSet
    assert(rows.length == 400 - 58 && rows.map(_._1).toSet == files)
    // each file holds 100 contiguous ids, so a row's position is id % 100
    assert(rows.forall { case (_, pos, id) => pos == id % 100 })
  }

  test("a renamed table with an added column, equality and position deletes reads as toDF does") {
    import spark.implicits._
    val t = cat.createTable("evolved", schema, properties = Map("write.delete.mode" -> "merge-on-read"))
    t.append(spark.range(0, 100, 1, 2).selectExpr("id", "id % 5 AS k", "cast(id AS string) AS name"))
    t.updateSchema().renameColumn("name", "label").addColumn("extra", ILong).commit()
    t.refresh().append(spark.range(100, 150, 1, 2)
      .selectExpr("id", "id % 5 AS k", "cast(id AS string) AS label", "id * 2 AS extra"))
    t.refresh().upsert(spark, Seq((5L, 0L, "five", 1L), (120L, 0L, "x", 2L))
      .toDF("id", "k", "label", "extra"), Seq("id"))
    t.refresh().deleteWhere(spark, "id % 10 = 3")
    val tasks = t.refresh().scan().planFiles()
    assert(tasks.map(_.schemaId).distinct.size == 2 &&
      tasks.exists(_.deleteFiles.exists(_.content == 2)) && tasks.exists(_.deleteFiles.exists(_.content == 1)))
    val native = t.toDF(spark)
    for ((sql, df) <- Seq(
        "SELECT id, label FROM evolved WHERE k = 0" -> native.where("k = 0").select("id", "label"),
        "SELECT * FROM evolved" -> native,
        "SELECT k, count(*), sum(extra) FROM evolved GROUP BY k" ->
          native.groupBy("k").agg(count(lit(1)), sum("extra"))))
      withClue(sql) {
        val got = spark.sql(sql.replace("evolved", s"$C.default.evolved")).collect().toSet
        assert(got == df.collect().toSet && got.nonEmpty)
      }
    assert(spark.sql(s"SELECT label, extra FROM $C.default.evolved WHERE id IN (5, 120, 13)")
      .collect().toSet == Set(Row("five", 1L), Row("x", 2L)))
  }

  test("one conf broadcast per catalog conf, kept across scans") {
    import graft.table.TableScan.taskConf
    val first = taskConf(spark, cat.hadoopConf)
    for (t <- tables) assert(t.toDF(spark).count() == 400 - 58)
    assert(taskConf(spark, tables.last.hadoopConf).id == first.id)
    assert(taskConf(spark, new MemoryCatalog().hadoopConf).id != first.id)
  }

  test("an unfiltered LIMIT plans only a file prefix") {
    val t = cat.createTable("limited", schema)
    t.append(spark.range(0, 400, 1, 4).selectExpr("id", "id % 5 AS k", "cast(id AS string) AS name"))
    val df = spark.sql(s"SELECT * FROM $C.default.limited LIMIT 10")
    assert(df.collect().length == 10)
    val scans = nodes(df).collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty && scans.forall(_.relation.location.inputFiles.length == 1),
      df.queryExecution.executedPlan)
  }

  test("VERSION AS OF, a metadata table and a metadata-only count answer as before") {
    val t = cat.createTable("versions", schema)
    t.append(spark.range(0, 10).selectExpr("id", "id AS k", "cast(id AS string) AS name"))
    val first = t.refresh().currentSnapshotId.get
    t.append(spark.range(10, 30).selectExpr("id", "id AS k", "cast(id AS string) AS name"))
    val q = s"$C.default.versions"
    assert(spark.sql(s"SELECT count(*) FROM $q VERSION AS OF $first").head().getLong(0) == 10)
    assert(spark.sql(s"SELECT sum(id) FROM $q VERSION AS OF $first").head().getLong(0) == 45)
    val snaps = spark.sql(s"SELECT snapshot_id FROM $q.snapshots").collect().map(_.getLong(0)).toSet
    assert(snaps == t.refresh().snapshotsDF(spark).select("snapshot_id").collect().map(_.getLong(0)).toSet)
    assert(snaps.size == 2)
    val counted = spark.sql(s"SELECT count(*) FROM $q")
    assert(counted.queryExecution.executedPlan.toString.contains("GraftMetadataAggScan"))
    assert(counted.head().getLong(0) == 30)
  }

  test("EXPLAIN names the graft scan: table, snapshot, pushed filters, limit") {
    val t = tables.head
    val sid = t.currentSnapshotId.get
    val filtered = spark.sql(s"SELECT id FROM $C.default.${t.ident.name} WHERE k = 3")
    val plan = filtered.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains(s"graft default.${t.ident.name} snapshot=$sid pushed=IsNotNull(k),EqualTo(k,3)"), plan)
    assert(plan.contains("PushedFilters: [IsNotNull(k), EqualTo(k,3)]"), plan)
    assert(filtered.collect().map(_.getLong(0)).toSet ==
      (0L until 400L).filter(i => i % 5 == 3 && i % 7 != 0).toSet)
    val limited = spark.sql(s"SELECT * FROM $C.default.${t.ident.name} LIMIT 3")
    assert(limited.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
      .contains(s"graft default.${t.ident.name} snapshot=$sid pushed= limit=3"))
  }
}
