package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** More `private[sql]` re-exports (see [[ColumnBridge]] for why this
  * file lives in the spark namespace): materializing a resolved logical
  * plan as a DataFrame (the MERGE source, manifest-listed file reads) or
  * as the plan a planner strategy splices in, adding such a strategy,
  * a nullable copy of a file schema, the Hadoop conf of a file scan, and
  * converting a Catalyst literal's internal value (UTF8String, day-int,
  * micros-long) to the external Scala value our scan predicates carry. */
object CatalystBridge {
  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `plan` after the session's analyzer, which runs once. */
  def analyzed(spark: SparkSession, plan: LogicalPlan): LogicalPlan = {
    val session = spark.asInstanceOf[classic.SparkSession]
    session.withActive {
      val qe = session.sessionState.executePlan(plan)
      qe.assertAnalyzed()
      qe.analyzed
    }
  }

  def optimized(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.optimizedPlan

  /** Put `strategy` first among `spark`'s planner strategies, once. */
  def addStrategy(spark: SparkSession, strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val methods = spark.asInstanceOf[classic.SparkSession].sessionState.experimentalMethods
    methods.synchronized {
      if (!methods.extraStrategies.contains(strategy))
        methods.extraStrategies = strategy +: methods.extraStrategies
    }
  }

  /** A file relation's data schema with every field nullable, as
    * `DataFrameReader` builds it (private[spark] `asNullable`): a file
    * need not honour the table's required flags. */
  def asNullable(schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    schema.asNullable

  def literalToScala(value: Any, dataType: org.apache.spark.sql.types.DataType): Any =
    CatalystTypeConverters.convertToScala(value, dataType)

  /** The session's CatalogManager (private[sql]) — parser-injected DDL
    * resolves its raw identifiers against it at planning time. */
  def catalogManager(spark: SparkSession): org.apache.spark.sql.connector.catalog.CatalogManager =
    spark.asInstanceOf[classic.SparkSession].sessionState.catalogManager

  /** The Hadoop conf Spark builds for a file scan: the session's, with
    * the SQL conf's entries (private[sql] `newHadoopConf`). */
  def hadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** Plan-truncating leaf over the INTERNAL row RDD: a LogicalRDD that
    * replaces an iterative round's Catalyst plan. The public equivalent
    * `createDataFrame(df.rdd, schema)` pays a full per-row decode to
    * external Row plus a re-encode back to InternalRow on every
    * materialization; `toRdd` keeps rows internal end-to-end (the
    * downstream RDDScanExec re-projects to UnsafeRow itself, so row reuse
    * is handled by the normal operator contract). */
  def planTruncatedLeaf(df: DataFrame): DataFrame = {
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(
      df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]].queryExecution.toRdd,
      df.schema)
  }
}
