package org.apache.spark.sql.graftbridge

import org.apache.spark.TaskContext
import org.apache.spark.sql.{classic, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriterFactory, WriterCommitMessage}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.v2.DataWritingSparkTask

/** The Spark side of a table write (see [[ColumnBridge]] for why this
  * file lives in the spark namespace): running a DSv2 writer factory over
  * a DataFrame's executed plan as one SQL execution, and the task output
  * metrics (private[spark] setters) a file writer reports. */
object WriteBridge {

  /** Run `factory`'s writers over every partition of `df`'s executed plan,
    * one task per partition under the DSv2 task protocol (commit
    * coordinator on, failed attempts abort), inside a new SQL execution so
    * query-execution listeners and the SQL UI see the write. Returns each
    * partition's commit message. */
  def runWriteJob(df: DataFrame, factory: DataWriterFactory): Array[WriterCommitMessage] = {
    val qe = df.asInstanceOf[classic.Dataset[_]].queryExecution
    SQLExecution.withNewExecutionId(qe, Some("write")) {
      val rdd = qe.toRdd
      qe.sparkSession.sparkContext.runJob(rdd,
        (ctx: TaskContext, rows: Iterator[InternalRow]) =>
          DataWritingSparkTask.run(factory, ctx, rows, true, Map.empty).writerCommitMessage)
    }
  }

  /** Add to the running task's output metrics (records and bytes written),
    * as Spark's own file writers do. */
  def addTaskOutput(bytes: Long, records: Long): Unit =
    Option(TaskContext.get()).foreach { tc =>
      val m = tc.taskMetrics().outputMetrics
      m.setBytesWritten(m.bytesWritten + bytes)
      m.setRecordsWritten(m.recordsWritten + records)
    }
}
