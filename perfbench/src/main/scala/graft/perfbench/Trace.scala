package graft.perfbench

import graft.CommitConflictError
import graft.catalog.{Catalog, TableIdent}
import graft.meta.{PartitionSpec, SortOrder, TableMetadata}
import graft.table.Table
import graft.types.Schema
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed call into a layer. Times are epoch microseconds, the clock
  * Spark's listener events use (at millisecond precision). `parent` is -1
  * for spans recorded from listener events; [[Tracer.tree]] nests those
  * under the innermost span of their op that contains them. */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
                      name: String, startUs: Long, endUs: Long) {
  def durUs: Long = math.max(0L, endUs - startUs)
}

/**
 * Span and counter recorder for the traced run. Every benchmark operation
 * is a root span (its id is the op id); calls into a layer made inside it
 * are child spans. Spans stay in memory and are summarised once, after the
 * measured window. A disabled tracer runs each body directly.
 */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  private val ids = new AtomicLong(0L)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new ConcurrentHashMap[String, LongAdder]()
  // (span id, op id) of the spans open on this thread, innermost first
  private val open = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)
  /** Listener totals count only while the window is open. */
  @volatile var measuring = false

  def inOp: Boolean = open.get.nonEmpty

  /** A root span: one benchmark operation. Spark jobs it starts carry the
    * op id as a local property, which is how the listener attributes them.
    * Outside the measured window (set-up, warm-up, output checks) nothing
    * is recorded, so no layer counts work the window's cycles did not do. */
  def op[T](name: String)(body: => T): T =
    if (!enabled || !measuring) body
    else {
      val id = ids.incrementAndGet()
      val prev = sc.getLocalProperty(Tracer.OpProperty)
      sc.setLocalProperty(Tracer.OpProperty, id.toString)
      try timed(id, -1L, id, "op", name, body)
      finally sc.setLocalProperty(Tracer.OpProperty, prev)
    }

  /** A child span; outside an op nothing is recorded. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled || open.get.isEmpty) body
    else {
      val (parent, op) = open.get.head
      timed(ids.incrementAndGet(), parent, op, layer, name, body)
    }

  private def timed[T](id: Long, parent: Long, op: Long, layer: String,
                       name: String, body: => T): T = {
    open.set((id, op) :: open.get)
    val start = nowUs
    try body
    finally {
      spans.add(Span(id, parent, op, layer, name, start, nowUs))
      open.set(open.get.tail)
    }
  }

  def record(op: Long, layer: String, name: String, startUs: Long, endUs: Long): Unit =
    spans.add(Span(ids.incrementAndGet(), -1L, op, layer, name, startUs, endUs))

  def count(key: String, n: Long = 1L): Unit =
    counters.computeIfAbsent(key, _ => new LongAdder).add(n)

  def counter(key: String): Long =
    Option(counters.get(key)).map(_.sum()).getOrElse(0L)

  /** Spans with every listener span nested under the innermost benchmark
    * span of its op that contains its start. Spans of ops unknown to the
    * benchmark (op 0) are dropped. */
  def tree(): Seq[Span] = {
    val all = spans.asScala.toSeq
    val byOp = all.filter(_.parent >= 0L).groupBy(_.op)
    val roots = all.filter(s => s.layer == "op").map(s => s.id -> s).toMap
    all.flatMap { s =>
      if (s.parent != -1L || s.layer == "op") Some(s)
      else if (!roots.contains(s.op)) None
      else {
        // listener times have millisecond precision: a job that starts as
        // its op does may read as starting just before it
        val host = byOp.getOrElse(s.op, Nil)
          .filter(h => h.startUs <= s.startUs && s.startUs <= h.endUs)
          .minByOption(_.durUs).getOrElse(roots(s.op))
        Some(s.copy(parent = host.id))
      }
    }
  }
}

object Tracer {
  val OpProperty = "perfbench.op"

  /** Self time per layer: a span's time not covered by its children. Each
    * instant of an op is charged to the deepest span open at that instant
    * (the latest-started one among equals), so concurrent jobs are not
    * counted twice and the layers' self times add up to the ops' time. */
  def selfTimeUs(spans: Seq[Span]): Map[String, Long] = {
    val byId = spans.map(s => s.id -> s).toMap
    def depth(s: Span): Int = Iterator.iterate(s)(x => byId.getOrElse(x.parent, x))
      .sliding(2).takeWhile { case Seq(a, b) => a.id != b.id }.size
    val out = mutable.Map[String, Long]().withDefaultValue(0L)
    spans.groupBy(_.op).values.foreach { ss =>
      val d = ss.map(s => s.id -> depth(s)).toMap
      val cuts = ss.flatMap(s => Seq(s.startUs, s.endUs)).distinct.sorted
      cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
        val open = ss.filter(s => s.startUs <= a && a < s.endUs)
        if (open.nonEmpty) out(open.maxBy(s => (d(s.id), s.startUs)).layer) += b - a
      }
    }
    out.toMap
  }

  /** Total length of a set of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }
}

/**
 * Spark-side counters. Jobs, stages and tasks count when the job carries an
 * op id (so set-up and output checks are left out); Catalyst phase times
 * come from the query-execution listener and are matched to ops through
 * the execution id the jobs carry. With `traced = false` only executor CPU
 * time is summed, for the host context of an untraced record.
 */
final class ExecListener(tracer: Tracer, traced: Boolean) extends SparkListener
    with QueryExecutionListener {
  private val jobOp = new ConcurrentHashMap[Int, (Long, Long)]() // job -> (op, start ms)
  private val stageOp = new ConcurrentHashMap[Int, java.lang.Long]()
  private val execOp = new ConcurrentHashMap[Long, java.lang.Long]()
  // per execution: id, Catalyst phases (name, start ms, end ms), and the
  // executed plan's (operators, GraftV1Relation scans); matched to ops
  // after the window
  private val executions =
    new ConcurrentLinkedQueue[(Long, Seq[(String, Long, Long)], (Int, Int))]()
  val executorCpuNs = new LongAdder

  private def opOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.OpProperty))).map(_.toLong)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (traced) {
    opOf(e.properties).foreach { op =>
      jobOp.put(e.jobId, (op, e.time))
      e.stageIds.foreach(s => stageOp.put(s, op))
      Option(e.properties.getProperty("spark.sql.execution.id"))
        .foreach(x => execOp.put(x.toLong, op))
      tracer.count("exec.jobs")
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (traced) {
    Option(jobOp.remove(e.jobId)).foreach { case (op, start) =>
      tracer.record(op, "exec", "job", start * 1000L, e.time * 1000L)
      tracer.count("exec.job_wall_us", (e.time - start) * 1000L)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (traced && stageOp.containsKey(e.stageInfo.stageId)) tracer.count("exec.stages")

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      if (tracer.measuring) executorCpuNs.add(m.executorCpuTime)
      if (traced && stageOp.containsKey(e.stageId)) {
        tracer.count("exec.tasks")
        tracer.count("exec.executor_cpu_ns", m.executorCpuTime)
        tracer.count("exec.executor_run_ms", m.executorRunTime)
        tracer.count("exec.gc_ms", m.jvmGCTime)
        tracer.count("exec.input_rows", m.inputMetrics.recordsRead)
        tracer.count("exec.input_bytes", m.inputMetrics.bytesRead)
        tracer.count("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        tracer.count("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        tracer.count("exec.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        tracer.count("exec.output_bytes", m.outputMetrics.bytesWritten)
        val op = stageOp.get(e.stageId)
        tracer.count(s"exec.input_rows.op$op", m.inputMetrics.recordsRead)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (traced) keep(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    if (traced) keep(qe)

  private def keep(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.toSeq.map { case (p, s) => (p, s.startTimeMs, s.endTimeMs) }
    val shape = scala.util.Try(PlanShape.of(qe)).getOrElse((0, 0))
    executions.add((qe.id, phases, shape))
  }

  /** Record one span per Catalyst phase of each execution that ran inside
    * an op, and count its plan. An execution that started no job is
    * matched by time when one op alone was open when it began. */
  def phaseSpans(rootSpans: Seq[Span]): Unit =
    executions.asScala.foreach { case (exec, phases, (nodes, v1)) =>
      val first = if (phases.isEmpty) 0L else phases.map(_._2).min * 1000L
      val op = Option(execOp.get(exec)).map(_.longValue).orElse {
        val open = rootSpans.filter(r => r.startUs <= first && first <= r.endUs)
        if (open.size == 1) Some(open.head.id) else None
      }
      op.foreach { o =>
        phases.foreach { case (phase, start, end) =>
          tracer.record(o, "spark", phase, start * 1000L, end * 1000L)
          tracer.count(s"spark.$phase.us", (end - start) * 1000L)
        }
        tracer.count("spark.plan_nodes", nodes)
        tracer.count("spark.v1_scan_nodes", v1)
      }
    }
}

/** Streaming progress totals (the s45 stream round trip). */
final class StreamListener(tracer: Tracer) extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (tracer.measuring) {
      val p = e.progress
      if (p.numInputRows > 0) tracer.count("streaming.batches")
      p.durationMs.asScala.foreach { case (k, v) => tracer.count(s"streaming.$k", v.longValue) }
    }
}

/**
 * A catalog that forwards to another and times every call that crosses
 * it. Tables it hands out name it as their catalog, so each metadata
 * refresh and commit a [[Table]] makes comes back through here.
 */
final class TracingCatalog(inner: Catalog, tracer: Tracer) extends Catalog {
  def name: String = inner.name
  def defaultNamespace: Seq[String] = inner.defaultNamespace

  private def own(t: Table): Table = new Table(Some(this), t.ident, t.metadata, t.hadoopConf)

  def listNamespaces(parent: Option[Seq[String]]): Seq[Seq[String]] = inner.listNamespaces(parent)
  def createNamespace(ns: Seq[String], properties: Map[String, String],
                      ifNotExists: Boolean): Unit = inner.createNamespace(ns, properties, ifNotExists)
  def namespaceExists(ns: Seq[String]): Boolean = inner.namespaceExists(ns)
  def namespaceProperties(ns: Seq[String]): Map[String, String] = inner.namespaceProperties(ns)
  def updateNamespace(ns: Seq[String], properties: Map[String, String]): Unit =
    inner.updateNamespace(ns, properties)
  def dropNamespace(ns: Seq[String], ifExists: Boolean): Unit = inner.dropNamespace(ns, ifExists)

  def listTables(ns: Option[Seq[String]]): Seq[Seq[String]] =
    tracer.span("catalog", "listTables")(inner.listTables(ns))
  def createTable(name: String, schema: Schema, location: Option[String],
                  partitionSpec: PartitionSpec, sortOrder: SortOrder,
                  properties: Map[String, String]): Table =
    own(inner.createTable(name, schema, location, partitionSpec, sortOrder, properties))
  def loadTable(name: String): Table =
    tracer.span("catalog", "loadTable")(own(inner.loadTable(name)))
  def dropTable(name: String, ifExists: Boolean): Unit = inner.dropTable(name, ifExists)
  def purgeTable(name: String): Unit = inner.purgeTable(name)
  def tableExists(name: String): Boolean = inner.tableExists(name)
  def renameTable(oldName: String, newName: String): Unit = inner.renameTable(oldName, newName)
  def registerTable(name: String, metadataLocation: String): Table =
    own(inner.registerTable(name, metadataLocation))

  private[graft] def commitTable(ident: TableIdent, base: TableMetadata,
                                 updated: TableMetadata): TableMetadata =
    tracer.span("catalog", "commitTable") {
      try inner.commitTable(ident, base, updated)
      catch {
        case e: CommitConflictError =>
          if (tracer.inOp) tracer.count("catalog.commit_conflicts")
          throw e
      }
    }
  private[graft] def currentMetadata(ident: TableIdent): TableMetadata =
    tracer.span("catalog", "currentMetadata")(inner.currentMetadata(ident))
  private[graft] override def supportsStagedPublish: Boolean = inner.supportsStagedPublish
  private[graft] override def defaultTableLocation(ident: TableIdent): String =
    inner.defaultTableLocation(ident)
}

/** Executed-plan shape, looking through adaptive execution to the final plan. */
object PlanShape {
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val next: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case other => other.children ++ other.subqueries
    }
    p +: next.flatMap(nodes)
  }

  /** (operator count, GraftV1Relation scans) of an executed query. */
  def of(qe: QueryExecution): (Int, Int) = {
    val ns = nodes(qe.executedPlan).filterNot(n =>
      n.isInstanceOf[AdaptiveSparkPlanExec] || n.isInstanceOf[QueryStageExec])
    (ns.size, ns.count(_.simpleString(200).contains("GraftV1Relation")))
  }
}
