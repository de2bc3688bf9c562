package graft.perfbench

import graft.catalog.{Catalog, HadoopCatalog}
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Extraction}
import org.json4s.jackson.JsonMethods

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** What a workload hands back. `cycleP50Ms` is the median closed-loop
  * cycle of the measured client and `cycles` the number of cycles its work
  * in the window amounts to (per-cycle metrics divide by it);
  * `cycleCpuMs`, when the client ran whole cycles, is the work CPU of each
  * (the end-to-end CPU metric is their median); `named` are
  * the workload's own end-to-end metrics (name, value, unit) and `layers`
  * its share of the per-layer metrics. */
final case class Outcome(
    setupS: Seq[Double],
    cycleP50Ms: Double,
    cycles: Double,
    cycleCpuMs: Seq[Double] = Nil,
    attempted: Int,
    failed: Int,
    errors: Seq[String],
    named: Seq[(String, Double, String)],
    layers: Seq[(String, Double)] = Nil,
    notes: Seq[(String, String)] = Nil)

/** Everything a workload needs: the session, the tracer, its seed and
  * budget, and a private work directory inside the benchmark checkout. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val exec: ExecListener,
                val seed: Long, val seconds: Int, val work: Path, val dataDir: String) {
  private val threads = ManagementFactory.getThreadMXBean
  /** CPU time of the client threads' own work inside the window. */
  val clientCpuNs = new java.util.concurrent.atomic.LongAdder

  /** Runs one client operation, charging its thread's CPU time. */
  def clientOp[T](body: => T): T = {
    val c0 = threads.getCurrentThreadCpuTime
    try body
    finally clientCpuNs.add(threads.getCurrentThreadCpuTime - c0)
  }

  /** A Hadoop catalog over `dir`, behind the tracing catalog in a traced run. */
  def catalog(dir: Path): Catalog = {
    val h = new HadoopCatalog(dir.toUri.toString, "bench")
    if (tracer.enabled) new TracingCatalog(h, tracer) else h
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  private var t0 = 0L
  private var cpu0 = 0L
  private var gc0 = 0L
  var windowS = 0.0
  var processCpuS = 0.0
  var driverGcMs = 0.0
  var heapPeakMb = 0.0

  /** Start of the measured window: listener backlog drained, peaks reset. */
  def openWindow(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    heapPools.foreach(_.resetPeakUsage())
    gc0 = gcMs
    cpu0 = os.getProcessCpuTime
    t0 = System.nanoTime()
    tracer.measuring = true
  }

  /** End of the measured window (after the last counted op has finished). */
  def closeWindow(): Unit = {
    windowS = (System.nanoTime() - t0) / 1e9
    processCpuS = (os.getProcessCpuTime - cpu0) / 1e9
    driverGcMs = (gcMs - gc0).toDouble
    heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    PerfbenchBus.drain(spark.sparkContext)
    tracer.measuring = false
  }
}

object Main {
  private def uptimeS(): Double = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toInt).getOrElse(10)
    val traced = arg(args, "--trace").contains("1")
    val work = Paths.get(arg(args, "--work").getOrElse(sys.error("--work required"))).toAbsolutePath
    val dataDir = arg(args, "--data").getOrElse("")
    val cpus = arg(args, "--cpus").getOrElse(Runtime.getRuntime.availableProcessors.toString)
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.spark.GraftSqlExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    System.err.println(f"[perfbench] session ready at ${uptimeS()}%.1f s")
    val sc = spark.sparkContext
    val tracer = new Tracer(traced, sc)
    val exec = new ExecListener(tracer, traced)
    sc.addSparkListener(exec)
    if (traced) {
      spark.listenerManager.register(exec)
      spark.streams.addListener(new StreamListener(tracer))
    }
    val ctx = new Ctx(spark, tracer, exec, seed, seconds, work, dataDir)
    val result =
      try {
        val o = workload match {
          case "ingest" => Ingest.run(ctx)
          case "mor_read" => MorRead.run(ctx)
          case "llm_ops" => LlmOps.run(ctx)
          case other => sys.error(s"unknown workload $other")
        }
        PerfbenchBus.drain(sc)
        System.err.println(f"[perfbench] workload done at ${uptimeS()}%.1f s")
        Json.render(report(ctx, o))
      } finally spark.stop()
    Files.writeString(work.resolve("result.json"), result)
    System.err.println(f"[perfbench] stopped at ${uptimeS()}%.1f s")
  }

  private def report(ctx: Ctx, o: Outcome): Map[String, Any] = {
    val cycles = math.max(1.0, o.cycles)
    val endToEnd = ListMap(
      "setup_s" -> Stats.median(o.setupS),
      "cycle_p50_ms" -> o.cycleP50Ms,
      "work_cpu_ms_per_cycle" ->
        (if (o.cycleCpuMs.nonEmpty) Stats.median(o.cycleCpuMs)
         else (ctx.clientCpuNs.sum() + ctx.exec.executorCpuNs.sum()) / 1e6 / cycles))
    val host = ListMap(
      "window_s" -> ctx.windowS,
      "process_cpu_s" -> ctx.processCpuS,
      "executor_cpu_s" -> ctx.exec.executorCpuNs.sum() / 1e9,
      "client_cpu_s" -> ctx.clientCpuNs.sum() / 1e9,
      "cycles" -> o.cycles)
    val layers = if (ctx.tracer.enabled) traceLayers(ctx, cycles) else Nil
    ListMap(
      "correct" -> o.errors.isEmpty,
      "errors" -> o.errors,
      "attempted" -> o.attempted,
      "failed" -> o.failed,
      "setup_runs_s" -> o.setupS,
      "cycle_cpu_ms" -> o.cycleCpuMs,
      "end_to_end" -> endToEnd,
      "named" -> o.named.map { case (n, v, u) => ListMap("name" -> n, "value" -> v, "unit" -> u) },
      "per_layer" -> ListMap(layers ++ o.layers: _*),
      "host" -> host,
      "notes" -> ListMap(o.notes: _*))
  }

  /** Per-layer metrics shared by every workload, per measured cycle. */
  private def traceLayers(ctx: Ctx, cycles: Double): Seq[(String, Double)] = {
    val t = ctx.tracer
    ctx.exec.phaseSpans(t.spans.asScala.filter(_.layer == "op").toSeq)
    val spans = t.tree()
    val byId = spans.map(s => s.id -> s).toMap
    def named(layer: String, names: String*) =
      spans.filter(s => s.layer == layer && names.contains(s.name))
    def ms(ss: Seq[Span]) = ss.map(_.durUs).sum / 1000.0
    def per(v: Double) = v / cycles
    val c = (k: String) => t.counter(k).toDouble

    val loads = named("catalog", "loadTable", "currentMetadata")
    val commits = named("catalog", "commitTable")
    val conflicts = c("catalog.commit_conflicts")
    // the output of a traced append is the Spark write job; the rest of
    // its span is alignment, manifests, metadata and the catalog commit
    val appends = named("table", "append")
    val kids = spans.groupBy(_.parent)
    val appendWriteUs = appends.map(a => Tracer.union(kids.getOrElse(a.id, Nil)
      .filter(_.layer == "exec").map(j => (math.max(j.startUs, a.startUs), math.min(j.endUs, a.endUs)))
      .filter { case (x, y) => y > x })).sum
    val sqlCalls = named("sql", "catalog.sql")
    def under(s: Span, ancestor: Span): Boolean =
      Iterator.iterate(Option(s))(_.flatMap(x => byId.get(x.parent))).takeWhile(_.isDefined)
        .exists(_.exists(_.id == ancestor.id))
    val sqlLoads = named("catalog", "loadTable").count(l => sqlCalls.exists(s => under(l, s)))
    val lookups = spans.filter(s => s.layer == "op" && s.name == "graftsql")
    val lookupRows = lookups.map(l => c(s"exec.input_rows.op${l.id}")).sum
    val self = Tracer.selfTimeUs(spans)

    Seq(
      "catalog.load_ms" -> per(ms(loads)),
      "catalog.load_calls" -> per(loads.size),
      "catalog.list_calls" -> per(named("catalog", "listTables").size),
      "catalog.commit_ms" -> per(ms(commits)),
      "catalog.commit_attempts" -> per(commits.size),
      "catalog.commit_conflicts" -> per(conflicts),
      "catalog.commit_success_ratio" ->
        (if (commits.isEmpty) 0.0 else (commits.size - conflicts) / commits.size),
      "table.to_df_ms" -> per(ms(named("table", "toDF"))),
      "table.append_write_ms" ->
        (if (appends.isEmpty) 0.0 else appendWriteUs / 1000.0 / appends.size),
      "table.append_commit_ms" ->
        (if (appends.isEmpty) 0.0 else (ms(appends) - appendWriteUs / 1000.0) / appends.size),
      "spark.analyze_ms" -> per(c("spark.analysis.us") / 1000.0),
      "spark.optimize_ms" -> per(c("spark.optimization.us") / 1000.0),
      "spark.physical_plan_ms" -> per(c("spark.planning.us") / 1000.0),
      "spark.plan_nodes" -> per(c("spark.plan_nodes")),
      "spark.v1_scan_nodes" -> per(c("spark.v1_scan_nodes")),
      "exec.jobs" -> per(c("exec.jobs")),
      "exec.stages" -> per(c("exec.stages")),
      "exec.tasks" -> per(c("exec.tasks")),
      "exec.job_wall_ms" -> per(c("exec.job_wall_us") / 1000.0),
      "exec.executor_cpu_ms" -> per(c("exec.executor_cpu_ns") / 1e6),
      "exec.executor_run_ms" -> per(c("exec.executor_run_ms")),
      "exec.gc_ms" -> per(c("exec.gc_ms")),
      "exec.input_rows" -> per(c("exec.input_rows")),
      "exec.input_bytes" -> per(c("exec.input_bytes")),
      "exec.shuffle_read_bytes" -> per(c("exec.shuffle_read_bytes")),
      "exec.shuffle_write_bytes" -> per(c("exec.shuffle_write_bytes")),
      "exec.spill_bytes" -> per(c("exec.spill_bytes")),
      "exec.output_bytes" -> per(c("exec.output_bytes")),
      "exec.rows_read_per_result" ->
        (if (lookups.isEmpty) 0.0 else lookupRows / c("graftsql.result_rows").max(1.0)),
      "sql.call_ms" -> (if (sqlCalls.isEmpty) 0.0 else ms(sqlCalls) / sqlCalls.size),
      "sql.tables_loaded_per_call" ->
        (if (sqlCalls.isEmpty) 0.0 else sqlLoads.toDouble / sqlCalls.size),
      "streaming.batches" -> per(c("streaming.batches")),
      "streaming.add_batch_ms" -> per(c("streaming.addBatch")),
      "streaming.latest_offset_ms" -> per(c("streaming.latestOffset")),
      "streaming.query_planning_ms" -> per(c("streaming.queryPlanning")),
      "streaming.wal_commit_ms" -> per(c("streaming.walCommit")),
      "driver.heap_peak_mb" -> ctx.heapPeakMb,
      "driver.gc_ms" -> per(ctx.driverGcMs)) ++
      Seq("op", "catalog", "table", "spark", "exec", "sql").map(l =>
        s"self.${l}_ms" -> per(self.getOrElse(l, 0L) / 1000.0))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (0 for an empty sample). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest of p50/p75/p90/p95/p99 with at least ten samples beyond
    * it, as (percentile, value); None below 20 samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    Seq(99.0, 95.0, 90.0, 75.0, 50.0)
      .find(p => xs.size * (1 - p / 100) >= 10)
      .map(p => (p, quantile(xs, p / 100)))
}

object Json {
  /** Renders nested maps, sequences, strings, numbers and booleans. */
  def render(value: Map[String, Any]): String =
    JsonMethods.compact(JsonMethods.render(Extraction.decompose(value)(DefaultFormats)))
}
