package graft.perfbench

import graft.CommitConflictError
import graft.catalog.Catalog
import graft.manifest.Manifests
import graft.spark.GraftSparkCatalog
import graft.table.{GePred, LtPred, Table}
import graft.types.SparkSchemaConverter
import org.apache.hadoop.fs.Path
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{count, lit, sum}
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path => JPath}
import java.util.SplittableRandom
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Shared pieces of the workloads: seeded rows, timing, table state. */
object Common {
  val RowType: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("k", IntegerType, nullable = false),
    StructField("v", DoubleType, nullable = false),
    StructField("s", StringType, nullable = false)))
  val Words: Array[String] = Array("scan", "join", "hash", "merge", "batch", "stream",
    "window", "filter", "query", "table", "vector", "spark")
  val MorProps: Map[String, String] =
    Map("write.delete.mode" -> "merge-on-read", "format-version" -> "2")
  /** Key column values are 0 until Buckets. */
  val Buckets = 64

  /** The row with this id under this seed: every column is a function of
    * (seed, id), so the model can recompute any row it has written. */
  def row(seed: Long, id: Long): Row = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ id)
    Row(id, r.nextInt(Buckets), math.rint(r.nextDouble() * 1e6) / 100.0, Words(r.nextInt(Words.length)))
  }

  def rowsDF(spark: SparkSession, seed: Long, ids: Seq[Long]): DataFrame =
    spark.createDataFrame(ids.map(row(seed, _)).asJava, RowType)

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Set-up work whose items are independent runs on three threads: the
    * cold JVM spends most of it compiling, which overlaps well. */
  def inParallel[T](items: Seq[T])(f: T => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try items.map(i => pool.submit[Unit](() => f(i))).foreach(_.get())
    finally pool.shutdown()
  }

  def deleteTree(p: JPath): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[JPath]())
        .forEach(f => Files.deleteIfExists(f))

  private def localPath(location: String): JPath =
    java.nio.file.Paths.get(new java.net.URI(if (location.contains(":")) location else "file://" + location))

  /** Every regular file under a table location, as (relative path, bytes). */
  def listing(t: Table): Seq[(String, Long)] = {
    val root = localPath(t.location)
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => (root.relativize(f).toString, Files.size(f))).toSeq
  }

  /** Storage, metadata and manifest state of one table (the per-layer
    * metrics that describe what a scan or commit has to work through). */
  def tableState(t: Table): Seq[(String, Double)] = {
    val files = listing(t).filterNot(_._1.split('/').last.endsWith(".crc"))
    def isMeta(p: String) = p.startsWith("metadata/")
    def isDelete(p: String) = p.contains("-del/") || p.endsWith(".puffin")
    val data = files.filter { case (p, _) => !isMeta(p) && !isDelete(p) }
    val dels = files.filter { case (p, _) => !isMeta(p) && isDelete(p) }
    val meta = files.filter { case (p, _) => isMeta(p) }
    val current = meta.filter(_._1.endsWith(".metadata.json"))
      .maxByOption { case (p, _) => p.stripPrefix("metadata/v").stripSuffix(".metadata.json").toIntOption.getOrElse(-1) }
    val (manifests, listMs) = t.currentSnapshot match {
      case None => (Nil, 0.0)
      case Some(s) =>
        val path = new Path(s.manifestList)
        val fs = path.getFileSystem(t.hadoopConf)
        val times = (1 to 5).map { _ => val t0 = System.nanoTime(); Manifests.readManifestList(fs, path); ms(t0) }
        (Manifests.readManifestList(fs, path), Stats.median(times))
    }
    Seq(
      "meta.metadata_bytes" -> current.map(_._2.toDouble).getOrElse(0.0),
      "manifest.manifests" -> manifests.count(_.content == 0).toDouble,
      "manifest.delete_manifests" -> manifests.count(_.content != 0).toDouble,
      "manifest.list_read_ms" -> listMs,
      "storage.data_files" -> data.size.toDouble,
      "storage.delete_files" -> dels.size.toDouble,
      "storage.metadata_files" -> meta.size.toDouble,
      "storage.data_bytes" -> (data ++ dels).map(_._2).sum.toDouble,
      "storage.metadata_bytes" -> meta.map(_._2).sum.toDouble)
  }

  /** Planning shape of a table's current snapshot: planned files, delete
    * files per task, distinct delete sets (one union branch each), and the
    * median time of a driver-side planFiles call. */
  def planState(t: Table): Seq[(String, Double)] = {
    val times = (1 to 5).map { _ => val t0 = System.nanoTime(); t.scan().planFiles(); ms(t0) }
    val tasks = t.scan().planFiles()
    val sets = tasks.map(_.deleteFiles.map(d => (d.filePath, d.contentOffset.getOrElse(-1L))).toSet).distinct
    Seq(
      "table.plan_files_ms" -> Stats.median(times),
      "table.planned_files" -> tasks.size.toDouble,
      "table.delete_files_per_task" ->
        (if (tasks.isEmpty) 0.0 else tasks.map(_.deleteFiles.size).sum.toDouble / tasks.size),
      "table.delete_sets" -> sets.size.toDouble)
  }

  /** Latencies of one client that runs a fixed set of op kinds in rounds,
    * each round in a seeded random order, and the work CPU (client thread
    * plus executor tasks) of each round. */
  final case class Loop(lat: Map[String, Seq[Double]], roundCpuMs: Seq[Double],
                        attempted: Int, failed: Int, errors: Seq[String]) {
    def p50(kind: String): Double = Stats.median(lat(kind))
    /** One cycle runs every kind once: the sum of the kinds' medians. */
    def cycleP50Ms: Double = lat.keys.map(p50).sum
    def cycles: Double = roundCpuMs.size.toDouble
  }

  /** Runs `op` (which returns its latency in ms) in whole rounds over
    * `kinds` until the window closes and at least `minRounds` have run.
    * Whole rounds keep the mix of kinds the same in every run, so
    * per-cycle figures do not depend on which kinds a cut-off last round
    * happened to include; a round count that does not vary with host
    * speed keeps medians over rounds comparable between runs. */
  def closedLoop(ctx: Ctx, kinds: Seq[String], order: scala.util.Random, minRounds: Int = 1)
                (op: String => Double): Loop = {
    val lat = kinds.map(_ -> mutable.ArrayBuffer[Double]()).toMap
    val roundCpuMs = mutable.ArrayBuffer[Double]()
    val errors = mutable.ArrayBuffer[String]()
    var attempted, failed = 0
    // the listener bus is drained first, so every task of the round is counted
    def workCpuNs: Long = {
      PerfbenchBus.drain(ctx.spark.sparkContext)
      ctx.clientCpuNs.sum() + ctx.exec.executorCpuNs.sum()
    }
    ctx.openWindow()
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    while (System.nanoTime() < deadline || roundCpuMs.size < minRounds) {
      val cpu0 = workCpuNs
      order.shuffle(kinds).foreach { k =>
        attempted += 1
        try lat(k) += ctx.clientOp(op(k))
        catch { case NonFatal(e) => failed += 1; errors += s"$k: $e" }
      }
      roundCpuMs += (workCpuNs - cpu0) / 1e6
    }
    ctx.closeWindow()
    Loop(lat.map { case (k, v) => k -> v.toSeq }, roundCpuMs.toSeq, attempted, failed, errors.toSeq)
  }

  /** Snapshot sequence numbers along the main history must strictly rise. */
  def sequenceErrors(t: Table): Seq[String] = {
    val seqs = t.history.flatMap(h => t.snapshotById(h.snapshotId)).map(_.sequenceNumber)
    seqs.zip(seqs.drop(1)).collect {
      case (a, b) if b <= a => s"sequence number did not increase: $a then $b"
    }.distinct
  }
}

/**
 * `ingest`: two writer clients on one Hadoop-catalog table. The appender
 * (the measured client) fast-appends seeded batches; the mutator runs
 * merge-on-read deletes over id ranges that are already committed. Both
 * commit through the same catalog; neither reads between its own ops.
 */
object Ingest {
  val BatchRows = 2000
  val DeleteRows = 50
  val SetupRuns = 3
  val WarmBatches = 3

  /** Live rows as the benchmark expects them. */
  private final class Model {
    private val live = mutable.BitSet()
    private val used = mutable.Set[(Int, Int)]()
    private val batches = mutable.ArrayBuffer[Int]()
    def appended(b: Int): Unit = synchronized {
      (b * BatchRows until (b + 1) * BatchRows).foreach(live += _); batches += b
    }
    def removed(a: Long, b: Long): Unit = synchronized { (a until b).foreach(i => live -= i.toInt) }
    def liveRows: Long = synchronized(live.size.toLong)
    def idSum: Long = synchronized(live.iterator.map(_.toLong).sum)
    /** A fresh id range inside a committed batch. */
    def pickRange(r: SplittableRandom): (Long, Long) = synchronized {
      var slot: (Int, Int) = null
      while (slot == null) {
        val c = (batches(r.nextInt(batches.size)), r.nextInt(BatchRows / DeleteRows))
        if (!used.contains(c)) { used += c; slot = c }
      }
      val a = slot._1.toLong * BatchRows + slot._2 * DeleteRows
      (a, a + DeleteRows)
    }
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tracer = ctx.tracer
    val schema = SparkSchemaConverter.fromSpark(Common.RowType)

    def append(t: Table, model: Model, b: Int): Unit = {
      val df = Common.rowsDF(spark, ctx.seed, (b * BatchRows until (b + 1) * BatchRows).map(_.toLong))
      tracer.span("table", "append")(t.append(df))
      model.appended(b)
    }
    def delete(t: Table, model: Model, range: (Long, Long)): Unit = {
      val (a, b) = range
      tracer.span("table", "deleteWhere") {
        t.deleteWhere(spark, s"id >= $a AND id < $b", Seq(GePred("id", a), LtPred("id", b)))
      }
      model.removed(a, b)
    }

    // set-up: a fresh table, warmed by uncontended appends and one delete
    var cat: Catalog = null
    var model: Model = null
    val setups = (0 until SetupRuns).map { i =>
      Common.deleteTree(ctx.work.resolve(s"ingest-${i - 1}"))
      val t0 = System.nanoTime()
      cat = ctx.catalog(ctx.work.resolve(s"ingest-$i"))
      model = new Model
      val t = cat.createTable("events", schema, properties = Common.MorProps)
      (0 until WarmBatches).foreach(b => append(t, model, b))
      delete(t, model, model.pickRange(new SplittableRandom(ctx.seed)))
      Common.ms(t0) / 1000.0
    }

    val appendMs = mutable.ArrayBuffer[Double]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    var appendsAttempted, appendsFailed, appendsLate = 0
    var rowsCommitted = 0L
    val deleteMs = mutable.ArrayBuffer[Double]()
    @volatile var deletesCommitted, deletesConflicted, deletesErrored = 0
    @volatile var mutatorBusy = true
    // ends of the last counted append and of the last delete: the rates
    // divide by the time their operations took, not by the nominal window
    var lastAppendEnd, lastDeleteEnd = 0L

    ctx.openWindow()
    val opened = System.nanoTime()
    val deadline = opened + ctx.seconds * 1000000000L
    val mutator = new Thread(() => {
      val t = cat.loadTable("events")
      val r = new SplittableRandom(ctx.seed + 1)
      try while (System.nanoTime() < deadline) {
        val range = model.pickRange(r)
        val t0 = System.nanoTime()
        try {
          ctx.clientOp(tracer.op("delete")(delete(t, model, range)))
          deletesCommitted += 1
        } catch {
          case _: CommitConflictError => deletesConflicted += 1
          case NonFatal(e) => deletesErrored += 1; errors.add(s"delete $range: $e")
        }
        deleteMs += Common.ms(t0)
        lastDeleteEnd = System.nanoTime()
      } finally mutatorBusy = false
    }, "perfbench-mutator")
    mutator.start()
    // the appender keeps the contention on until the mutator's last delete
    // has finished; only appends that started inside the window count
    val t = cat.loadTable("events")
    var b = WarmBatches
    while (System.nanoTime() < deadline || mutatorBusy) {
      val t0 = System.nanoTime()
      val inWindow = t0 < deadline
      try {
        ctx.clientOp(tracer.op("append")(append(t, model, b)))
        if (inWindow) { appendMs += Common.ms(t0); rowsCommitted += BatchRows } else appendsLate += 1
      } catch {
        case NonFatal(e) =>
          if (inWindow) appendsFailed += 1
          errors.add(s"append $b: $e")
      }
      if (inWindow) { appendsAttempted += 1; lastAppendEnd = System.nanoTime() }
      b += 1
    }
    mutator.join()
    ctx.closeWindow()

    // output checks: live rows against the model, monotone sequence numbers
    val check = cat.loadTable("events")
    val agg = check.toDF(spark).agg(count(lit(1)), sum("id")).head()
    val checkErrors = mutable.ArrayBuffer[String]()
    if (agg.getLong(0) != model.liveRows)
      checkErrors += s"live rows ${agg.getLong(0)} != model ${model.liveRows}"
    if (agg.getLong(0) > 0 && agg.getLong(1) != model.idSum)
      checkErrors += s"id sum ${agg.getLong(1)} != model ${model.idSum}"
    checkErrors ++= Common.sequenceErrors(check)
    if (appendMs.isEmpty) checkErrors += "no append completed inside the window"

    val storedBytes = Common.listing(check).map(_._2).sum.toDouble
    val deletesTried = deletesCommitted + deletesConflicted + deletesErrored
    val tail = Stats.tail(appendMs.toSeq)
    val appendS = math.max(1, lastAppendEnd - opened) / 1e9
    val deleteS = math.max(1, lastDeleteEnd - opened) / 1e9
    Outcome(
      setupS = setups,
      cycleP50Ms = Stats.median(appendMs.toSeq),
      cycles = appendMs.size + appendsLate,
      attempted = appendsAttempted,
      failed = appendsFailed,
      errors = errors.asScala.toSeq ++ checkErrors,
      named = Seq(
        ("append_p50_ms", Stats.median(appendMs.toSeq), "ms"),
        ("append_tail_ms", tail.map(_._2).getOrElse(0.0), "ms"),
        ("ingest_rows_per_s", rowsCommitted / appendS, "rows/s"),
        ("deletes_committed_per_min", deletesCommitted * 60.0 / deleteS, "1/min"),
        ("stored_bytes_per_row", storedBytes / math.max(1L, model.liveRows), "B/row"),
        ("failed_ratio", (appendsFailed + deletesConflicted + deletesErrored).toDouble /
          math.max(1, appendsAttempted + deletesTried), "ratio")),
      layers = Common.tableState(check),
      notes = Seq(
        "append_tail" -> tail.map { case (p, _) => s"p${p.toInt} of ${appendMs.size} appends" }
          .getOrElse(s"fewer than 20 appends (${appendMs.size})"),
        "deletes" -> (s"$deletesTried attempted, $deletesCommitted committed, " +
          s"$deletesConflicted failed on commit conflicts, $deletesErrored other errors"),
        "delete_p50_ms" -> f"${Stats.median(deleteMs.toSeq)}%.1f",
        "appends_after_window" -> appendsLate.toString,
        "rate_windows_s" -> f"appends $appendS%.2f, deletes $deleteS%.2f",
        "live_rows" -> model.liveRows.toString))
  }
}

/**
 * `mor_read`: one reader over three kinds of table, no commits. A table
 * fragmented by micro-appends and merge-on-read deletes, a compacted copy
 * of the same rows, and small sibling tables in the same namespace (which
 * the reference-parity SQL wrapper loads on every call).
 */
object MorRead {
  val Appends = 16
  val BatchRows = 2000
  val DeleteEvery = 4
  val Siblings = 20
  // a cycle takes 3-4 s, so a 10 s window runs four on most hosts
  val MinRounds = 4
  val Reads = Seq("scan_mor", "sql_mor", "scan_clean", "sql_clean", "graftsql")

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tracer = ctx.tracer
    val schema = SparkSchemaConverter.fromSpark(Common.RowType)
    val rnd = new SplittableRandom(ctx.seed)
    // distinct residues, so every delete removes rows no earlier one did
    val residues = new scala.util.Random(ctx.seed)
      .shuffle((0 until 97).toList).take(Appends / DeleteEvery)
    // the model: every appended id but those a later delete removed
    val liveIds = (0 until Appends * BatchRows).filterNot { id =>
      residues.zipWithIndex.exists { case (r, j) =>
        id % 97 == r && id < (j + 1) * DeleteEvery * BatchRows
      }
    }.toArray

    val t0 = System.nanoTime()
    val cat = ctx.catalog(ctx.work.resolve("mor"))
    def buildFrag(): Unit = {
      val frag = cat.createTable("frag", schema, properties = Common.MorProps)
      (0 until Appends).foreach { a =>
        frag.append(Common.rowsDF(spark, ctx.seed, (a * BatchRows until (a + 1) * BatchRows).map(_.toLong)))
        if ((a + 1) % DeleteEvery == 0)
          frag.deleteWhere(spark, s"id % 97 = ${residues((a + 1) / DeleteEvery - 1)}")
      }
    }
    def build(name: String, seed: Long, ids: Seq[Long]): Unit =
      cat.createTable(name, schema).append(Common.rowsDF(spark, seed, ids))
    // the tables are independent, so they are built side by side
    Common.inParallel[() => Unit](
      Seq(() => buildFrag(), () => build("clean", ctx.seed, liveIds.map(_.toLong).toSeq)) ++
        (0 until Siblings).map(i => () => build(f"sib_$i%02d", ctx.seed + i + 1, 0L until 10L)))(_())
    GraftSparkCatalog.register(spark, "pb", cat)

    // the model's answer for the grouped count: k -> (rows, sum of ids)
    val expected: Map[Int, (Long, Long)] = liveIds.toSeq
      .groupBy(id => Common.row(ctx.seed, id).getInt(1))
      .map { case (k, ids) => k -> (ids.size.toLong, ids.map(_.toLong).sum) }

    val errors = mutable.ArrayBuffer[String]()
    def checkAgg(read: String, rows: Array[Row]): Unit = {
      val got = rows.map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      if (got != expected)
        errors += s"$read: grouped count differs from the model " +
          s"(${got.size} groups, ${got.values.map(_._1).sum} rows; expected ${expected.size}, ${liveIds.length})"
    }
    def aggregate(df: DataFrame): DataFrame =
      df.groupBy("k").agg(count(lit(1)).as("n"), sum("id").as("s"))

    def read(name: String): Double = {
      val started = System.nanoTime()
      name match {
        case "scan_mor" | "scan_clean" =>
          val tname = if (name == "scan_mor") "frag" else "clean"
          val rows = tracer.op(name) {
            val t = cat.loadTable(tname)
            val df = tracer.span("table", "toDF")(t.scan().toDF(spark))
            aggregate(df).collect()
          }
          val took = Common.ms(started)
          checkAgg(name, rows)
          took
        case "sql_mor" | "sql_clean" =>
          val tname = if (name == "sql_mor") "frag" else "clean"
          val rows = tracer.op(name) {
            spark.sql(s"SELECT k, count(*) AS n, sum(id) AS s FROM pb.default.$tname GROUP BY k").collect()
          }
          val took = Common.ms(started)
          checkAgg(name, rows)
          took
        case "graftsql" =>
          val id = liveIds(rnd.nextInt(liveIds.length)).toLong
          val res = tracer.op(name) {
            tracer.span("sql", "catalog.sql") {
              cat.sql(spark, "SELECT id, k, v FROM clean WHERE id = $1", Seq(id))
            }
          }
          val took = Common.ms(started)
          if (tracer.measuring) tracer.count("graftsql.result_rows", res.rows.size)
          val want = Common.row(ctx.seed, id)
          val got = res.rows.map(_.map(v => v: Any))
          if (got != Seq(Seq[Any](want.getLong(0), want.getInt(1), want.getDouble(2))))
            errors += s"graftsql: lookup of id $id returned $got"
          took
      }
    }

    // warm-up: one cycle through every read type
    val built = System.nanoTime()
    val order = new scala.util.Random(ctx.seed)
    order.shuffle(Reads).foreach(read)
    val setupS = Common.ms(t0) / 1000.0
    val warmS = Common.ms(built) / 1000.0

    val loop = Common.closedLoop(ctx, Reads, order, MinRounds)(read)
    errors ++= loop.errors

    val tempViews = spark.catalog.listTables().collect().count(_.isTemporary)
    val fragNow = cat.loadTable("frag")
    Outcome(
      setupS = Seq(setupS),
      cycleP50Ms = loop.cycleP50Ms,
      cycles = loop.cycles,
      cycleCpuMs = loop.roundCpuMs,
      attempted = loop.attempted,
      failed = loop.failed,
      errors = errors.distinct.toSeq,
      named = Reads.map(r => (s"${r}_p50_ms", loop.p50(r), "ms")) :+
        (("failed_ratio", loop.failed.toDouble / math.max(1, loop.attempted), "ratio")),
      layers = Common.tableState(fragNow) ++ Common.planState(fragNow) :+
        ("sql.temp_views" -> tempViews.toDouble),
      notes = Seq(
        "tables" -> (s"frag $Appends appends + ${Appends / DeleteEvery} deletes, " +
          s"clean 1 file, $Siblings siblings; ${liveIds.length} live rows"),
        "namespace_tables" -> cat.listTables(Some(cat.defaultNamespace)).size.toString,
        "warm_up_s" -> f"$warmS%.2f of the set-up"))
  }
}

/**
 * `llm_ops`: one client running passes over a fixed set of the operator
 * queries on the seeded parquet inputs, each written to Spark's `noop`
 * sink. The warm-up pass writes every result once for the oracle check.
 */
object LlmOps {
  val Queries = Seq("q03_join_agg", "q05_multi_join", "d34_minhash_pairs", "e38_knn_lsh",
    "d76_bm25_topk", "d78_pagerank", "d101_label_propagation", "d114_tokenizer_fertility",
    "s45_stream_roundtrip")

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val all = graft.SparkEntry.queries
    val order = new scala.util.Random(ctx.seed)
    val checkDir = ctx.work.resolve("check")
    Files.createDirectories(checkDir)
    val errors = mutable.ArrayBuffer[String]()

    // set-up: the warm-up pass, whose results the oracle check reads
    val t0 = System.nanoTime()
    Common.inParallel(order.shuffle(Queries)) { q =>
      try all(q)(spark, ctx.dataDir).coalesce(1).write.mode("overwrite")
        .parquet(checkDir.resolve(q).toString)
      catch { case NonFatal(e) => errors.synchronized(errors += s"$q (warm-up): $e") }
    }
    val setupS = Common.ms(t0) / 1000.0
    Files.writeString(checkDir.resolve("oracle_sql.json"),
      Json.render(Queries.flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> _)).toMap))

    val loop = Common.closedLoop(ctx, Queries, order) { q =>
      val q0 = System.nanoTime()
      ctx.tracer.op(q)(all(q)(spark, ctx.dataDir).write.format("noop").mode("overwrite").save())
      Common.ms(q0)
    }

    Outcome(
      setupS = Seq(setupS),
      cycleP50Ms = loop.cycleP50Ms,
      cycles = loop.cycles,
      cycleCpuMs = loop.roundCpuMs,
      attempted = loop.attempted,
      failed = loop.failed,
      errors = (errors ++ loop.errors).distinct.toSeq,
      named = Seq(
        ("ops_pass_p50_s", loop.cycleP50Ms / 1000.0, "s"),
        ("failed_ratio", loop.failed.toDouble / math.max(1, loop.attempted), "ratio")),
      layers = Queries.map(q => s"ops.${q}_s" -> loop.p50(q) / 1000.0),
      notes = Seq("passes" -> f"${loop.cycles}%.2f"))
  }
}
